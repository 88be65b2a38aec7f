package graft

import graft.runtime.{Session, StageMetricsListener}

/** One pipeline run under whatever --master spark-submit supplies
  * (`local[SPARK_GRAFT_CPUS]` without one, `runtime.Session`) — built
  * for `local-cluster[N, cores, mem]`, Spark's real-multi-executor local
  * mode (separate executor JVMs, netty shuffle), which is the closest this
  * sandbox gets to the BASELINE.json criterion "N and 4N EXECUTORS":
  * thread-scaling inside one JVM under-states true cluster scaling
  * because all threads share one heap, allocator and GC.
  * `scripts/cluster_pairs.sh` drives the N/4N pairs.
  *
  * Usage (interleave pairs in a driving script, >= 3 per config):
  *   SPARK_HOME=/opt/spark spark-submit \
  *     --master 'local-cluster[2,4,8192]' \
  *     --class graft.ClusterScalingBench <graft.jar> 250000
  *   ... then the same with --master 'local-cluster[8,4,8192]'.
  *
  * Emits one JSON line with wall seconds, executor-CPU seconds, total
  * cores, turns and candidate pairs. Shuffle partitions follow the same
  * rule at every size: 2 x total cores (AQE coalesces back down).
  */
object ClusterScalingBench {

  def main(args: Array[String]): Unit = {
    val nConvIds = args.headOption.map(_.toLong).getOrElse(100000L)
    // DISK GUARD (VERDICT r4 #2): the round-4 2M-conv run died on "No space
    // left on device" after shuffle spill filled the root disk. Fail fast
    // with a clear message when scratch headroom is below the floor, and log
    // the measured headroom in every run so the guard is auditable.
    val scratch = new java.io.File(
      sys.props.get("spark.local.dir").orElse(sys.env.get("SPARK_LOCAL_DIRS"))
        .getOrElse("/tmp"))
    val freeGb = scratch.getUsableSpace / (1024.0 * 1024 * 1024)
    val minFreeGb = sys.env.getOrElse("SPARK_GRAFT_MIN_FREE_GB", "40").toDouble
    println(f"[cluster-bench] disk guard: ${scratch.getPath} free=$freeGb%.1f GiB (floor $minFreeGb%.0f GiB)")
    if (freeGb < minFreeGb) {
      System.err.println(
        f"[cluster-bench] ABORT: only $freeGb%.1f GiB free on ${scratch.getPath} " +
          f"(< $minFreeGb%.0f GiB floor) — clean /opt/spark/work and spark scratch dirs " +
          "before launching, or lower SPARK_GRAFT_MIN_FREE_GB")
      sys.exit(2)
    }
    val spark = Session.builder("graft-cluster-scaling", Session.cpus)
      // wait for the FULL cluster before scheduling: standalone defaults to
      // scheduling on the first registered executor, so the cached input
      // lands lopsided on the early JVMs and locality pins every downstream
      // stage there — measured 11.5/32 busy cores at 4N before this
      .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
      .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
      // benchmark boxes have uniform storage: waiting 3 s per task batch
      // for locality only serialises small stages
      .config("spark.locality.wait", "0s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // total cores from the master URL, NOT defaultParallelism: the latter
    // reads the core count of executors registered SO FAR, which at session
    // startup is 0-2 and would cripple shuffle fan-out for the whole run
    val master = spark.sparkContext.master
    val cores = "local-cluster\\[(\\d+),\\s*(\\d+)".r.findFirstMatchIn(master)
      .map(m => m.group(1).toInt * m.group(2).toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    // shuffle partitions scale with INPUT, floored at 2x cores: a fixed
    // cores*2 put 125k conversations (1-2 GB of collect_list state) in one
    // reducer partition at 2M convs and OOM'd the 8g executors; ~10k convs
    // per partition bounds reducer state at any size, and AQE coalesces
    // the small stages back down. Same rule a real 100-TB job uses.
    val shufflePartitions = math.max(cores * 2, (nConvIds / 10000L).toInt)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    val metrics = new StageMetricsListener
    spark.sparkContext.addSparkListener(metrics)

    val turns = graft.ingest.TranscriptGen.turnsDF(spark, nConvIds)
      .repartition(math.max(cores, (nConvIds / 20000L).toInt)).cache()
    val nTurns = turns.count()
    val cpu0 = metrics.cpuNanos // exclude input generation

    // Steal probes bracket every timed section (same xorshift workload and
    // rationale as graft.Bench): on this shared host, identical sections
    // have measured 3-10x apart minutes later, so a leg whose probes blow
    // past ~1.5x the quiet floor is not comparable evidence. All probes
    // land in the JSON for audit.
    val probes = scala.collection.mutable.ArrayBuffer[Double]()
    def probe(): Unit = probes += Bench.probeMs()

    // Per-section walls (VERDICT r4: attribute composed-scaling shortfall).
    // IMPORTANT attribution caveat: Pipeline.run stages via LAZY
    // localCheckpoints, but the CLUSTERS stage runs EAGERLY inside
    // Pipeline.run — ConnectedComponents.run's convergence signature is a
    // driver action that transitively forces the scored stage. So the
    // honest section semantics (also true of every committed campaign
    // JSON) are:
    //   sec_core     = signatures + cascade + blocking + SCORING + CC
    //                  (everything except refine — named for what it
    //                  times, VERDICT r5 #5; campaign JSONs before r6
    //                  carry the same number as "sec_pairs")
    //   sec_refined  = refine pass alone: `refined` is computed on its
    //                  first read (earlier JSONs ran its shuffle map
    //                  stages in sec_core)
    //   sec_clusters = a distinct-count over the already-computed
    //                  assignment (cheap by construction)
    // The scoring share of sec_core is measured independently below
    // (score_secs, on the materialised pairs); CC's share is bounded by
    // the driver-finish path (~1-2 s at these sizes).
    probe()
    val t0 = System.nanoTime()
    // this bench submits with --driver-memory 8g, so the exact driver-side
    // CC finish is safe well beyond the conservative 1g-driver default gate
    // (Pipeline.Config doc); 5M edges ~ 1 GB of driver heap
    val res = Pipeline.run(spark, turns,
      Pipeline.Config(ccDriverFinishMaxEdges = 5000000L))
    val nPairs = res.pairs.count()
    val secPairs = (System.nanoTime() - t0) / 1e9
    probe()
    val t1 = System.nanoTime()
    res.refined.count()
    val secRefined = (System.nanoTime() - t1) / 1e9
    probe()
    val t2 = System.nanoTime()
    res.clusters.select("cluster_id").distinct().count()
    val secClusters = (System.nanoTime() - t2) / 1e9
    probe()
    // composed wall = pipeline work only: the two inter-section probes run
    // inside the t0 window, so summing the sections (rather than reading
    // the clock here) keeps ~0.35 s of probe work — ~1 s+ under steal —
    // out of the headline number
    val wall = secPairs + secRefined + secClusters
    val cpuSec = (metrics.cpuNanos - cpu0) / 1e9

    // BASELINE.json's scaled throughput IS candidate-pairs-scored/sec: time
    // the isolated scoring surface (feature-attach joins + codegen'd
    // Fellegi-Sunter projection over the materialised pairs — the compute-
    // bound kernel that dominates at the 10^12-turn target). 2 reps, best
    // kept (first rep includes per-JVM codegen compilation).
    val scoreSecs = (1 to 2).map { _ =>
      probe()
      val s0 = System.nanoTime()
      Pipeline.scorePairs(res.signatures, res.signatures, res.pairs, 1e-6)
        .agg(org.apache.spark.sql.functions.sum("match_weight")).collect()
      (System.nanoTime() - s0) / 1e9
    }
    val scoreSec = scoreSecs.min

    // Pure scoring KERNEL: features pre-attached and cached, so the timed
    // job is the codegen'd Fellegi-Sunter projection alone — zero shuffle,
    // embarrassingly parallel. Separating it from the attach-join variant
    // above attributes any composed-job scaling shortfall to shuffle at
    // test scale rather than to the scoring operator.
    // Fat pairs are BIG (two turn_texts arrays + two TF hist maps per row):
    // partition cores*8 so per-task deserialized batches stay small on the
    // N-config's 2x8g executors (cores*2 OOM'd them at 477k pairs), and
    // never let a kernel-section failure eat the composed-run JSON.
    val pureSecs =
      try {
        // partitions scale with PAIR COUNT (a fat pair row is ~10-30 KB, so
        // ~5k pairs/partition keeps deserialized batches well under task
        // memory at any input size), floored at cores*8 for parallelism.
        // Built INSIDE the try: DataFrame transformations analyse eagerly,
        // so a schema-drift failure in attachScoreCols would otherwise
        // throw before the try and eat the composed-run JSON.
        val fat = Pipeline.attachScoreCols(res.signatures, res.signatures, res.pairs)
          .repartition(math.max(cores * 8, (nPairs / 5000L).toInt))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          fat.count()
          (1 to 2).map { _ =>
            probe()
            val s0 = System.nanoTime()
            graft.score.Scoring.scoreDefault(fat, 1e-6)
              .agg(org.apache.spark.sql.functions.sum("match_weight")).collect()
            (System.nanoTime() - s0) / 1e9
          }
        } finally {
          // guarantees the MEMORY_AND_DISK frame is never left pinned
          fat.unpersist()
        }
      } catch {
        case e: Throwable =>
          // full toString + trimmed stack (not just getMessage — ADVICE r4:
          // novel failures were losing their stack)
          System.err.println(s"[cluster-bench] pure-kernel section failed: $e")
          e.getStackTrace.take(12).foreach(f => System.err.println(s"    at $f"))
          Seq(-1.0)
      }
    val pureSec = if (pureSecs.exists(_ > 0)) pureSecs.filter(_ > 0).min else -1.0
    probe()
    val probesJson = probes.map(p => f"$p%.0f").mkString("[", ",", "]")
    println(
      f"""{"bench":"cluster_scaling","master":"${spark.sparkContext.master}","total_cores":$cores,"n_conv_ids":$nConvIds,"turns":$nTurns,"candidate_pairs":$nPairs,"wall_sec":$wall%.2f,"cpu_sec":$cpuSec%.2f,"turns_per_sec":${nTurns / wall}%.1f,"busy_cores":${cpuSec / wall}%.2f,"sec_core":$secPairs%.2f,"sec_refined":$secRefined%.2f,"sec_clusters":$secClusters%.2f,"score_secs":[${scoreSecs.map(s => f"$s%.2f").mkString(",")}],"pairs_scored_per_sec":${nPairs / scoreSec}%.1f,"pure_score_secs":[${pureSecs.map(s => f"$s%.2f").mkString(",")}],"pure_pairs_scored_per_sec":${if (pureSec > 0) nPairs / pureSec else -1.0}%.1f,"probe_ms":$probesJson}""")
    spark.stop()
  }
}
