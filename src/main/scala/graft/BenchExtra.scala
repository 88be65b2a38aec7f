package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.runtime.{Session, StageMetricsListener}

/** Optimization-round probe harness (guide §1.4): times sub-pieces of the
  * expensive declared queries in isolation with the noop sink (so the
  * computation is measured, not the count/collect), labels each job, and
  * can dump formatted plans for the plans/r06 audit trail.
  *
  * NOT part of the driver contract — `graft.Bench` is the frozen
  * measurement surface; this main exists so OPTIMIZATION_r06.md numbers are
  * reproducible. Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchExtra [plansDir]"
  * SPARK_GRAFT_EXTRA_SECTIONS (comma list, default
  * "q19b,q17,q29,q26,q35,q20,misc") picks the sections. The q14 shape A/B
  * is not in the default set: run it with SPARK_GRAFT_EXTRA_SECTIONS=q14ab,
  * and set SPARK_GRAFT_Q14_ORDER (default "plain,fanout,barrier") to
  * measure the variants in both orders.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val plansDir = args.headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    val spark = Session.builder("graft-bench-extra", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler", org.apache.logging.log4j.Level.FATAL)

    val metrics = new StageMetricsListener
    spark.sparkContext.addSparkListener(metrics)

    /** noop-sink timing, `reps` times; prints every rep (first is warm-up).
      * The DataFrame is BUILT inside the timed region: query fns that use
      * lazy localCheckpoint stage boundaries run their non-final AQE stages
      * eagerly at build time, so excluding the build would under-report
      * (and the frozen Bench times fn invocation too).
      */
    def timeNoop(name: String, reps: Int = 3)(mk: => DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        spark.sparkContext.setJobDescription(name)
        val s0 = metrics.stageCount
        val t0 = System.nanoTime()
        val df = mk
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        (sec, metrics.stageCount - s0)
      }
      spark.sparkContext.setJobDescription(null)
      println(f"[extra] $name%-28s ${times.map(t => f"${t._1}%7.2f").mkString(" ")}" +
        f"  stages=${times.map(_._2).mkString("/")}")
    }

    /** arbitrary action timing (for code paths that run eager driver work). */
    def timeAct(name: String, reps: Int = 3)(f: => Long): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[extra] $name%-28s ${times.map(t => f"${t._1}%7.2f").mkString(" ")}" +
        s"  n=${times.head._2}")
    }

    def dumpPlan(name: String, df: DataFrame): Unit = plansDir.foreach { dir =>
      new File(dir).mkdirs()
      val pw = new PrintWriter(new File(s"$dir/$name.txt"))
      pw.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      pw.close()
    }

    val sections = sys.env.getOrElse("SPARK_GRAFT_EXTRA_SECTIONS",
      "q19b,q17,q29,q26,q35,q20,misc").split(",").map(_.trim).toSet

    import graft.queries.DedupQueries.{LshK, LshBands, LshRows}

    // ---- q19b pieces --------------------------------------------------
    def withSh = graft.queries.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), array_distinct(wordNgrams(tokens(col("text")), 3)).as("shingles"))
    def sig = minhashAggregate(withSh, "doc_id", col("shingles"), LshK, portable = true)
      .select(col("doc_id"), minhashBandKeys(col("minhash_sig"), LshBands, LshRows).as("bands"))
    def exploded = sig.select(col("doc_id"), explode(col("bands")).as("band_key"))
    def cand = exploded.as("l").join(exploded.as("r"),
        col("l.band_key") === col("r.band_key") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_id_l"), col("r.doc_id").as("doc_id_r"))
      .distinct()

    if (sections("q19b")) {
      timeNoop("q19b.shingles")(withSh)
      timeNoop("q19b.sig")(sig)
      timeNoop("q19b.cand")(cand)
      timeNoop("q19b.full")(graft.queries.DedupQueries.q19bDef.fn(spark, sfDir))
      timeAct("q19b.count") {
        graft.queries.DedupQueries.q19bDef.fn(spark, sfDir).count()
      }
      dumpPlan("q19b_lsh_jaccard", graft.queries.DedupQueries.q19bDef.fn(spark, sfDir))
    }

    if (sections("q17")) {
      import graft.queries.DedupQueries.{MinhashK, Bands, RowsPerBand}
      def q17sig = {
        val d = graft.queries.Tables.load(spark, sfDir, "documents")
        val shingles = array_distinct(wordNgrams(tokens(col("text")), 3))
        minhashAggregate(
          d.select(col("doc_id"), shingles.as("__sh")),
          "doc_id", col("__sh"), MinhashK, portable = true)
          .select(col("doc_id"),
            minhashBandKeys(col("minhash_sig"), Bands, RowsPerBand).as("bands"))
      }
      def q17from(exploded: DataFrame) =
        exploded.as("l").join(exploded.as("r"),
            col("l.band_key") === col("r.band_key") && col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("doc_id_l"), col("r.doc_id").as("doc_id_r"))
          .distinct()
      timeNoop("q17.full")(SparkEntry.queries("q17_minhash_lsh_pairs")(spark, sfDir))
      timeAct("q17.count") {
        SparkEntry.queries("q17_minhash_lsh_pairs")(spark, sfDir).count()
      }
      timeAct("q17.nochk_count") {
        q17from(q17sig.select(col("doc_id"), explode(col("bands")).as("band_key"))).count()
      }
      timeAct("q17.exploded_count") {
        q17sig.select(col("doc_id"), explode(col("bands")).as("band_key"))
          .localCheckpoint(false).count()
      }
      locally {
        val raw = q17sig.select(col("doc_id"), explode(col("bands")).as("band_key"))
        raw.write.format("noop").mode("overwrite").save()
        println("[finalplan q17.exploded_raw]\n" + raw.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      dumpPlan("q17_minhash_lsh_pairs", SparkEntry.queries("q17_minhash_lsh_pairs")(spark, sfDir))
    }

    // ---- q29 pieces ---------------------------------------------------
    if (sections("q29")) {
      val pad = (c: org.apache.spark.sql.Column) => lpad(c.cast("string"), 12, "0")
      def edges = graft.queries.DedupQueries.q19bDef.fn(spark, sfDir)
        .select(pad(col("doc_id_l")).as("src"), pad(col("doc_id_r")).as("dst"))
      timeAct("q29.edges_distinct_count") {
        edges.select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .filter(col("src") =!= col("dst")).distinct().count()
      }
      timeAct("q29.full_count") {
        SparkEntry.queries("q29_connected_components")(spark, sfDir).count()
      }
      dumpPlan("q29_connected_components",
        SparkEntry.queries("q29_connected_components")(spark, sfDir))
    }

    // ---- q26/q27/q28 family ------------------------------------------
    if (sections("q26")) {
      timeNoop("q26.full")(SparkEntry.queries("q26_blocking_pairs")(spark, sfDir))
      timeNoop("q27.full")(SparkEntry.queries("q27_fs_scores")(spark, sfDir))
      timeNoop("q28.full")(SparkEntry.queries("q28_best_match")(spark, sfDir))
      timeNoop("q36.full")(SparkEntry.queries("q36_accuracy_report")(spark, sfDir))
      timeNoop("q37.full")(SparkEntry.queries("q37_nth_fp_example")(spark, sfDir))
      dumpPlan("q26_blocking_pairs", SparkEntry.queries("q26_blocking_pairs")(spark, sfDir))
      dumpPlan("q28_best_match", SparkEntry.queries("q28_best_match")(spark, sfDir))
    }

    if (sections("q35")) {
      timeNoop("q35.full")(SparkEntry.queries("q35_link_merge")(spark, sfDir))
      timeAct("q35.count") {
        SparkEntry.queries("q35_link_merge")(spark, sfDir).count()
      }
      dumpPlan("q35_link_merge", SparkEntry.queries("q35_link_merge")(spark, sfDir))
    }

    if (sections("q20")) {
      timeNoop("q20.full")(SparkEntry.queries("q20_cosine_topk")(spark, sfDir))
      timeNoop("q20c.full")(SparkEntry.queries("q20c_ann_multiband")(spark, sfDir))
      dumpPlan("q20_cosine_topk", SparkEntry.queries("q20_cosine_topk")(spark, sfDir))
    }

    // ---- starRound hub-skew A/B (VERDICT r5 #2): window-min form vs
    // groupBy(min)+join form on (a) a planted hub — one node with `hubDeg`
    // neighbours — and (b) a uniform random graph of the same edge count.
    if (sections("cchub")) {
      import spark.implicits._
      val hubDeg = sys.env.getOrElse("SPARK_GRAFT_HUB_DEG", "1000000").toInt
      def pad(i: org.apache.spark.sql.Column) = lpad(i.cast("string"), 9, "0")
      val hub = spark.range(1, hubDeg.toLong + 1)
        .select(lit("000000000").as("src"), pad(col("id")).as("dst"))
        .repartition(cpus).localCheckpoint(true)
      val uniform = spark.range(0, hubDeg.toLong)
        .select(pad(pmod(xxhash64(col("id")), lit(hubDeg))).as("src"),
          pad(pmod(xxhash64(col("id") + lit(hubDeg)), lit(hubDeg))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(cpus).localCheckpoint(true)
      timeNoop("cchub.hub_window", reps = 3)(
        graft.resolve.ConnectedComponents.starRound(hub))
      timeNoop("cchub.hub_agg", reps = 3)(
        graft.resolve.ConnectedComponents.starRoundAgg(hub))
      timeNoop("cchub.uniform_window", reps = 3)(
        graft.resolve.ConnectedComponents.starRound(uniform))
      timeNoop("cchub.uniform_agg", reps = 3)(
        graft.resolve.ConnectedComponents.starRoundAgg(uniform))
      hub.unpersist(); uniform.unpersist()
    }

    // ---- bulk formatted-plan dump for the plans/r06 audit trail:
    // SPARK_GRAFT_EXTRA_SECTIONS=dump, plansDir arg, optional
    // SPARK_GRAFT_DUMP_SUFFIX=_before/_after appended to file names.
    if (sections("dump")) {
      val suffix = sys.env.getOrElse("SPARK_GRAFT_DUMP_SUFFIX", "")
      val dumpSet = Seq(
        "q01_agg_lineitem", "q12_token_hist", "q13_tf_table", "q14_bigrams_top",
        "q17_minhash_lsh_pairs", "q19b_lsh_jaccard", "q20_cosine_topk",
        "q20b_ann_lsh", "q20c_ann_multiband", "q26_blocking_pairs",
        "q27_fs_scores", "q28_best_match", "q29_connected_components",
        "q34_salted_blocking", "q35_link_merge", "q36_accuracy_report",
        "q37_nth_fp_example", "q38_hist_udaf", "q40_suffix_trie")
      dumpSet.foreach { name =>
        try dumpPlan(name + suffix, SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable => println(s"[extra] dump $name FAILED: ${e.getMessage}") }
      }
      println(s"[extra] dumped ${dumpSet.size} plans")
    }

    // ---- cheap scan->shuffle queries, count action (the frozen Bench's
    // action) — for the scan fan-out A/B (run with SPARK_GRAFT_SCAN_FANOUT
    // =0/1 in matched quiet windows).
    if (sections("cheap")) {
      Seq("q01_agg_lineitem", "q05_topn_per_group", "q06_lead_lag", "q07_cube",
        "q08_setops", "q10_sort_limit", "q24_sessionize", "q25_hourly_agg",
        "q30_grouping_sets", "q16_exact_dedup", "q22_quality", "q39_adjacent_suffix")
        .foreach { name =>
          timeAct(s"cheap.$name", reps = 4) {
            SparkEntry.queries(name)(spark, sfDir).count()
          }
        }
    }

    // ---- q14 shape A/B (count action, matched window): the r5 plain
    // shape vs fan-out-only vs fan-out + pre-explode barrier (the shipped
    // bc591d4 treatment) — q14's HEAD quiet numbers regressed vs the
    // round-start quiet log (1.6 -> 2.7 s), so re-measure the treatment
    // per-shape like a104b9b did for q12/q13.
    if (sections("q14ab")) {
      def q14From(d: DataFrame, barrier: Boolean): DataFrame = {
        val bgArr = d.select(col("lang"), wordNgrams(tokens(col("text")), 2).as("bgs"))
        val src = if (barrier) bgArr.localCheckpoint(false) else bgArr
        val bg = src.select(col("lang"), explode(col("bgs")).as("bigram"))
          .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram").asc)
        bg.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      }
      def plain = graft.queries.Tables.load(spark, sfDir, "documents")
      def fan = graft.queries.Tables.load(spark, sfDir, "documents", fanout = true)
      // run order is JIT-sensitive (later variants inherit C2-compiled
      // shared codegen): make it an env knob and measure both orders
      val order = sys.env.getOrElse("SPARK_GRAFT_Q14_ORDER", "plain,fanout,barrier")
      order.split(",").map(_.trim).foreach {
        case "plain" =>
          timeAct("q14.r5_plain", reps = 4) { q14From(plain, barrier = false).count() }
        case "fanout" =>
          timeAct("q14.fanout_only", reps = 4) { q14From(fan, barrier = false).count() }
        case "barrier" =>
          timeAct("q14.fanout_barrier", reps = 4) { q14From(fan, barrier = true).count() }
        case other => println(s"[extra] unknown q14 variant: $other")
      }
    }

    if (sections("misc")) {
      timeNoop("q14.full")(SparkEntry.queries("q14_bigrams_top")(spark, sfDir))
      timeNoop("q38.full")(SparkEntry.queries("q38_hist_udaf")(spark, sfDir))
      timeNoop("q34.full")(SparkEntry.queries("q34_salted_blocking")(spark, sfDir))
      timeNoop("q40.full")(SparkEntry.queries("q40_suffix_trie")(spark, sfDir))
    }

    spark.stop()
  }
}
