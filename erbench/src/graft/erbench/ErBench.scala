package graft.erbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark entry point for the ER pipeline: one JVM, `local[4]`, one workload.
  *
  *   ErBench --workload <dedup|link|dedup_hot> --seed N --seconds S --trace 0|1 --work DIR
  *
  * A run prints one line per call and, last, `RESULT <json>` with the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  * Exit code 1 when any call fails or fails an output check.
  */
object ErBench {

  val Cores = 4
  val SetupRepeats = 3
  val MaxSettleS = 8.0

  final case class CallStats(
      kind: String, wall: Double, taskCpu: Double, procCpu: Double, jit: Double, gc: Double,
      codegens: Long)

  private def codegens: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val mx = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def procCpuS: Double = mx.getProcessCpuTime / 1e9
  private def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def procStatus(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Host-wide steal ticks from /proc/stat (the 8th cpu field). */
  private def stealTicks: Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)

  private def load1: Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  private def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val code = try run(workload, seed, seconds, trace, work) finally deleteTree(work.resolve("data"))
    sys.exit(code)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path): Int = {
    val steal0 = stealTicks
    val load0 = load1
    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$Cores]").appName("erbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val listener = new TaskListener(sc)
    sc.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    // Set-up: generate and materialise the inputs several times; report
    // session start plus the median, and keep the last copy.
    val data = work.resolve("data")
    var prepared: Prepared = null
    val prepS = (1 to SetupRepeats).map { i =>
      val s = System.nanoTime()
      prepared = Workloads.prepare(spark, workload, seed, data.resolve(s"input$i").toString)
      (System.nanoTime() - s) / 1e9
    }
    val setupS = sessionS + median(prepS)
    println(f"setup session=$sessionS%.3fs prepare=${prepS.map(x => f"$x%.3f").mkString(",")}s")

    val (fa, fb) = prepared.fingerprintCols
    val checkpointed = workload == "dedup"
    var callNo = 0
    var failures = Vector.empty[String]
    var failedCalls = 0
    var reference: Option[(Fingerprint, (Double, Double))] = None
    val stats = Vector.newBuilder[CallStats]
    var lastTraced: Option[(Tracer, Span, CallOut, Double)] = None
    var coldJitS = 0.0

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      deleteTree(data.resolve("ckpt"))
    }

    /** Waits (at most `MaxSettleS`) until background JIT compilation left
      * over from the last call has stopped, so the next timed call does not
      * share the cores with it. Returns the seconds waited.
      */
    def settle(): Double = {
      val start = System.nanoTime()
      var last = jitS
      var quiet = 0
      while (quiet < 3 && (System.nanoTime() - start) / 1e9 < MaxSettleS) {
        Thread.sleep(200)
        val now = jitS
        quiet = if (now - last < 0.01) quiet + 1 else 0
        last = now
      }
      (System.nanoTime() - start) / 1e9
    }

    /** One call; false when it failed. */
    def call(kind: String, traced: Boolean): Boolean = {
      callNo += 1
      val settled = if (callNo > 1) settle() else 0.0
      val ckptDir = if (checkpointed) Some(data.resolve("ckpt").toString) else None
      listener.drain()
      val cpu0 = listener.totals(_ => true).cpuNs
      val (p0, j0, g0, c0) = (procCpuS, jitS, gcS, codegens)
      val start = System.nanoTime()
      try {
        val tracer = new Tracer(sc)
        val (out, fp) =
          if (!traced) {
            sc.setJobDescription(s"call-$callNo")
            val out = prepared.run(ckptDir)
            (out, Workloads.fingerprint(out.result, fa, fb))
          } else tracer.span(callNo, "call") { _ =>
            val out = prepared.traced(ckptDir, new Layer {
              def apply(name: String, barrier: Boolean)(body: => DataFrame): DataFrame = {
                val (span, df) = tracer.span(callNo, name) { s =>
                  (s, if (barrier) body.localCheckpoint(true) else body)
                }
                span.rowsOut = df.count()
                df
              }
            })
            (out, Workloads.fingerprint(out.result, fa, fb))
          }
        val wall = (System.nanoTime() - start) / 1e9
        sc.setJobDescription(null)
        listener.drain()
        val cs = CallStats(kind, wall, (listener.totals(_ => true).cpuNs - cpu0) / 1e9,
          procCpuS - p0, jitS - j0, gcS - g0, codegens - c0)
        stats += cs
        if (kind == "cold") coldJitS = cs.jit
        val checkStart = System.nanoTime()
        val bad = prepared.violations(out, fp)
        val q = prepared.quality(out)
        val problems = bad ++ (reference match {
          case None => reference = Some((fp, q)); Nil
          case Some((rfp, rq)) =>
            (if (rfp != fp) Seq(s"fingerprint $fp differs from call 1's $rfp") else Nil) ++
              (if (rq != q) Seq(s"(f1, f1_blocked) $q differs from call 1's $rq") else Nil)
        })
        println(f"call $callNo%2d $kind%-7s wall=${cs.wall}%.3fs task_cpu=${cs.taskCpu}%.3fs " +
          f"proc_cpu=${cs.procCpu}%.3fs jit=${cs.jit}%.3fs gc=${cs.gc}%.3fs codegens=${cs.codegens} " +
          f"rows=${fp.rows} hash=${fp.hash} f1=${q._1}%.6f f1_blocked=${q._2}%.6f " +
          f"checks=${(System.nanoTime() - checkStart) / 1e9}%.3fs settled=$settled%.1fs")
        if (traced) lastTraced = Some((tracer, tracer.spans.head, out, wall))
        else cleanup()
        problems.foreach(m => println(s"call $callNo FAILED CHECK: $m"))
        failures ++= problems.map(m => s"call $callNo: $m")
        if (problems.nonEmpty) failedCalls += 1
        problems.isEmpty
      } catch {
        case e: Exception =>
          sc.setJobDescription(null)
          println(s"call $callNo FAILED: $e")
          e.printStackTrace()
          failures :+= s"call $callNo: $e"
          failedCalls += 1
          false
      }
    }

    // The cold call, then steady calls until `seconds` have passed (at
    // least one); a traced run ends with one traced call.
    var ok = call("cold", traced = false)
    val steadyStart = System.nanoTime()
    var nSteady = 0
    while (ok && (nSteady == 0 || (System.nanoTime() - steadyStart) / 1e9 < seconds)) {
      ok = call("steady", traced = false); nSteady += 1
    }
    if (trace && ok) ok = call("traced", traced = true)

    val all = stats.result()
    val steady = all.filter(_.kind == "steady")
    val warmS = median(steady.map(_.wall))
    val attempted = callNo
    val failed = failedCalls
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("cold_s", all.headOption.map(_.wall).getOrElse(Double.NaN), "s"),
        ("warm_s", warmS, "s"),
        ("cpu_s", median(steady.map(_.taskCpu)), "s"),
        ("peak_rss_mb", procStatus("VmHWM"), "MB"),
        ("f1", reference.map(_._2._1).getOrElse(Double.NaN), "ratio"),
        ("f1_blocked", reference.map(_._2._2).getOrElse(Double.NaN), "ratio"))
      else lastTraced.map { case (tracer, root, out, wall) =>
        LayerTable.metrics(spark, tracer, listener, root, out, prepared, wall, warmS)
      }.getOrElse(Nil) ++ Seq(
        ("jvm.jit_s", coldJitS, "s"),
        ("jvm.gc_s", median(steady.map(_.gc)), "s"),
        ("jvm.codegen_compiles", median(steady.map(_.codegens.toDouble)), "count"),
        ("jvm.process_cpu_s", median(steady.map(_.procCpu)), "s"),
        ("host.steal_ticks", (stealTicks - steal0).toDouble, "count"),
        ("host.load1", load0, "count"))

    lastTraced.foreach { case (tracer, _, _, _) =>
      Files.writeString(work.resolve(s"spans-$workload-$seed.json"), tracer.toJson)
    }
    println(f"diag steal_ticks=${stealTicks - steal0} load1=$load0%.2f " +
      f"jit_total=$jitS%.2fs gc_total=$gcS%.2fs proc_cpu_total=$procCpuS%.2fs " +
      f"failed_frac=${failed.toDouble / attempted}%.3f")
    val correct = failures.isEmpty
    val json = metrics.map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")
    println("RESULT " + json)
    spark.stop()
    if (correct) 0 else 1
  }
}
