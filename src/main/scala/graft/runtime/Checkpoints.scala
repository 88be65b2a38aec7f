package graft.runtime

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Stage-checkpoint manager: each named stage is committed as a parquet
  * table + a manifest entry; a re-run resumes from the last committed stage
  * (BASELINE.json north_rule "resumable from checkpoint with per-partition
  * lineage + metrics"; reference analogue: temp-table checkpoint
  * materialisation, sql_pipeline/runner.py:471-491).
  *
  * Layout: <dir>/<stage>/ parquet + Spark's _SUCCESS marker;
  *         <dir>/_manifest_<stage>.json per committed stage with rows,
  *         partition count, wall-clock ms and a caller-supplied
  *         FINGERPRINT (config hash). A stage is only reused when both the
  *         _SUCCESS marker exists and the recorded fingerprint matches —
  *         rerunning with a different config against the same checkpointDir
  *         recomputes instead of silently returning stale results.
  *
  * All filesystem access goes through the Hadoop FileSystem API, so
  * checkpoint dirs work on HDFS/S3A exactly as they do on local paths
  * (the spark-submit deployment surface).
  */
final class Checkpoints(spark: SparkSession, dir: String) {

  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  fs.mkdirs(new Path(dir))

  def isCommitted(stage: String): Boolean =
    fs.exists(new Path(s"$dir/$stage/_SUCCESS"))

  private def manifestPath(stage: String) = new Path(s"$dir/_manifest_$stage.json")

  private def readFile(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }

  private def readManifest(stage: String): Option[String] = readFile(manifestPath(stage))

  private def writeManifest(stage: String, json: String): Unit = {
    val out = fs.create(manifestPath(stage), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Fingerprint recorded when the stage was committed (None when the
    * stage has no manifest).
    */
  def committedFingerprint(stage: String): Option[String] =
    readManifest(stage).map { json =>
      "\"fingerprint\":\"([^\"]*)\"".r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse("")
    }

  /** Run (or resume) a stage: reused only when committed AND the recorded
    * fingerprint equals `fingerprint` — a config change invalidates the
    * checkpoint instead of silently serving stale results, and a stage
    * without a manifest (older layout, or deleted) is unverifiable, so it
    * is recomputed.
    *
    * A commit is one job, the write: its row count is observed on the
    * write, and the read-back takes the frame's schema (what inference
    * would return: files read back as nullable), so no inference job runs.
    */
  def stage(name: String, fingerprint: String)(compute: => DataFrame): DataFrame = {
    val path = s"$dir/$name"
    val reusable = isCommitted(name) && committedFingerprint(name).contains(fingerprint)
    if (reusable) {
      spark.read.parquet(path)
    } else {
      val t0 = System.nanoTime()
      val df = compute
      val observed = Observation(name)
      df.observe(observed, count(lit(1)).as("rows")).write.mode("overwrite").parquet(path)
      val committed = spark.read.schema(df.schema).parquet(path)
      val rows = observed.get("rows")
      val parts = committed.rdd.getNumPartitions
      val ms = (System.nanoTime() - t0) / 1000000
      writeManifest(name,
        s"""{"stage":"$name","rows":$rows,"partitions":$parts,"wall_ms":$ms,""" +
          s""""path":"$path","fingerprint":"$fingerprint"}""")
      committed
    }
  }

  /** Attach a caller-supplied JSON sidecar to a stage (e.g. the blocking
    * stage's skew-tier stats) — written as <dir>/_info_<stage>.json so run
    * metrics survive in the checkpoint dir alongside the manifest.
    */
  def writeInfo(stage: String, json: String): Unit = {
    val out = fs.create(new Path(s"$dir/_info_$stage.json"), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readInfo(stage: String): Option[String] = readFile(new Path(s"$dir/_info_$stage.json"))
}
