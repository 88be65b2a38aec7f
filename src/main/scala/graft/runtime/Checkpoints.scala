package graft.runtime

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.NullNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Stage-checkpoint manager: each named stage is committed as a parquet
  * table + a manifest entry; a re-run resumes from the last committed stage
  * (BASELINE.json north_rule "resumable from checkpoint with per-partition
  * lineage + metrics"; reference analogue: temp-table checkpoint
  * materialisation, sql_pipeline/runner.py:471-491).
  *
  * Layout: <dir>/<stage>/ parquet + Spark's _SUCCESS marker;
  *         <dir>/_manifest_<stage>.json per committed stage with rows,
  *         partition count, wall-clock ms, the committed schema, the
  *         stage's caller-supplied `info` and a caller-supplied
  *         FINGERPRINT (config hash). A stage is only reused when the
  *         _SUCCESS marker exists, the recorded fingerprint matches and the
  *         manifest holds the schema — rerunning with a different config
  *         against the same checkpointDir recomputes instead of silently
  *         returning stale results.
  *
  * All filesystem access goes through the Hadoop FileSystem API, so
  * checkpoint dirs work on HDFS/S3A exactly as they do on local paths
  * (the spark-submit deployment surface).
  */
final class Checkpoints(spark: SparkSession, dir: String) {

  private val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  fs.mkdirs(new Path(dir))
  private val json = new ObjectMapper()

  def isCommitted(stage: String): Boolean =
    fs.exists(new Path(s"$dir/$stage/_SUCCESS"))

  private def manifestPath(stage: String) = new Path(s"$dir/_manifest_$stage.json")

  private def manifest(stage: String): Option[JsonNode] = {
    val p = manifestPath(stage)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(json.readTree(in))
      finally in.close()
    }
  }

  /** Fingerprint recorded when the stage was committed (None when the
    * stage has no manifest).
    */
  def committedFingerprint(stage: String): Option[String] =
    manifest(stage).map(_.path("fingerprint").asText())

  /** Run (or resume) a stage: reused only when committed AND the recorded
    * fingerprint equals `fingerprint` — a config change invalidates the
    * checkpoint instead of silently serving stale results, and a stage
    * without a manifest (deleted), or whose manifest holds no schema
    * (older layout), is recomputed.
    *
    * A commit is one job, the write: its row count is observed on the
    * write, and the read-back takes the frame's schema (what inference
    * would return: files read back as nullable). A resume reads with the
    * committed schema. So neither runs an inference job.
    */
  def stage(name: String, fingerprint: String)(compute: => DataFrame): DataFrame =
    stageWithInfo(name, fingerprint)((compute, NullNode.getInstance))._1

  /** `stage`, whose commit also records `info`, a JSON value computed with
    * the frame (e.g. the blocking stage's skew-tier stats); a resumed
    * stage hands back the committed value.
    */
  def stageWithInfo(name: String, fingerprint: String)(
      compute: => (DataFrame, JsonNode)): (DataFrame, JsonNode) = {
    val path = s"$dir/$name"
    val committed = if (!isCommitted(name)) None else manifest(name).filter(m =>
      m.path("fingerprint").asText() == fingerprint && m.has("schema"))
    committed match {
      case Some(m) =>
        val schema = DataType.fromJson(m.get("schema").toString).asInstanceOf[StructType]
        (spark.read.schema(schema).parquet(path), m.get("info"))
      case None =>
        val t0 = System.nanoTime()
        val (df, info) = compute
        val observed = Observation(name)
        df.observe(observed, count(lit(1)).as("rows")).write.mode("overwrite").parquet(path)
        val readBack = spark.read.schema(df.schema).parquet(path)
        val m = json.createObjectNode()
          .put("stage", name)
          .put("rows", observed.get("rows").asInstanceOf[Long])
          .put("partitions", readBack.rdd.getNumPartitions)
          .put("wall_ms", (System.nanoTime() - t0) / 1000000)
          .put("path", path)
          .put("fingerprint", fingerprint)
        m.set[JsonNode]("schema", json.readTree(readBack.schema.json))
        m.set[JsonNode]("info", info)
        val out = fs.create(manifestPath(name), true)
        try out.write(json.writeValueAsBytes(m))
        finally out.close()
        (readBack, info)
    }
  }
}
