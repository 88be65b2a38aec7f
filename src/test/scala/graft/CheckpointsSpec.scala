package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.ingest.TranscriptGen
import graft.runtime.Checkpoints

/** What a `Checkpoints.stage` commit costs and what it hands back: one
  * Spark job per commit, the manifest's row count, a read-back whose
  * schema equals the one inferred from the files, and a resume that starts
  * no Spark job.
  */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val SentinelKey = "graft.checkpointsSpec.sentinel"

  /** Spark jobs started by `body`. Listener events arrive asynchronously
    * but in order, so once a sentinel job run after `body` has been seen,
    * every job `body` started has been counted.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    var jobs = 0
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(SentinelKey) != null) sentinelSeen = true
        else synchronized(jobs += 1)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setLocalProperty(SentinelKey, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(SentinelKey, null)
      eventually(timeout(30.seconds), interval(50.millis))(assert(sentinelSeen))
      listener.synchronized(jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def manifestRows(dir: Path, stage: String): Long =
    "\"rows\":(\\d+)".r.findFirstMatchIn(
      Files.readString(dir.resolve(s"_manifest_$stage.json"))).get.group(1).toLong

  test("a commit is one Spark job, and the manifest counts the committed rows") {
    val dir = Files.createTempDirectory("graft_ckpt_jobs")
    val ck = new Checkpoints(spark, dir.toString)
    val frames: Seq[(String, DataFrame)] = Seq(
      "rows" -> spark.range(0, 1000, 1, 4).withColumn("k", col("id") % 7).localCheckpoint(true),
      "empty" -> spark.range(0, 1000, 1, 4).toDF().filter(col("id") < 0),
      "no_partitions" -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("id", LongType)))))
    for ((name, df) <- frames) {
      var committed: DataFrame = null
      assert(jobsStartedBy { committed = ck.stage(name, "fp")(df) } === 1, name)
      val n = committed.count()
      assert(n === df.count(), name)
      assert(manifestRows(dir, name) === n, name)
    }
  }

  test("a resumed stage starts no Spark job and reads with the committed schema") {
    val dir = Files.createTempDirectory("graft_ckpt_resume")
    val ck = new Checkpoints(spark, dir.toString)
    val df = spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 7).cast("string").as("k"), array(col("id")).as("a"))
    val fresh = ck.stage("s", "fp")(df)
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    var resumed: DataFrame = null
    assert(jobsStartedBy { resumed = ck.stage("s", "fp")(sys.error("recomputed")) } === 0)
    assert(resumed.schema === fresh.schema)
    assert(rows(resumed) === rows(fresh))

    // a manifest without a schema (the layout before it was committed) is
    // not reusable: the stage recomputes once, then resumes again (the
    // local FS checksums what it writes, so the stale checksum goes too)
    Files.delete(dir.resolve("._manifest_s.json.crc"))
    Files.writeString(dir.resolve("_manifest_s.json"),
      """{"stage":"s","rows":1000,"partitions":4,"wall_ms":1,"fingerprint":"fp"}""")
    var recomputed = 0
    for (_ <- 1 to 2) ck.stage("s", "fp") { recomputed += 1; df }
    assert(recomputed === 1)
  }

  test("every stage of run and runLink reads back with the schema a resumed run infers") {
    val dir = Files.createTempDirectory("graft_ckpt_schema")
    val turns = TranscriptGen.turnsDF(spark, 80)
    val cfg = Pipeline.Config(checkpointDir = Some(dir.toString))
    val r = Pipeline.run(spark, turns, cfg)
    val variant = substring(col("conv_id"), 2, 10).cast("long") % 4
    val l = Pipeline.runLink(spark, turns.filter(variant =!= 0), turns.filter(variant === 0), cfg)
    val fresh = Seq(
      "signatures" -> r.signatures, "pairs" -> r.pairs, "scored" -> r.scored,
      "clusters" -> r.clusters, "refined" -> r.refined,
      "link_canon_sigs" -> l.canonicalSignatures, "link_messy_sigs" -> l.messySignatures,
      "link_cascade" -> l.deterministic, "link_pairs" -> l.pairs, "link_scored" -> l.scored,
      "link_merged" -> l.merged)
    for ((stage, df) <- fresh)
      assert(df.schema === spark.read.parquet(dir.resolve(stage).toString).schema, stage)
  }
}
