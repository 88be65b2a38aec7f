package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.TranscriptGen
import graft.resolve.ConnectedComponents

/** A pipeline stage and a CC round are materialised once, by their own
  * commit (parquet, or a localCheckpoint): no call leaves a cached copy in
  * Spark's CacheManager after it returns and its result is read.
  */
class MaterialiseOnceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def assertCacheEmpty(after: String): Unit =
    assert(spark.sharedState.cacheManager.isEmpty, s"$after left a cached frame behind")

  test("run, runLink and distributed CC rounds leave Spark's cache empty") {
    spark.catalog.clearCache()
    assertCacheEmpty("clearCache")
    val turns = TranscriptGen.turnsDF(spark, 120, 3L)

    val inMemory = Pipeline.run(spark, turns)
    inMemory.clusters.count()
    inMemory.refined.count()
    assertCacheEmpty("Pipeline.run in memory")

    val dir = java.nio.file.Files.createTempDirectory("graft_once")
    val committed = Pipeline.run(spark, turns, Pipeline.Config(checkpointDir = Some(dir.toString)))
    committed.clusters.count()
    committed.refined.count()
    assertCacheEmpty("Pipeline.run with a checkpoint dir")

    val variant = substring(col("conv_id"), 2, 10).cast("long") % 4
    val link = Pipeline.runLink(spark, turns.filter(variant =!= 0), turns.filter(variant === 0))
    link.merged.count()
    assertCacheEmpty("Pipeline.runLink")

    // a path of 32 nodes: round 1 is not a fixpoint, so a second round runs
    val path = (0 until 31).map(i => (f"p$i%02d", f"p${i + 1}%02d")).toDF("src", "dst")
    assert(ConnectedComponents.starRound(path).as[(String, String)].collect().toSet !=
      path.as[(String, String)].collect().toSet, "precondition: round 1 must not be a fixpoint")
    val comps = ConnectedComponents.run(spark, path, driverFinishMaxEdges = 0L)
    assert(comps.as[(String, String)].collect().toMap === (0 to 31).map(i => f"p$i%02d" -> "p00").toMap)
    assertCacheEmpty("ConnectedComponents.run through the star rounds")
  }
}
