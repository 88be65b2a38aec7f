package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.runtime.StageMetricsListener

/** The one metrics listener (`PipelineMain`'s stage_metrics.jsonl and
  * partition_lineage.jsonl, the benches' CPU reads) on a small
  * shuffling job.
  */
class StageMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("a groupBy job: stages, CPU, shuffle write and JSON lines") {
    val listener = new StageMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(0, 20000, 1, 4).selectExpr("id % 97 AS k", "id")
        .groupBy("k").sum("id").collect()
      // events arrive on the listener bus after the action returns
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(listener.cpuNanos > 0)
        assert(listener.stages.values.map(_.shuffleWriteBytes).sum > 0)
      }

      val json = new ObjectMapper()
      val lines = listener.report().split("\n").toSeq ++
        listener.partitionLineage().split("\n")
      assert(lines.nonEmpty && lines.forall(_.nonEmpty))
      lines.foreach(l => assert(json.readTree(l).isObject, l))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
