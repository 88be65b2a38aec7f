package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate corpora through the whole pipeline: empty input, one
  * conversation copied past the blocking cap, conversations of one or two
  * tokens, and a link run with nothing to link. Each run must finish,
  * `run` must put every conversation in exactly one cluster, and `runLink`
  * must match each messy conversation at most once.
  */
class DegenerateInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cols = Seq("conv_id", "turn_idx", "role", "text")

  private def turnsOf(convs: Seq[(String, Seq[String])]): DataFrame =
    convs.flatMap { case (id, texts) =>
      texts.zipWithIndex.map { case (t, i) => (id, i, if (i % 2 == 0) "user" else "assistant", t) }
    }.toDF(cols: _*)

  private def ids(turns: DataFrame): Set[String] =
    turns.select("conv_id").distinct().as[String].collect().toSet

  /** Every input conversation in exactly one cluster, and no other id. */
  private def assertPartition(res: Pipeline.Result, turns: DataFrame): Unit = {
    val rows = res.clusters.select("conv_id", "cluster_id").as[(String, String)].collect()
    assert(rows.map(_._1).toSet === ids(turns))
    assert(rows.length === rows.map(_._1).distinct.length, "a conversation is in two clusters")
  }

  /** Each messy conversation matched at most once, to a canonical one. */
  private def assertAtMostOnce(res: Pipeline.LinkResult, messy: DataFrame,
      canonical: DataFrame): Unit = {
    val rows = res.merged.select("conv_id_r", "conv_id_l").as[(String, String)].collect()
    assert(rows.length === rows.map(_._1).distinct.length, "a messy conversation matched twice")
    assert(rows.map(_._1).toSet.subsetOf(ids(messy)))
    assert(rows.map(_._2).toSet.subsetOf(ids(canonical)))
  }

  private val conv = Seq(
    "please migrate the zephyr database cluster to region osaka",
    "starting zephyr migration with rolling snapshots",
    "verify replication lag stays under forty milliseconds",
    "replication lag peaked at twelve milliseconds all good",
    "great close the ticket 88421 now")

  test("run on empty turns gives no clusters") {
    val turns = Seq.empty[(String, Int, String, String)].toDF(cols: _*)
    val res = Pipeline.run(spark, turns)
    assert(res.clusters.count() === 0)
    assert(res.pairs.count() === 0)
  }

  test("run on 300 copies of one conversation: salted tier, one cluster") {
    val n = 300
    assert(n > Pipeline.Config().maxBlockRows)
    val turns = turnsOf((0 until n).map(i => f"d$i%03d" -> conv))
    val res = Pipeline.run(spark, turns)
    assertPartition(res, turns)
    assert(res.clusters.select("cluster_id").distinct().count() === 1)
    assert(res.tierStats.map(_.nSaltKeys).sum > 0, s"no salted key: ${res.tierStats}")
  }

  test("run and runLink on conversations of one or two tokens") {
    val texts = Seq("hi", "ok thanks", "yes", "thanks", "bye now", "no")
    val convs = (0 until 40).map { i =>
      f"t$i%02d" -> (if (i % 3 == 0) Seq(texts(i % 6)) else Seq(texts(i % 6), texts((i / 2) % 6)))
    }
    val turns = turnsOf(convs)
    assertPartition(Pipeline.run(spark, turns), turns)

    val messy = turns.filter(substring(col("conv_id"), 3, 1).cast("int") % 2 === 0)
    val canonical = turns.filter(substring(col("conv_id"), 3, 1).cast("int") % 2 === 1)
    assertAtMostOnce(Pipeline.runLink(spark, messy, canonical), messy, canonical)
  }

  test("runLink with an empty messy side matches nothing") {
    val canonical = turnsOf(Seq("c_a" -> conv, "c_b" -> conv.reverse))
    val messy = Seq.empty[(String, Int, String, String)].toDF(cols: _*)
    val res = Pipeline.runLink(spark, messy, canonical)
    assertAtMostOnce(res, messy, canonical)
    assert(res.merged.count() === 0)
  }
}
