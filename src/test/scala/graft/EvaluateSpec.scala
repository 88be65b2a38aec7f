package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.evaluate.Evaluate

class EvaluateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("mergeMatches: deterministic wins, probabilistic fills the rest") {
    val det = Seq(("m1", "k1", "exact_match")).toDF(
      "conv_id", "resolved_canonical_id", "match_reason")
    val prob = Seq(("m1", "k9", 10.0), ("m2", "k2", 5.0)).toDF(
      "conv_id_r", "conv_id_l", "match_weight")
    val got = Evaluate.mergeMatches(det, prob)
      .select("conv_id_r", "conv_id_l", "match_reason")
      .as[(String, String, String)].collect().toSet
    assert(got === Set(("m1", "k1", "exact_match"), ("m2", "k2", "probabilistic")))
  }

  test("bestMatches: tie-break, distinguishability, categories") {
    val scored = Seq(
      ("a", "r1", Some(10.0)), ("b", "r1", Some(7.0)), ("c", "r1", Some(7.0)), // best a, d=3
      ("x", "r2", Some(5.0)), // single match
      ("y", "r3", Some(4.0)), ("z", "r3", Some(4.0)), // tie -> y by id asc, d=0
      ("p", "r4", Some(3.0)), ("q", "r4", None) // NULL runner-up weight -> nan
    ).toDF("conv_id_l", "conv_id_r", "match_weight")
    val got = Evaluate.bestMatches(scored)
      .select("conv_id_r", "conv_id_l", "distinguishability", "distinguishability_category")
      .as[(String, String, Option[Double], String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("r1")._1 === "a" && got("r1")._2 === Some(3.0))
    assert(got("r1")._3 === "04: distinguishability > 1.0")
    assert(got("r2")._1 === "x" && got("r2")._3 === "01: one match only")
    assert(got("r3")._1 === "y" && got("r3")._2 === Some(0.0))
    assert(got("r3")._3 === "06: distinguishability = 0")
    assert(got("r4") === (("p", None, "07: nan (last match in group)")))
  }
}
