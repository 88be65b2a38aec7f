package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.blocking.{Blocking, BlockingRule, RuleTierStats}
import graft.ingest.TranscriptGen
import graft.signature.Signatures

/** The default blocking rules on the pairs the pipeline blocks, in both
  * modes: `Pipeline.runLink` on a TranscriptGen link corpus (3,200 slots,
  * seed 1, split by variant: the messy records the exact cascade leaves
  * against canonical, both sides ranked by the canonical TF) and
  * `Pipeline.run` on a TranscriptGen dedup corpus (1,600 slots, seed 1).
  * The candidate pairs must be the union of the rules' key-equal pairs,
  * each once and tagged with the first rule it matches; in link mode every
  * rule must also add a pair that no other rule emits.
  */
class BlockingRulesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val rules = Blocking.defaultRules(Signatures.Bands)

  /** Each side's (id, rule keys), the keys from the rules' own columns. */
  private def keyed(df: DataFrame, side: String, key: BlockingRule => Column) = {
    val s = df.toDF(df.columns.map(_ + "_" + side): _*)
    s.select(col(s"conv_id_$side") +: rules.map(key(_).cast("string")): _*).collect()
      .map(r => (r.getString(0), rules.indices.map(i => r.getString(i + 1))))
  }

  /** Plain Scala: each rule's key-equal (left, right) id pairs that `keep`
    * admits.
    */
  private def pairsByRule(
      left: DataFrame, right: DataFrame,
      keep: ((String, String)) => Boolean): IndexedSeq[Set[(String, String)]] = {
    val (l, r) = (keyed(left, "l", _.leftKey), keyed(right, "r", _.rightKey))
    rules.indices.map { i =>
      val lByKey = l.filter(_._2(i) != null).groupBy(_._2(i))
      r.iterator.filter(_._2(i) != null).flatMap { case (idR, k) =>
        lByKey.getOrElse(k(i), Array.empty).map(x => (x._1, idR))
      }.filter(keep).toSet
    }
  }

  /** `pairs` is the first-rule union of `byRule`: each pair once, tagged
    * with the first rule whose key-equal pairs hold it.
    */
  private def assertFirstRuleUnion(
      pairs: DataFrame, byRule: IndexedSeq[Set[(String, String)]],
      tierStats: Seq[RuleTierStats]): Unit = {
    // no key is salvaged by sorted neighbourhood, so every rule emits all
    // of its key-equal pairs and the plain union is exact
    assert(tierStats.forall(_.nUltraKeys == 0))
    val want = byRule.reduce(_ ++ _).map(p => (p._1, p._2, byRule.indexWhere(_.contains(p))))
    val got = pairs.select("conv_id_l", "conv_id_r", "match_key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(got.size === got.toSet.size, "a pair emitted twice")
    assert(got.toSet === want)
  }

  test("every default rule adds a unique pair; pairs are the first-rule union of the rules") {
    val (slots, seed) = (3200, 1L)
    val turns = TranscriptGen.turnsDF(spark, slots, seed)
    val variant = substring(col("conv_id"), 2, 10).cast("long") % 4
    val res = Pipeline.runLink(spark, turns.filter(variant =!= 0), turns.filter(variant === 0))
    assert(res.nBlockingRules === rules.length)

    val remaining = res.messySignatures
      .join(res.deterministic.select("conv_id"), Seq("conv_id"), "left_anti")
    val byRule = pairsByRule(res.canonicalSignatures, remaining, _ => true)
    assertFirstRuleUnion(res.pairs, byRule, res.tierStats)

    // a rule's unique pairs: those no other rule emits
    val nRulesOf = byRule.reduce(_ ++ _).iterator.map(p => p -> byRule.count(_.contains(p))).toMap
    val truth = TranscriptGen.labels(spark, slots, seed).toDF()
      .select("conv_id", "correct_conv_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    rules.zip(byRule).foreach { case (rule, pairs) =>
      val unique = pairs.filter(nRulesOf(_) == 1)
      info(f"${rule.name}%-16s pairs ${pairs.size}%6d  unique ${unique.size}%5d" +
        f"  unique true ${unique.count(p => truth.get(p._2).contains(p._1))}%4d")
      assert(unique.nonEmpty, s"${rule.name} emits no pair that another rule does not")
    }
  }

  test("self mode: pairs are the first-rule union of the rules' key-equal pairs, id_l < id_r") {
    val res = Pipeline.run(spark, TranscriptGen.turnsDF(spark, 1600, 1L))
    assert(res.nBlockingRules === rules.length)
    val byRule = pairsByRule(res.signatures, res.signatures, p => p._1 < p._2)
    info(s"pairs per rule ${rules.map(_.name).zip(byRule.map(_.size)).mkString(", ")}")
    assertFirstRuleUnion(res.pairs, byRule, res.tierStats)
  }
}
