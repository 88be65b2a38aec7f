package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.blocking.{Blocking, BlockingRule}
import graft.ingest.TranscriptGen
import graft.signature.Signatures

/** The default blocking rules on the pairs `Pipeline.runLink` blocks: a
  * TranscriptGen link corpus (3,200 slots, seed 1, split by variant), the
  * messy records the exact cascade leaves against canonical, both sides
  * ranked by the canonical TF. Every rule must add a pair that no other
  * rule emits, and the candidate pairs must be the union of the rules'
  * key-equal pairs, each once and tagged with the first rule it matches.
  */
class BlockingRulesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("every default rule adds a unique pair; pairs are the first-rule union of the rules") {
    val (slots, seed) = (3200, 1L)
    val turns = TranscriptGen.turnsDF(spark, slots, seed)
    val variant = substring(col("conv_id"), 2, 10).cast("long") % 4
    val res = Pipeline.runLink(spark, turns.filter(variant =!= 0), turns.filter(variant === 0))
    val rules = Blocking.defaultRules(Signatures.Bands)
    assert(res.nBlockingRules === rules.length)
    // no key is salvaged by sorted neighbourhood, so every rule emits all
    // of its key-equal pairs and the plain union below is exact
    assert(res.tierStats.forall(_.nUltraKeys == 0))

    // each side's (id, rule keys), the keys from the rules' own columns
    def keyed(df: DataFrame, side: String, key: BlockingRule => Column) = {
      val s = df.toDF(df.columns.map(_ + "_" + side): _*)
      s.select(col(s"conv_id_$side") +: rules.map(key(_).cast("string")): _*).collect()
        .map(r => (r.getString(0), rules.indices.map(i => r.getString(i + 1))))
    }
    val remaining = res.messySignatures
      .join(res.deterministic.select("conv_id"), Seq("conv_id"), "left_anti")
    val left = keyed(res.canonicalSignatures, "l", _.leftKey)
    val right = keyed(remaining, "r", _.rightKey)

    // plain Scala: each rule's key-equal (canonical, messy) pairs
    val byRule: IndexedSeq[Set[(String, String)]] = rules.indices.map { i =>
      val lByKey = left.filter(_._2(i) != null).groupBy(_._2(i))
      right.iterator.filter(_._2(i) != null).flatMap { case (idR, k) =>
        lByKey.getOrElse(k(i), Array.empty).map(l => (l._1, idR))
      }.toSet
    }
    val union = byRule.reduce(_ ++ _)
    val want = union.map(p => (p._1, p._2, byRule.indexWhere(_.contains(p))))
    val got = res.pairs.select("conv_id_l", "conv_id_r", "match_key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(got.size === got.toSet.size, "a pair emitted twice")
    assert(got.toSet === want)

    // a rule's unique pairs: those no other rule emits
    val nRulesOf = union.iterator.map(p => p -> byRule.count(_.contains(p))).toMap
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
}
