package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.resolve.ExactCascade

/** Port of the reference's deterministic-cascade semantics tests
  * (reference: tests/test_exact_matching.py:113-181): exact expected
  * (id, resolved, reason) tuples and stage precedence.
  */
class CascadeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val canonical = Seq(
    ("k1", "HELLO WORLD HOW ARE YOU TODAY FRIEND", "B1"),
    ("k2", "COMPLETELY DIFFERENT CANONICAL TEXT HERE OKAY", "B1"),
    ("k3", "A THIRD CANONICAL RECORD WITH UNIQUE WORDING", "B2"),
    // duplicate canonical rows: dedupe-then-join must not explode matches
    ("k4", "HELLO WORLD HOW ARE YOU TODAY FRIEND", "B1")
  ).toDF("conv_id", "sig_text", "block_key")

  private val messy = Seq(
    ("m1", "HELLO WORLD HOW ARE YOU TODAY FRIEND", "B1"), // exact (to k1, min id)
    ("m2", "A THIRD CANONICAL RECORD WITH UNIQUE WORDING", "B2"), // exact k3
    ("m3", "COMPLETELY DIFFERENT CANONIKAL TEXT HERE OKAY", "B1"), // near-miss -> shingle k2
    ("m4", "ZEBRA XYLOPHONE QUANTUM FLUX JUMBLE VORTEX", "B1") // unmatched
  ).toDF("conv_id", "sig_text", "block_key")

  test("exact expected tuples, stage precedence, dedupe") {
    val got = ExactCascade.run(messy, canonical)
      .as[(String, String, String)].collect().toSet
    assert(got.contains(("m1", "k1", "exact_match")))
    assert(got.contains(("m2", "k3", "exact_match")))
    assert(got.contains(("m3", "k2", "unique_shingle")))
    assert(!got.exists(_._1 == "m4"))
    // m1 matched exactly once despite duplicate canonical rows
    assert(got.count(_._1 == "m1") === 1)
  }

  test("selfExactLinks == full cascade run(records, records) minus identity links") {
    // the one-shuffle self-dedup collapse used by Pipeline.run (VERDICT r3
    // #4) must be output-identical to the composed cascade, including on
    // duplicate groups, unique texts, null keys and empty strings
    val records = Seq(
      ("s1", "HELLO WORLD HOW ARE YOU TODAY FRIEND", "B1"),
      ("s2", "HELLO WORLD HOW ARE YOU TODAY FRIEND", "B1"), // dup of s1
      ("s3", "HELLO WORLD HOW ARE YOU TODAY FRIEND", "B2"), // same text, other block
      ("s4", "COMPLETELY DIFFERENT CANONICAL TEXT HERE OKAY", "B1"),
      ("s5", "COMPLETELY DIFFERENT CANONICAL TEXT HERE OKAY", "B1"), // dup of s4
      ("s6", "A UNIQUE NEVER REPEATED WORDING HERE", "B1"),
      ("s7", null, "B1"),
      ("s8", "", "B2"),
      ("s9", "", "B2") // empty-string dup of s8 (still a valid group)
    ).toDF("conv_id", "sig_text", "block_key")
    val viaCascade = ExactCascade.run(records, records)
      .filter(col("conv_id") =!= col("resolved_canonical_id"))
      .as[(String, String, String)].collect().toSet
    val viaCollapse = ExactCascade.selfExactLinks(records)
      .as[(String, String, String)].collect().toSet
    assert(viaCollapse === viaCascade)
    assert(viaCollapse.map(t => (t._1, t._2)) ===
      Set(("s2", "s1"), ("s5", "s4"), ("s9", "s8")))
  }

  test("suffix stage: deepest-unique suffix resolves; ambiguous or shallow do not") {
    val canon = Seq(
      ("c1", "PLEASE RESTART THE PAYMENT SERVICE ON NODE SEVEN", "B1"),
      ("c2", "KINDLY RESTART THE BILLING SERVICE ON NODE SEVEN", "B1"),
      ("c3", "SHUT DOWN EVERYTHING THANKS GOODBYE", "B1"),
      ("c4", "POWER OFF EVERYTHING THANKS GOODBYE", "B1"),
      ("c5", "REBOOT THE MAINFRAME KERNEL", "B1")
    ).toDF("conv_id", "sig_text", "block_key")
    val fuzzy = Seq(
      // head differs; deepest common suffix (7 tokens, "RESTART THE
      // PAYMENT SERVICE ON NODE SEVEN") is unique to c1
      ("f1", "COULD YOU RESTART THE PAYMENT SERVICE ON NODE SEVEN", "B1"),
      // deepest matching suffix "EVERYTHING THANKS GOODBYE" (k=3) is
      // shared by c3 AND c4; k=4 matches nothing -> the walk ends on an
      // ambiguous subtree and must NOT fall back to a shallower unique one
      ("f2", "DISABLE EVERYTHING THANKS GOODBYE", "B1"),
      // deepest match is the 1-token suffix "KERNEL" (unique to c5) ->
      // below the minimum depth of 2, rejected
      ("f3", "UNRELATED WORDS KERNEL", "B1")
    ).toDF("conv_id", "sig_text", "block_key")

    val got = ExactCascade.resolveWithSuffixes(fuzzy, canon)
      .select("conv_id", "resolved_canonical_id", "depth")
      .as[(String, String, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.get("f1").map(_._1) === Some("c1"))
    assert(got("f1")._2 === 7L)
    assert(!got.contains("f2"), s"ambiguous deepest suffix must not match: $got")
    assert(!got.contains("f3"), s"the depth-2 gate must reject 1-token suffixes: $got")

    // wired as cascade stage 3: stages 1-2 miss f1 (no exact text, no
    // unique 5-gram hit at minHits=3 in this tiny corpus is possible — so
    // assert only that the composed run with the stage ON resolves f1)
    val composed = ExactCascade.run(fuzzy, canon, useSuffixStage = true)
      .as[(String, String, String)].collect().toSet
    assert(composed.exists(t => t._1 == "f1" && t._2 == "c1"))
  }
}
