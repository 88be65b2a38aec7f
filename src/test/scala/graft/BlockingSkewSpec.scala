package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.blocking.{Blocking, BlockingResult, BlockingRule, RuleTierStats}

/** Tiered hot-block handling (north_rule "salted hot-block splitting"):
  * salted joins must preserve the EXACT pair set of the unsalted join;
  * ultra-hot blocks must be salvaged (sorted-neighborhood), never dropped;
  * and earlier-rule exclusion must not suppress pairs whose earlier-rule
  * key was ultra-hot (the round-1 recall bug from ADVICE.md).
  */
class BlockingSkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val rule = Seq(BlockingRule("k", col("key_l"), col("key_r")))

  /** Plain-Scala sorted neighbourhood over one block: rank the
    * (sort, side, id) rows in that order, pair each with the next `w` ranks.
    */
  private def snmReference(
      rows: Seq[(String, String, String)],
      w: Int): Seq[((String, String, String), (String, String, String))] = {
    val ranked = rows.sorted.toIndexedSeq
    for (i <- ranked.indices; j <- i + 1 to math.min(i + w, ranked.size - 1))
      yield (ranked(i), ranked(j))
  }

  test("salted tier emits exactly the unsalted pair set (no recall loss, exactly once)") {
    // one hot key (400 rows -> salted, g=8), one warm key (30 -> plain),
    // singletons (no pairs)
    val df = (1 to 600).map { i =>
      (f"id$i%04d",
        if (i <= 400) "HOT" else if (i <= 430) "WARM" else s"solo$i")
    }.toDF("conv_id", "key")
    val pairs = Blocking.candidatePairsSelfWithStats(
      df, "conv_id", rule, Blocking.SkewConfig(maxBlockRows = 50, maxSaltFactor = 16)).pairs
    val expected = 400L * 399 / 2 + 30L * 29 / 2
    assert(pairs.count() === expected)
    assert(pairs.select("conv_id_l", "conv_id_r").distinct().count() === expected)
    // every pair ordered and tagged with the (only) rule
    assert(pairs.filter(col("conv_id_l") >= col("conv_id_r")).count() === 0)
    assert(pairs.select("match_key").distinct().as[Int].collect().toSet === Set(0))
  }

  test("ultra-hot tier salvages via sorted-neighborhood instead of dropping") {
    // 200 rows on one key, cap=10, factor=2 -> ultra (200 > 20): expect the
    // id-ordered window-5 pair count w*n - w(w+1)/2 = 985, match_key =
    // rules.length + ruleIdx = 1
    val df = (1 to 200).map(i => (f"id$i%04d", "HOT")).toDF("conv_id", "key")
    val pairs = Blocking.candidatePairsSelfWithStats(
      df, "conv_id", rule,
      Blocking.SkewConfig(maxBlockRows = 10, maxSaltFactor = 2, snmWindow = 5)).pairs
    assert(pairs.count() === 5L * 200 - 15)
    assert(pairs.select("match_key").distinct().as[Int].collect().toSet === Set(1))
  }

  test("exclusion does not suppress pairs whose earlier-rule key is ultra-hot") {
    // rule 0's key is shared by all 100 rows (ultra at cap=10, factor=2);
    // rows 1-2 also share a rule-1 key. Round 1 dropped the hot key AND
    // excluded the pair from rule 1 (raw-key-equality exclusion) — the pair
    // was lost entirely. Now rule 1 must emit it.
    val df = (1 to 100).map { i =>
      (f"id$i%03d", "UBIQ", if (i <= 2) "X" else s"y$i")
    }.toDF("conv_id", "u", "k2")
    val rules = Seq(
      BlockingRule("u", col("u_l"), col("u_r")),
      BlockingRule("k2", col("k2_l"), col("k2_r")))
    val pairs = Blocking.candidatePairsSelfWithStats(
      df, "conv_id", rules,
      Blocking.SkewConfig(maxBlockRows = 10, maxSaltFactor = 2, snmWindow = 3)).pairs
    val keysFor12 = pairs
      .filter(col("conv_id_l") === "id001" && col("conv_id_r") === "id002")
      .select("match_key").as[Int].collect().toSeq
    assert(keysFor12 === Seq(1), s"pair (id001,id002) match keys: $keysFor12")
  }

  test("link mode: salted tier preserves the full cross-side pair set") {
    val left = (1 to 120).map(i => (f"c$i%03d", "HOT")).toDF("conv_id", "key")
    val right = (1 to 80).map(i => (f"m$i%03d", "HOT")).toDF("conv_id", "key")
    val pairs = Blocking.candidatePairsLinkWithStats(
      left, right, "conv_id", rule,
      Blocking.SkewConfig(maxBlockRows = 50, maxSaltFactor = 8)).pairs
    assert(pairs.count() === 120L * 80)
    assert(pairs.select("conv_id_l", "conv_id_r").distinct().count() === 120L * 80)
  }

  test("link mode: (huge x tiny) key has linear pair volume -> lossless, never SNM") {
    // Pair-product tiering (ADVICE r2): 3000 canonical x 2 messy rows share
    // a key. Max-side tiering would call it ultra-hot at cap=50 factor=8
    // (3000 > 400) and window-salvage it, silently dropping nearly all true
    // pairs; sqrt(3000*2)=78 puts it in the salted tier -> full pair set.
    val left = (1 to 3000).map(i => (f"c$i%04d", "HOT")).toDF("conv_id", "key")
    val right = (1 to 2).map(i => (f"m$i%03d", "HOT")).toDF("conv_id", "key")
    val res = Blocking.candidatePairsLinkWithStats(
      left, right, "conv_id", rule,
      Blocking.SkewConfig(maxBlockRows = 50, maxSaltFactor = 8))
    assert(res.pairs.count() === 3000L * 2)
    assert(res.pairs.select("conv_id_l", "conv_id_r").distinct().count() === 3000L * 2)
    assert(res.tierStats === Seq(RuleTierStats(0, 1, 0)))
  }

  test("link mode: over-cap one-sided key is dropped losslessly, not shuffled hot") {
    // key HUGE exists only on the left (600 rows > cap*factor=400): it can
    // emit no pairs, and must be classified (nulled + counted in stats)
    // rather than riding the unified join into one (rule,key,salt=0)
    // partition (ADVICE r3). Shared key OK still emits its full pair set.
    val left = ((1 to 600).map(i => (f"c$i%04d", "HUGE")) ++
      (1 to 20).map(i => (f"s$i%03d", "OK"))).toDF("conv_id", "key")
    val right = (1 to 10).map(i => (f"m$i%03d", "OK")).toDF("conv_id", "key")
    val res = Blocking.candidatePairsLinkWithStats(
      left, right, "conv_id", rule,
      Blocking.SkewConfig(maxBlockRows = 50, maxSaltFactor = 8))
    assert(res.pairs.count() === 20L * 10)
    assert(res.tierStats === Seq(RuleTierStats(0, 0, 0, 1)))
  }

  test("tier stats count planted salted and ultra-hot keys") {
    val salted = (1 to 500).map { i =>
      (f"id$i%04d", if (i <= 400) "HOT" else s"solo$i")
    }.toDF("conv_id", "key")
    val r1 = Blocking.candidatePairsSelfWithStats(
      salted, "conv_id", rule, Blocking.SkewConfig(maxBlockRows = 50, maxSaltFactor = 16))
    assert(r1.tierStats === Seq(RuleTierStats(0, 1, 0)))

    val ultra = (1 to 200).map(i => (f"id$i%04d", "HOT")).toDF("conv_id", "key")
    val r2 = Blocking.candidatePairsSelfWithStats(
      ultra, "conv_id", rule,
      Blocking.SkewConfig(maxBlockRows = 10, maxSaltFactor = 2, snmWindow = 5))
    assert(r2.tierStats === Seq(RuleTierStats(0, 0, 1)))
    // salvage pairs are observable via the match_key >= #rules convention
    assert(r2.pairs.filter(col("match_key") >= 1).count() === 5L * 200 - 15)
  }

  test("link mode: ultra-hot key on both sides salvages cross-side (sort, side, id) neighbours") {
    // one key on both sides, ultra-hot at cap=5, factor=2: sqrt(40 * 30) =
    // 35 > 10. The sort column ties across sides, and right ids sort before
    // left ids, so the side breaks those ties, not the id.
    val rows = (1 to 40).map(i => (f"${i % 7}%02d", "l", f"x$i%03d")) ++
      (1 to 30).map(i => (f"${i % 5}%02d", "r", f"a$i%03d"))
    def side(s: String) =
      rows.filter(_._2 == s).map(r => (r._3, "HOT", r._1)).toDF("conv_id", "key", "s")
    val skew = Blocking.SkewConfig(
      maxBlockRows = 5, maxSaltFactor = 2, snmWindow = 4, snmSortCol = Some("s"))
    val res = Blocking.candidatePairsLinkWithStats(side("l"), side("r"), "conv_id", rule, skew)
    val got = res.pairs.select("conv_id_l", "conv_id_r", "match_key")
      .as[(String, String, Int)].collect().toSeq
    assert(res.tierStats === Seq(RuleTierStats(0, 0, 1)))
    // cross-side only, canonical side first, tagged rules.length + 0
    assert(got.forall { case (l, r, _) => l.startsWith("x") && r.startsWith("a") })
    assert(got.map(_._3).toSet === Set(1))
    val expected = snmReference(rows, 4).collect {
      case (a, b) if a._2 != b._2 => if (a._2 == "l") (a._3, b._3) else (b._3, a._3)
    }
    assert(expected.nonEmpty)
    assert(got.size === got.map(p => (p._1, p._2)).distinct.size)
    assert(got.map(p => (p._1, p._2)).toSet === expected.toSet)
  }

  test("two rules with ultra-hot keys over overlapping rows: each pair once, lowest rule's tag") {
    // rows 1-60 share k1 = A, rows 31-90 share k2 = B: both ultra at
    // cap=5, factor=2; rows 31-60 sit in both blocks
    def sortOf(i: Int) = f"${i * 37 % 11}%02d"
    val df = (1 to 90).map { i =>
      (f"id$i%03d", if (i <= 60) "A" else s"a$i", if (i > 30) "B" else s"b$i", sortOf(i))
    }.toDF("conv_id", "k1", "k2", "s")
    val rules = Seq(
      BlockingRule("k1", col("k1_l"), col("k1_r")),
      BlockingRule("k2", col("k2_l"), col("k2_r")))
    val res = Blocking.candidatePairsSelfWithStats(df, "conv_id", rules,
      Blocking.SkewConfig(maxBlockRows = 5, maxSaltFactor = 2, snmWindow = 3,
        snmSortCol = Some("s")))
    val got = res.pairs.select("conv_id_l", "conv_id_r", "match_key")
      .as[(String, String, Int)].collect().toSeq
    assert(res.tierStats === Seq(RuleTierStats(0, 0, 1), RuleTierStats(1, 0, 1)))

    def rulePairs(members: Seq[Int], ruleIdx: Int) =
      snmReference(members.map(i => (sortOf(i), "l", f"id$i%03d")), 3).map { case (a, b) =>
        (Seq(a._3, b._3).min, Seq(a._3, b._3).max) -> (rules.length + ruleIdx)
      }
    val byRule = Seq(rulePairs(1 to 60, 0), rulePairs(31 to 90, 1))
    // the overlap is real: some pair is a window neighbour under both rules
    assert(byRule(0).map(_._1).toSet.intersect(byRule(1).map(_._1).toSet).nonEmpty)
    val expected = byRule.flatten.groupBy(_._1)
      .map { case (p, ks) => (p._1, p._2, ks.map(_._2).min) }
    assert(got.size === got.map(p => (p._1, p._2)).distinct.size)
    assert(got.toSet === expected.toSet)
  }

  test("no call leaves a cached RDD behind (self and link, salted and ultra)") {
    // inputs no other test uses: a plan cached by an earlier call on the
    // same data would be reused here and hide a new leak
    val sc = spark.sparkContext
    def assertNoLeak(what: String)(call: => BlockingResult): Unit = {
      val before = sc.getPersistentRDDs.keySet
      call.pairs.count()
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty, what)
    }
    def block(prefix: String, n: Int) =
      (1 to n).map(i => (f"$prefix$i%04d", "LEAK")).toDF("conv_id", "key")
    assertNoLeak("self, salted")(Blocking.candidatePairsSelfWithStats(
      block("s", 300), "conv_id", rule, Blocking.SkewConfig(maxBlockRows = 50, maxSaltFactor = 16)))
    assertNoLeak("self, ultra")(Blocking.candidatePairsSelfWithStats(
      block("u", 150), "conv_id", rule, Blocking.SkewConfig(maxBlockRows = 10, maxSaltFactor = 2)))
    assertNoLeak("link, salted")(Blocking.candidatePairsLinkWithStats(
      block("l", 110), block("r", 70), "conv_id", rule,
      Blocking.SkewConfig(maxBlockRows = 50, maxSaltFactor = 8)))
    assertNoLeak("link, ultra")(Blocking.candidatePairsLinkWithStats(
      block("l", 90), block("r", 60), "conv_id", rule,
      Blocking.SkewConfig(maxBlockRows = 10, maxSaltFactor = 2)))
  }
}
