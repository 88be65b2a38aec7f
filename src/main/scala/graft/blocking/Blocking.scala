package graft.blocking

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Candidate-pair generation: union of equi-join blocking rules with
  * Splink-style earlier-rule exclusion so every pair is emitted exactly
  * once, tagged `match_key` (reference: linking_model/blocking.py +
  * data/splink_model.json:16-89; SURVEY.md §2.3 "THE scalability-critical
  * operator").
  *
  * Skew handling (north_rule: "salted hot-block splitting") is one runtime
  * decision per key, made from its observed size: one job collects every
  * (rule, key) whose pair-volume size c is over `maxBlockRows`, and the
  * driver gives each its tier (`tierOf`):
  *
  *   1. c <= cap: plain equi-join (sort-merge / broadcast via Catalyst+AQE).
  *   2. cap < c <= cap * maxSaltFactor: SALTED into g = ceil(c / cap)
  *      buckets — the bigger side keeps one deterministic salt
  *      `pmod(xxhash64(id), g)`, the other side is replicated to all g
  *      salts, and the join key becomes (rule, key, salt). Every pair with
  *      equal keys is still emitted exactly once, so recall is IDENTICAL
  *      to the unsalted join, but the hot key's work is spread over g
  *      reducer partitions instead of one straggler.
  *   3. c > cap * maxSaltFactor ("ultra-hot"): pair count is inherently
  *      quadratic (a 10^6-row key emits 10^12 pairs — no salting saves
  *      that), so these keys are routed through sorted-neighborhood pairing
  *      (O(n * window), `snmWindow`) instead of being dropped: one pass over
  *      every rule's ultra keys. Salvage pairs carry match_key =
  *      rules.length + ruleIndex so the affected volume is observable in
  *      match-key metrics downstream.
  *   In link mode, a key over cap on ONE side only emits no pairs and is
  *   dropped.
  *
  * Exclusion exactness: rule-j exclusion tests raw key equality, which is
  * only correct when rule j actually emits ALL equal-key pairs. Tiers 1-2
  * preserve that property. Ultra-hot keys do not — so they are NULLED on
  * both sides before any join: rule j neither emits nor excludes on them
  * (a pair sharing only an ultra-hot key is salvaged by SNM, never
  * silently lost — the round-1 recall bug flagged in ADVICE.md).
  */
final case class BlockingRule(name: String, leftKey: Column, rightKey: Column)

/** Per-rule skew-tier observability: how many of a rule's keys were salted
  * and how many were routed to SNM salvage (reference analogue: match-reason
  * metrics, post_linkage/analyse_results.py:24-45).
  */
final case class RuleTierStats(
    rule: Int, nSaltKeys: Long, nUltraKeys: Long, nOneSidedHotKeys: Long = 0L)

/** Candidate pairs + the skew-tier stats observed while planning them. */
final case class BlockingResult(pairs: DataFrame, tierStats: Seq[RuleTierStats])

object Blocking {

  /** Key separator for composite keys; ASCII unit separator avoids
    * accidental collisions with token text.
    */
  val Sep = ""

  def compositeKey(parts: Column*): Column = {
    // any null part nulls the whole key (reference rules: an equality on a
    // NULL feature never matches)
    val joined = concat_ws(Sep, parts.map(_.cast("string")): _*)
    when(parts.map(_.isNotNull).reduce(_ && _), joined).otherwise(lit(null))
  }

  /** Default transcript blocking rules over a signature table
    * (north_star: role-sequence shingles + MinHash bands + salient tokens).
    * MinHash band rules are expanded one-rule-per-band so each stays a
    * plain equi-join.
    */
  def defaultRules(bands: Int): Seq[BlockingRule] = {
    // Every non-LSH rule composes a salient (rare) token with a second
    // feature — the reference's rule shape (numeric_token x unusual-token x
    // postcode-part composites, blocking.py:1-25). A bare role-sequence/
    // length rule was measured to emit 98% of all candidate pairs while
    // contributing no unique recall (every variant type is covered by a
    // salient or MinHash rule) — pure-cheap-key rules do not survive scale.
    // No inverted (s1, s2) = (s2, s1) rule: one TF table ranks both sides'
    // tokens in one total order, so it could emit no pair (BlockingRulesSpec).
    val base = Seq(
      BlockingRule("salient12",
        compositeKey(col("salient_token_1_l"), col("salient_token_2_l")),
        compositeKey(col("salient_token_1_r"), col("salient_token_2_r"))),
      BlockingRule("salient1_role",
        compositeKey(col("salient_token_1_l"), col("role_seq_l")),
        compositeKey(col("salient_token_1_r"), col("role_seq_r"))),
      BlockingRule("salient1_len",
        compositeKey(col("salient_token_1_l"), col("len_band_l")),
        compositeKey(col("salient_token_1_r"), col("len_band_r")))
    )
    val bandRules = (0 until bands).map { b =>
      BlockingRule(s"minhash_band_$b",
        element_at(col("minhash_bands_l"), b + 1),
        element_at(col("minhash_bands_r"), b + 1))
    }
    base ++ bandRules
  }

  /** Skew-handling knobs (see object doc). `snmSortCol` is the pre-suffix
    * name of the column sorted-neighborhood orders by inside an ultra-hot
    * block (a content column like sig_text groups near-duplicates
    * adjacently; defaults to the id, which is deterministic but blind).
    */
  final case class SkewConfig(
      maxBlockRows: Int = 1000,
      maxSaltFactor: Int = 8,
      snmWindow: Int = 20,
      snmSortCol: Option[String] = None)

  /** Self-dedup pair generation: `id_l < id_r`, one row per pair with the
    * first matching rule's index as `match_key` (ultra-hot SNM salvage
    * pairs get rules.length + ruleIndex), plus per-rule skew-tier stats.
    * The call runs one job (the tier collect); the pairs stay lazy.
    */
  def candidatePairsSelfWithStats(
      sigs: DataFrame,
      idCol: String,
      rules: Seq[BlockingRule],
      skew: SkewConfig = SkewConfig()): BlockingResult = {
    val l = sigs.toDF(sigs.columns.map(_ + "_l"): _*)
    val r = sigs.toDF(sigs.columns.map(_ + "_r"): _*)
    candidatePairs(l, r, idCol, rules, skew, selfDedup = true)
  }

  /** Link-mode (left x right) pair generation: pairs are cross-side
    * only, the left row as `id_l`; match keys, stats and the one tier job
    * as in self-dedup.
    */
  def candidatePairsLinkWithStats(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      rules: Seq[BlockingRule],
      skew: SkewConfig = SkewConfig()): BlockingResult = {
    val l = left.toDF(left.columns.map(_ + "_l"): _*)
    val r = right.toDF(right.columns.map(_ + "_r"): _*)
    candidatePairs(l, r, idCol, rules, skew, selfDedup = false)
  }

  /** Sorted-neighborhood pairing inside a (possibly hot) block: sort block
    * members by a secondary key and pair only rows within `windowSize`
    * positions of each other. Output is O(n * window) instead of O(n^2) —
    * the salvage path for ultra-hot blocks (classic ER sorted-neighborhood
    * method; complements the reference's hard group-size caps).
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      blockKey: Column,
      sortKey: Column,
      windowSize: Int): DataFrame = {
    val rows = df.select(blockKey.as("__k"), sortKey.as("__sort"), col(idCol).as("__id"))
      .filter(col("__k").isNotNull)
    neighborBand(rows, Seq("__k"), Seq(col("__sort").asc, col("__id").asc), windowSize)
      .select(
        least(col("__id_a"), col("__id_b")).as(s"${idCol}_l"),
        greatest(col("__id_a"), col("__id_b")).as(s"${idCol}_r"))
      .distinct()
  }

  /** The sorted-neighborhood band join, written once: rank `rows` within
    * each `block` by `order`, then pair every row with the next `w` ranks
    * of its block. Each column of `rows` comes back twice, suffixed `_a`
    * (the lower rank) and `_b`.
    */
  private def neighborBand(
      rows: DataFrame, block: Seq[String], order: Seq[Column], w: Int): DataFrame = {
    val ranked = rows.withColumn("__rn", row_number().over(
      Window.partitionBy(block.map(col): _*).orderBy(order: _*)))
    def side(s: String) = ranked.select(ranked.columns.map(c => col(c).as(c + s)): _*)
    val sameBlock = block.map(k => col(k + "_a") === col(k + "_b")).reduce(_ && _)
    side("_a").join(side("_b"), sameBlock &&
      col("__rn_b") > col("__rn_a") && col("__rn_b") <= col("__rn_a") + w)
  }

  /** A hot key's skew tier (see the object doc): `Salted` over g buckets,
    * `Ultra` (nulled, then salvaged by sorted neighborhood) or `OneSided`
    * (link mode, over cap on one side only: nulled, no pairs to salvage).
    */
  private sealed trait Tier
  private final case class Salted(g: Int) extends Tier
  private case object Ultra extends Tier
  private case object OneSided extends Tier

  /** The one tier policy, for a key whose pair-volume size is over cap. */
  private def tierOf(count: Long, oneSided: Boolean, skew: SkewConfig): Tier =
    if (oneSided) OneSided
    else if (count > skew.maxBlockRows.toLong * skew.maxSaltFactor) Ultra
    else Salted(math.ceil(count / skew.maxBlockRows.toDouble).toInt)

  private final case class HotKey(rule: Int, key: String, tier: Tier, keepL: Boolean)

  private def candidatePairs(
      l: DataFrame,
      r: DataFrame,
      idCol: String,
      rules: Seq[BlockingRule],
      skew: SkewConfig,
      selfDedup: Boolean): BlockingResult = {
    val sp = l.sparkSession
    import sp.implicits._

    // materialise every rule's key as a string column once per side, so the
    // earlier-rule exclusion predicates are cheap column references and the
    // hot-key tables (always string-keyed) join without implicit casts.
    def keyed(df: DataFrame, key: BlockingRule => Column): DataFrame =
      rules.zipWithIndex.foldLeft(df) { case (d, (rule, i)) =>
        d.withColumn(s"__bk_$i", key(rule).cast("string"))
      }
    val lKeyed = keyed(l, _.leftKey)
    val rKeyed = keyed(r, _.rightKey)

    // NARROW frames for the joins: id + rule keys only. Feature columns
    // are attached in the scoring stage (Pipeline.attachScoreCols) —
    // shuffling them through the rule join multiplied the blocking stage's
    // bytes by their width (measured 45 s -> the dominant pipeline stage at
    // 30k convs).
    val bkCols = rules.indices.map(i => col(s"__bk_$i"))
    val lNarrow = lKeyed.select((col(s"${idCol}_l") +: bkCols): _*)
    val rNarrow = rKeyed.select((col(s"${idCol}_r") +: bkCols): _*)

    // ALL rules' per-key block sizes in ONE pass over the exploded
    // (rule, key) stream per side — a single scan regardless of rule count
    // (matters at 100 TB). A key's tier is driven by its PAIR VOLUME: for
    // self-dedup that is ~c^2/2, so the equivalent block size is c itself;
    // for link mode it is cl*cr, so the equivalent size is sqrt(cl*cr) — a
    // (huge x tiny) key has linear pair volume and must NOT be routed to
    // lossy SNM salvage (ADVICE r2: tiering by max side dropped recall).
    // `keep_l` picks which side keeps a single salt (is partitioned): the
    // bigger side, so the replication factor hits the smaller side.
    def keyCounts(df: DataFrame) = df
      .select(explode(array(rules.indices.map(i =>
        struct(lit(i).as("rule"), col(s"__bk_$i").as("key"))): _*)).as("rk"))
      .filter(col("rk.key").isNotNull)
      .groupBy(col("rk.rule").as("rule"), col("rk.key").as("key"))
      .count()
    val counts =
      if (selfDedup)
        keyCounts(lNarrow)
          .withColumn("keep_l", lit(true)).withColumn("one_sided", lit(false))
      else {
        val cl = keyCounts(lNarrow).withColumnRenamed("count", "cl")
        val cr = keyCounts(rNarrow).withColumnRenamed("count", "cr")
        // FULL outer: a key present on only one side emits no pairs, but if
        // it is over-cap its exploded rows would still hash-shuffle into a
        // single (rule, key, salt=0) partition through the unified join —
        // the straggler/spill the tiering exists to prevent (ADVICE r3). So
        // over-cap one-sided keys are tracked (count = the side's row
        // count, one_sided = true) and NULLED below — lossless, since zero
        // pairs and zero exclusion outcomes depend on them (the other side
        // never carries the key, so no pair can be key-equal on it).
        cl.join(cr, Seq("rule", "key"), "full_outer")
          .select(col("rule"), col("key"),
            when(col("cl").isNotNull && col("cr").isNotNull,
              ceil(sqrt(col("cl") * col("cr"))).cast("long"))
              .otherwise(coalesce(col("cl"), col("cr"))).as("count"),
            (coalesce(col("cl"), lit(0L)) >= coalesce(col("cr"), lit(0L))).as("keep_l"),
            (col("cl").isNull || col("cr").isNull).as("one_sided"))
      }

    // Every over-cap key, collected in one job and given its tier on the
    // driver by `tierOf`; the stats and every lookup table below derive
    // from this one list. Keys above cap are rare by definition, and each
    // table built from the list is broadcast anyway. The common all-cool
    // case collects nothing and builds none of the skew machinery.
    val hot = counts.filter(col("count") > skew.maxBlockRows)
      .select(col("rule"), col("key"), col("count"), col("keep_l"), col("one_sided"))
      .collect().toSeq
      .map(r => HotKey(r.getInt(0), r.getString(1),
        tierOf(r.getLong(2), r.getBoolean(4), skew), r.getBoolean(3)))
    val statsOut = hot.groupBy(_.rule).toSeq.sortBy(_._1).map { case (rule, keys) =>
      def n(in: Tier => Boolean) = keys.count(k => in(k.tier)).toLong
      RuleTierStats(rule, n(_.isInstanceOf[Salted]), n(_ == Ultra), n(_ == OneSided))
    }
    val saltInfo = hot.collect { case HotKey(rule, key, Salted(g), keepL) => (rule, key, g, keepL) }
    val ultra = hot.collect { case HotKey(rule, key, Ultra, _) => (rule, key) }
    // keys NULLED before the join: ultra (salvaged by SNM) plus over-cap
    // one-sided (no pairs to salvage — dropping is lossless)
    val dropKeys = hot.collect { case HotKey(rule, key, Ultra | OneSided, _) => (rule, key) }

    // Null dropped keys on BOTH sides before the join: the rule neither
    // emits nor excludes on them (exclusion on a key whose pairs were not
    // fully emitted would silently lose recall — ADVICE.md round 1; a
    // one-sided key can never be key-equal across a pair, so nulling it
    // changes no exclusion outcome). Only rules that actually have dropped
    // keys pay the broadcast lookup.
    val dropRules = dropKeys.map(_._1).distinct.sorted
    def nullDropped(df: DataFrame): DataFrame = dropRules.foldLeft(df) { (d, i) =>
      val u = broadcast(dropKeys.collect { case (`i`, key) => (key, true) }
        .toDF(s"__uk_$i", s"__uh_$i"))
      d.join(u, d(s"__bk_$i") === col(s"__uk_$i"), "left")
        .withColumn(s"__bk_$i",
          when(col(s"__uh_$i"), lit(null)).otherwise(col(s"__bk_$i")))
        .drop(s"__uk_$i", s"__uh_$i")
    }
    val lK = nullDropped(lNarrow)
    val rK = nullDropped(rNarrow)

    // ---- ONE unified join for every rule and tier, keyed (rule, key,
    // salt). Each side explodes its key array to (rule, key) rows carrying
    // the full key array for exclusion. A salt-tier key's keep side (the
    // bigger) holds ONE deterministic salt, so it is partitioned into g
    // buckets; the other side replicates to all g salts, so every
    // equal-key pair is still emitted exactly once, spread over g reducer
    // partitions. Cool keys ride the same join with salt 0. One shuffle
    // join replaces #rules separate joins — at 250k convs the per-rule plan
    // was STAGE-LATENCY bound (~100 s at both local[8] and local[32]).
    def joinSide(df: DataFrame, side: String, keeps: Column): DataFrame = {
      val (id, karr) = (s"${idCol}_$side", s"__karr_$side")
      val exploded = df.withColumn(karr, array(bkCols: _*))
        .select(col(id), col(karr), posexplode(col(karr)).as(Seq("rule", "key")))
        .filter(col("key").isNotNull)
      if (saltInfo.isEmpty) exploded.withColumn("__salt", lit(0))
      else exploded
        .join(broadcast(saltInfo.toDF("rule", "key", "g", "keep_l")), Seq("rule", "key"), "left")
        .withColumn("__salt", explode(
          when(col("g").isNull, array(lit(0)))
            .when(keeps, array(pmod(xxhash64(col(id)), col("g")).cast("int")))
            .otherwise(sequence(lit(0), col("g") - 1))))
        .drop("g", "keep_l")
    }
    val joined0 = joinSide(lK, "l", col("keep_l"))
      .join(joinSide(rK, "r", not(col("keep_l"))), Seq("rule", "key", "__salt"))
    val joined =
      if (selfDedup) joined0.filter(col(s"${idCol}_l") < col(s"${idCol}_r")) else joined0

    // Splink-style earlier-rule exclusion as one static codegen'd CASE:
    // keep a pair at rule r only when no rule j < r also matched it.
    def eq(j: Int): Column = coalesce(
      element_at(col("__karr_l"), j + 1) === element_at(col("__karr_r"), j + 1), lit(false))
    val keep = rules.indices.foldLeft(lit(false)) { (acc, rI) =>
      val noEarlier = (0 until rI).foldLeft(lit(true))((a, j) => a && not(eq(j)))
      when(col("rule") === rI, noEarlier).otherwise(acc)
    }
    val mainPairs = joined.filter(keep)
      .select(col(s"${idCol}_l"), col(s"${idCol}_r"), col("rule").as("match_key"))

    // ---- sorted-neighborhood salvage over ultra-hot blocks (plan built
    // only when an ultra key exists). Exactly-once overall: a salvage pair
    // already emitted by a cool / salted rule is dropped (salvage volume is
    // rare by construction, so this anti-join is cheap relative to
    // mainPairs).
    val allPairs =
      if (ultra.isEmpty) mainPairs
      else mainPairs.unionByName(
        snmSalvage(lKeyed, rKeyed, ultra.toDF("rule", "key"), bkCols, idCol, skew, selfDedup)
          .join(mainPairs.drop("match_key"), Seq(s"${idCol}_l", s"${idCol}_r"), "left_anti"))

    BlockingResult(allPairs, statsOut)
  }

  /** Sorted-neighborhood pairs for every ultra-hot (rule, key) in one pass:
    * each side's raw (rule, key) rows are exploded once and semi-joined to
    * the broadcast `ultra` table, ranked within (rule, key) by
    * (sort, side, id) and band-joined once (`neighborBand`). Self-dedup
    * pairs are ordered id_l < id_r; link-mode pairs are cross-side only,
    * the left row as id_l. A pair salvaged under several rules is kept
    * once, with match_key = rules.length + the lowest such rule.
    */
  private def snmSalvage(
      lKeyed: DataFrame,
      rKeyed: DataFrame,
      ultra: DataFrame,
      bkCols: Seq[Column],
      idCol: String,
      skew: SkewConfig,
      selfDedup: Boolean): DataFrame = {
    def members(df: DataFrame, side: String): DataFrame = {
      val sort = skew.snmSortCol.getOrElse(idCol) + "_" + side
      df.select(col(s"${idCol}_$side").as("__id"), col(sort).as("__sort"),
          lit(side).as("__side"), posexplode(array(bkCols: _*)).as(Seq("rule", "key")))
        .join(broadcast(ultra), Seq("rule", "key"), "left_semi")
    }
    val rows =
      if (selfDedup) members(lKeyed, "l")
      else members(lKeyed, "l").unionByName(members(rKeyed, "r"))
    val band = neighborBand(rows, Seq("rule", "key"),
      Seq(col("__sort").asc, col("__side").asc, col("__id").asc), skew.snmWindow)
    val pairs =
      if (selfDedup)
        band.select(
          least(col("__id_a"), col("__id_b")).as(s"${idCol}_l"),
          greatest(col("__id_a"), col("__id_b")).as(s"${idCol}_r"),
          col("rule_a"))
      else {
        val aIsL = col("__side_a") === "l"
        band.filter(col("__side_a") =!= col("__side_b"))
          .select(
            when(aIsL, col("__id_a")).otherwise(col("__id_b")).as(s"${idCol}_l"),
            when(aIsL, col("__id_b")).otherwise(col("__id_a")).as(s"${idCol}_r"),
            col("rule_a"))
      }
    pairs.groupBy(col(s"${idCol}_l"), col(s"${idCol}_r"))
      .agg(min(lit(bkCols.length) + col("rule_a")).as("match_key"))
  }
}
