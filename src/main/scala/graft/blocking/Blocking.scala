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
  * Skew handling (north_rule: "salted hot-block splitting") is tiered by
  * per-rule block size c against `maxBlockRows`:
  *
  *   1. c <= cap: plain equi-join (sort-merge / broadcast via Catalyst+AQE).
  *   2. cap < c <= cap * maxSaltFactor: SALTED join — the left row keeps one
  *      deterministic salt `pmod(xxhash64(id), g)`, the right row is
  *      replicated to all g salts, and the join key becomes (key, salt).
  *      Every pair with equal keys is still emitted exactly once (the left
  *      row's salt bucket), so recall is IDENTICAL to the unsalted join,
  *      but the hot key's work is spread over g reducer partitions instead
  *      of one straggler.
  *   3. c > cap * maxSaltFactor ("ultra-hot"): pair count is inherently
  *      quadratic (a 10^6-row key emits 10^12 pairs — no salting saves
  *      that), so these keys are routed through sorted-neighborhood pairing
  *      (O(n * window), `snmWindow`) instead of being dropped; the salvage
  *      pairs carry match_key = rules.length + ruleIndex so the affected
  *      volume is observable in match-key metrics downstream.
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

  /** Hot-key sets up to this size are collected to the driver as local
    * relations (they are broadcast downstream anyway) so the stats aggregate
    * can be unpersisted immediately; larger sets stay distributed.
    */
  val LocalHotKeyLimit = 100000L

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
    val base = Seq(
      BlockingRule("salient12",
        compositeKey(col("salient_token_1_l"), col("salient_token_2_l")),
        compositeKey(col("salient_token_1_r"), col("salient_token_2_r"))),
      BlockingRule("salient_inv",
        compositeKey(col("salient_token_1_l"), col("salient_token_2_l")),
        compositeKey(col("salient_token_2_r"), col("salient_token_1_r"))),
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

  /** Link-mode (left x right) pair generation, plus per-rule skew-tier
    * stats.
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
    val ranked = df
      .withColumn("__bk", blockKey)
      .withColumn("__sk", sortKey)
      .filter(col("__bk").isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__bk")).orderBy(col("__sk").asc, col(idCol).asc)))
    val l = ranked.select(col("__bk").as("__bk_l"), col("__rn").as("__rn_l"),
      col(idCol).as(s"${idCol}_l"))
    val r = ranked.select(col("__bk").as("__bk_r"), col("__rn").as("__rn_r"),
      col(idCol).as(s"${idCol}_r"))
    l.join(r, col("__bk_l") === col("__bk_r") && col("__rn_r") > col("__rn_l") &&
        col("__rn_r") <= col("__rn_l") + windowSize)
      .select(
        least(col(s"${idCol}_l"), col(s"${idCol}_r")).as(s"${idCol}_l"),
        greatest(col(s"${idCol}_l"), col(s"${idCol}_r")).as(s"${idCol}_r"))
      .distinct()
  }

  private def candidatePairs(
      l: DataFrame,
      r: DataFrame,
      idCol: String,
      rules: Seq[BlockingRule],
      skew: SkewConfig,
      selfDedup: Boolean): BlockingResult = {
    val cap = skew.maxBlockRows
    val ultraCap = cap.toLong * skew.maxSaltFactor

    // materialise every rule's key as a string column once per side, so the
    // earlier-rule exclusion predicates are cheap column references and the
    // hot-key tables (always string-keyed) join without implicit casts.
    val lKeyed = rules.zipWithIndex.foldLeft(l) { case (df, (rule, i)) =>
      df.withColumn(s"__bk_$i", rule.leftKey.cast("string"))
    }
    val rKeyed = rules.zipWithIndex.foldLeft(r) { case (df, (rule, i)) =>
      df.withColumn(s"__bk_$i", rule.rightKey.cast("string"))
    }

    // NARROW frames for the joins: id + rule keys only. Feature columns
    // are attached in the scoring stage (Pipeline.attachScoreCols) —
    // shuffling them through the rule join multiplied the blocking stage's
    // bytes by their width (measured 45 s -> the dominant pipeline stage at
    // 30k convs).
    val lNarrow = lKeyed.select(
      (col(s"${idCol}_l") +: rules.indices.map(i => col(s"__bk_$i"))): _*)
    val rNarrow = rKeyed.select(
      (col(s"${idCol}_r") +: rules.indices.map(i => col(s"__bk_$i"))): _*)

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
    val hot = counts.filter(col("count") > cap).persist()

    // materialise the (tiny, persisted) hot-key stats once: per-rule salt /
    // ultra counts drive driver-side plan PRUNING — the common all-cool case
    // pays one aggregate and none of the skew machinery. One row per rule,
    // so the collect is bounded by the rule count.
    val tierStats = hot.groupBy(col("rule")).agg(
        sum(when(not(col("one_sided")) && col("count") <= ultraCap, 1L).otherwise(0L))
          .as("n_salt"),
        sum(when(not(col("one_sided")) && col("count") > ultraCap, 1L).otherwise(0L))
          .as("n_ultra"),
        sum(when(col("one_sided"), 1L).otherwise(0L)).as("n_one_sided"))
      .collect()
    val ultraRules: Set[Int] = tierStats.filter(_.getLong(2) > 0).map(_.getInt(0)).toSet
    // rules whose keys must be NULLED before the unified join: ultra-hot
    // (salvaged via SNM) plus over-cap one-sided (dropped outright)
    val dropRules: Set[Int] =
      tierStats.filter(r => r.getLong(2) > 0 || r.getLong(3) > 0).map(_.getInt(0)).toSet
    val anySalt: Boolean = tierStats.exists(_.getLong(1) > 0)
    val statsOut: Seq[RuleTierStats] = tierStats.map(r =>
      RuleTierStats(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_.rule).toSeq

    // Hot-key tables are bounded by the hot-key count; when small enough
    // (the overwhelmingly common case — keys above cap are rare by
    // definition) collect them to the driver as local relations and drop
    // the cached stats aggregate immediately: repeated invocations (bench
    // reps, runLink after run) must not accumulate cached partitions for
    // the lifetime of the SparkContext (ADVICE r2). Beyond the limit the
    // distributed persisted frames are kept (correctness unchanged).
    val totalHot = tierStats.map(r => r.getLong(1) + r.getLong(2) + r.getLong(3)).sum
    val sp = l.sparkSession
    // saltInfo: two-sided salt-tier keys; ultra: two-sided ultra-hot keys
    // (SNM-salvaged); dropKeys: keys NULLED before the join = ultra plus
    // over-cap one-sided keys (no pairs to salvage — dropping is lossless).
    val (saltInfo, ultra, dropKeys) =
      if (totalHot == 0) {
        hot.unpersist()
        (sp.emptyDataFrame, sp.emptyDataFrame, sp.emptyDataFrame)
      } else if (totalHot <= LocalHotKeyLimit) {
        import sp.implicits._
        val hotRows = hot
          .select(col("rule"), col("key"), col("count"), col("keep_l"), col("one_sided"))
          .collect()
        hot.unpersist()
        val twoSided = hotRows.toSeq.filter(!_.getBoolean(4))
        val saltLocal = twoSided
          .filter(_.getLong(2) <= ultraCap)
          .map(r => (r.getInt(0), r.getString(1),
            math.ceil(r.getLong(2) / cap.toDouble).toInt, r.getBoolean(3)))
          .toDF("rule", "key", "g", "keep_l")
        val ultraLocal = twoSided
          .filter(_.getLong(2) > ultraCap)
          .map(r => (r.getInt(0), r.getString(1)))
          .toDF("rule", "key")
        val dropLocal = hotRows.toSeq
          .filter(r => r.getBoolean(4) || r.getLong(2) > ultraCap)
          .map(r => (r.getInt(0), r.getString(1)))
          .toDF("rule", "key")
        (saltLocal, ultraLocal, dropLocal)
      } else {
        (hot.filter(not(col("one_sided")) && col("count") <= ultraCap)
          .select(col("rule"), col("key"),
            ceil(col("count") / lit(cap.toDouble)).cast("int").as("g"), col("keep_l")),
          hot.filter(not(col("one_sided")) && col("count") > ultraCap)
            .select(col("rule"), col("key")),
          hot.filter(col("one_sided") || col("count") > ultraCap)
            .select(col("rule"), col("key")))
      }

    // Null dropped keys (ultra-hot + over-cap one-sided) on BOTH sides
    // before the join: the rule neither emits nor excludes on them
    // (exclusion on a key whose pairs were not fully emitted would silently
    // lose recall — ADVICE.md round 1; a one-sided key can never be
    // key-equal across a pair, so nulling it changes no exclusion outcome).
    // Only rules that actually have dropped keys pay the broadcast lookup.
    def nullDropped(df: DataFrame): DataFrame = dropRules.toSeq.sorted.foldLeft(df) { (d, i) =>
      val u = broadcast(dropKeys.filter(col("rule") === i)
        .select(col("key").as(s"__uk_$i"), lit(true).as(s"__uh_$i")))
      d.join(u, d(s"__bk_$i") === col(s"__uk_$i"), "left")
        .withColumn(s"__bk_$i",
          when(col(s"__uh_$i"), lit(null)).otherwise(col(s"__bk_$i")))
        .drop(s"__uk_$i", s"__uh_$i")
    }
    val lK = if (dropRules.isEmpty) lNarrow else nullDropped(lNarrow)
    val rK = if (dropRules.isEmpty) rNarrow else nullDropped(rNarrow)

    // ---- ONE unified join for every rule and tier, keyed (rule, key,
    // salt). Each side explodes its key array to (rule, key) rows carrying
    // the full key array for exclusion; salt-tier keys get g salts (left
    // keeps one deterministic salt, right replicates to all g — every
    // equal-key pair still emitted exactly once, spread over g reducer
    // partitions); cool keys ride the same join with salt 0. One shuffle
    // join replaces #rules separate joins — at 250k convs the per-rule plan
    // was STAGE-LATENCY bound (~100 s at both local[8] and local[32]).
    val kArr = array(rules.indices.map(i => col(s"__bk_$i")): _*)
    def explodeSide(df: DataFrame, idName: String, arrName: String): DataFrame =
      df.withColumn(arrName, kArr)
        .select(col(idName), col(arrName),
          posexplode(col(arrName)).as(Seq("rule", "key")))
        .filter(col("key").isNotNull)

    val lEx = explodeSide(lK, s"${idCol}_l", "__karr_l")
    val rEx = explodeSide(rK, s"${idCol}_r", "__karr_r")
    // Per-key salt roles: the keep side (bigger) holds ONE deterministic
    // salt — it is partitioned into g buckets; the other side replicates to
    // all g salts. Every equal-key pair still lands in exactly one bucket.
    val saltLookup = broadcast(saltInfo)
    def salted(df: DataFrame, idName: String, keeps: Column): DataFrame =
      df.join(saltLookup, Seq("rule", "key"), "left")
        .withColumn("__salt", explode(
          when(col("g").isNull, array(lit(0)))
            .when(keeps, array(pmod(xxhash64(col(idName)), col("g")).cast("int")))
            .otherwise(sequence(lit(0), col("g") - 1))))
        .drop("g", "keep_l")
    val lSide =
      if (!anySalt) lEx.withColumn("__salt", lit(0))
      else salted(lEx, s"${idCol}_l", col("keep_l"))
    val rSide =
      if (!anySalt) rEx.withColumn("__salt", lit(0))
      else salted(rEx, s"${idCol}_r", not(col("keep_l")))

    val joined0 = lSide.join(rSide, Seq("rule", "key", "__salt"))
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
    val idPair = Seq(col(s"${idCol}_l"), col(s"${idCol}_r"), col("match_key"))

    // ---- sorted-neighborhood salvage over ultra-hot blocks
    // (plan built only when an ultra key exists).
    val allPairs =
      if (ultraRules.isEmpty) mainPairs
      else snmSalvage(lKeyed, rKeyed, ultra, rules, idCol, skew, selfDedup) match {
        case None => mainPairs
        case Some(s) =>
          // exactly-once overall: a salvage pair already emitted by a cool /
          // salted rule is dropped (salvage volume is rare by construction,
          // so this anti-join is cheap relative to mainPairs).
          val ids = Seq(s"${idCol}_l", s"${idCol}_r")
          val dedup = s.join(mainPairs.select(ids.head, ids.tail: _*), ids, "left_anti")
          mainPairs.unionByName(dedup.select(idPair: _*))
      }

    BlockingResult(allPairs, statsOut)
  }

  /** Sorted-neighborhood pairs for rows whose rule-key is ultra-hot:
    * one window pass per rule over only the affected rows; self-dedup pairs
    * ordered id_l < id_r, link-mode pairs cross-side only. Returns
    * (id_l, id_r, match_key = rules.length + rule) or None when no rule can
    * have ultra keys (ultra is lazily evaluated — the plan is built
    * unconditionally and unioned; empty ultra just yields zero rows).
    */
  private def snmSalvage(
      lKeyed: DataFrame,
      rKeyed: DataFrame,
      ultra: DataFrame,
      rules: Seq[BlockingRule],
      idCol: String,
      skew: SkewConfig,
      selfDedup: Boolean): Option[DataFrame] = {
    val sortL = skew.snmSortCol.map(c => col(c + "_l")).getOrElse(col(s"${idCol}_l"))
    val sortR = skew.snmSortCol.map(c => col(c + "_r")).getOrElse(col(s"${idCol}_r"))

    val perRule = rules.indices.map { i =>
      val uk = broadcast(ultra.filter(col("rule") === i).select(col("key").as("__ukey")))
      val rows =
        if (selfDedup)
          lKeyed.join(uk, lKeyed(s"__bk_$i") === col("__ukey"), "left_semi")
            .select(col(s"__bk_$i").as("__k"),
              col(s"${idCol}_l").as("__id"), sortL.as("__sort"), lit("l").as("__side"))
        else {
          val a = lKeyed.join(uk, lKeyed(s"__bk_$i") === col("__ukey"), "left_semi")
            .select(col(s"__bk_$i").as("__k"),
              col(s"${idCol}_l").as("__id"), sortL.as("__sort"), lit("l").as("__side"))
          val b = rKeyed.join(uk, rKeyed(s"__bk_$i") === col("__ukey"), "left_semi")
            .select(col(s"__bk_$i").as("__k"),
              col(s"${idCol}_r").as("__id"), sortR.as("__sort"), lit("r").as("__side"))
          a.unionByName(b)
        }
      val ranked = rows.withColumn("__rn", row_number().over(
        Window.partitionBy(col("__k")).orderBy(col("__sort").asc, col("__side").asc, col("__id").asc)))
      val a = ranked.select(col("__k").as("__k_a"), col("__rn").as("__rn_a"),
        col("__id").as("__id_a"), col("__side").as("__side_a"))
      val b = ranked.select(col("__k").as("__k_b"), col("__rn").as("__rn_b"),
        col("__id").as("__id_b"), col("__side").as("__side_b"))
      val windowed = a.join(b, col("__k_a") === col("__k_b") &&
        col("__rn_b") > col("__rn_a") && col("__rn_b") <= col("__rn_a") + skew.snmWindow)
      val pairs =
        if (selfDedup)
          windowed.select(
            least(col("__id_a"), col("__id_b")).as(s"${idCol}_l"),
            greatest(col("__id_a"), col("__id_b")).as(s"${idCol}_r"))
        else
          windowed.filter(col("__side_a") =!= col("__side_b"))
            .select(
              when(col("__side_a") === "l", col("__id_a")).otherwise(col("__id_b"))
                .as(s"${idCol}_l"),
              when(col("__side_a") === "l", col("__id_b")).otherwise(col("__id_a"))
                .as(s"${idCol}_r"))
      pairs.withColumn("match_key", lit(rules.length + i))
    }
    if (perRule.isEmpty) None
    else Some(perRule.reduce(_ unionByName _)
      .groupBy(col(s"${idCol}_l"), col(s"${idCol}_r"))
      .agg(min(col("match_key")).as("match_key")))
  }
}
