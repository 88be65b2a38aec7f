package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.blocking.{Blocking, BlockingRule}
import graft.score.{Comparison, ComparisonLevel, ScoreModel, Scoring}
import graft.functions.GraftFunctions._
import graft.functions.JaroWinkler.jaroWinkler

/** Entity-resolution pipeline stages expressed as oracle-checkable queries
  * over `documents` (stand-in records), each run by the pipeline's own
  * operator: union-of-rules blocking with match_key dedup (`Blocking`;
  * reference: linking_model/blocking.py + Splink blocking semantics),
  * Fellegi-Sunter log2-Bayes-factor scoring (`Scoring.score`; reference:
  * data/splink_model.json comparison cascades), and best-match selection
  * with distinguishability (`Evaluate.bestMatches`; reference:
  * post_linkage/analyse_results.py:48-161).
  */
object ErQueries {
  import Tables.load
  import TextQueries.duckToks

  // ---- shared feature projection -------------------------------------
  private def features(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents", fanout = true)
    val toks = tokens(col("text"))
    d.select(
      col("doc_id"), col("lang"), col("n_chars"),
      normText(col("text")).as("norm_text"),
      toks.as("toks"),
      array_join(slice(toks, 1, 3), " ").as("head3"),
      array_join(when(size(toks) >= 3, slice(toks, -3, 3)).otherwise(toks), " ").as("tail3"))
  }

  private val duckFeatures: String = s"""
    SELECT doc_id, lang, n_chars,
           trim(regexp_replace(regexp_replace(upper(text), '[[:punct:]]', ' ', 'g'),
                '\\s+', ' ', 'g')) AS norm_text,
           $duckToks AS toks,
           array_to_string(($duckToks)[1:3], ' ') AS head3,
           array_to_string(CASE WHEN len($duckToks) >= 3
             THEN ($duckToks)[-3:] ELSE $duckToks END, ' ') AS tail3
    FROM documents"""

  /** Materialised feature table: every query in this family references the
    * feature subplan several times (the blocking keys, both sides' text
    * joins, plus labels in q36/q37 and the cascade in q35) — as a
    * plain subplan each reference re-derives the tokenise-regex chain from
    * the scan (8 scans in the r5 q35 physical plan), and the duplicated
    * subtree multiplies Catalyst/AQE planning and codegen work. A lazy
    * localCheckpoint materialises it ONCE per query invocation (the
    * pipeline's stage-boundary device, guide §1.2); each bench rep still
    * recomputes it from parquet — a fresh RDD per call, not a plan-keyed
    * cache.
    */
  private def featuresM(s: SparkSession, dir: String): DataFrame =
    features(s, dir).localCheckpoint(false)

  // ---- union-of-rules blocking: the pipeline's operator, `Blocking` ----
  /** The three rules, over the keyed frame's k0 = head3, k1 = lang#n_chars
    * and k2 = tail3 (null keys never join).
    */
  private val rules: Seq[BlockingRule] = Seq("head3", "lang_n_chars", "tail3")
    .zipWithIndex.map { case (name, i) => BlockingRule(name, col(s"k${i}_l"), col(s"k${i}_r")) }

  /** No key is ever over cap × `Int.MaxValue` rows, so no key reaches
    * sorted-neighbourhood salvage: salting keeps every key-equal pair, and
    * the pairs are the oracle's plain rule joins at any scale factor.
    */
  private val skew = Blocking.SkewConfig(maxSaltFactor = Int.MaxValue)

  private def keyed(f: DataFrame): DataFrame = f.select(col("doc_id"),
    col("head3").as("k0"), concat_ws("#", col("lang"), col("n_chars")).as("k1"),
    col("tail3").as("k2"))

  /** Self-mode pairs (doc_id_l, doc_id_r, match_key): each pair once,
    * tagged with its first matching rule.
    */
  private def blockedPairs(f: DataFrame): DataFrame =
    Blocking.candidatePairsSelfWithStats(keyed(f), "doc_id", rules, skew).pairs

  /** The score inputs norm_text and toks, joined to each side by id (the
    * shape of `Pipeline.attachScoreCols`).
    */
  private def withTexts(pairs: DataFrame, l: DataFrame, r: DataFrame): DataFrame = {
    def side(df: DataFrame, sfx: String) = df.select(col("doc_id").as(s"doc_id$sfx"),
      col("norm_text").as(s"norm_text$sfx"), col("toks").as(s"toks$sfx"))
    pairs.join(side(l, "_l"), Seq("doc_id_l")).join(side(r, "_r"), Seq("doc_id_r"))
  }

  /** Scored self-mode pairs over one materialised feature table. */
  private def scoredPairs(f: DataFrame): DataFrame =
    score(withTexts(blockedPairs(f), f, f))

  /** The top candidate per doc_id_r (weight descending, then doc_id_l
    * ascending) as `Evaluate.bestMatches`' (conv_id_r, conv_id_l,
    * match_weight, distinguishability, match_count), both weights e6-scaled.
    */
  private def bestOf(scored: DataFrame): DataFrame =
    graft.evaluate.Evaluate.bestMatches(scored.select(
      col("doc_id_l").as("conv_id_l"), col("doc_id_r").as("conv_id_r"),
      col("match_weight_e6").as("match_weight")))

  /** Labels (conv_id, correct_conv_id): the least doc_id of each norm_text. */
  private def labels(f: DataFrame): DataFrame = f.select(col("doc_id").as("conv_id"),
    min(col("doc_id")).over(Window.partitionBy(col("norm_text"))).as("correct_conv_id"))

  private val duckBlockedPairs: String = s"""
    WITH f AS ($duckFeatures),
    keyed AS (
      SELECT doc_id, norm_text, toks, lang, n_chars,
             head3 AS k0,
             concat_ws('#', lang, CAST(n_chars AS VARCHAR)) AS k1,
             tail3 AS k2
      FROM f),
    pairs AS (
      SELECT l.doc_id AS doc_id_l, r.doc_id AS doc_id_r, 0 AS match_key,
             l.norm_text AS norm_text_l, r.norm_text AS norm_text_r,
             l.toks AS toks_l, r.toks AS toks_r
      FROM keyed l JOIN keyed r ON l.k0 = r.k0 AND l.doc_id < r.doc_id
      UNION ALL
      SELECT l.doc_id, r.doc_id, 1,
             l.norm_text, r.norm_text, l.toks, r.toks
      FROM keyed l JOIN keyed r ON l.k1 = r.k1 AND l.doc_id < r.doc_id
      WHERE NOT coalesce(l.k0 = r.k0, FALSE)
      UNION ALL
      SELECT l.doc_id, r.doc_id, 2,
             l.norm_text, r.norm_text, l.toks, r.toks
      FROM keyed l JOIN keyed r ON l.k2 = r.k2 AND l.doc_id < r.doc_id
      WHERE NOT coalesce(l.k0 = r.k0, FALSE) AND NOT coalesce(l.k1 = r.k1, FALSE))
    SELECT * FROM pairs"""

  // ---- Fellegi-Sunter scoring: the pipeline's scorer, `Scoring.score` ----
  // Every Bayes factor of the model below is a power of two, so the sum of
  // the bf_* columns' log2s rounds exactly to an integer w_int, and
  // match_weight = log2(1/999) + w_int (prior 0.001). The emitted BIGINTs are
  // integer arithmetic on w_int, never on the double match_weight, whose
  // last ulp may differ between engines:
  //   match_weight_e6      = w_int·10^6 + round(log2(1/999)·10^6)
  //   match_probability_e8 = half-up(p·10^8), p = 2^w/(999 + 2^w)
  // (numerator and denominator times 2^-w when w < 0); w_int ∈ [-9, 24], so
  // 2·2^w·10^8 ≤ 3.4e15: no overflow.

  /** The ER model over (norm_text, toks)_l/_r, duckScore's CASE ladders:
    * text exact or JW over the first 80 chars, token-set Jaccard, and the
    * first number in the text.
    */
  private val model: ScoreModel = {
    def level(name: String, cond: Column, log2Bf: Int) =
      ComparisonLevel(name, cond, math.pow(2, log2Bf))
    val (textL, textR) = (col("norm_text_l"), col("norm_text_r"))
    val jw = jaroWinkler(substring(textL, 1, 80), substring(textR, 1, 80))
    val jac = jaccard(array_distinct(col("toks_l")), array_distinct(col("toks_r")))
    def firstNumber(t: Column) =
      try_element_at(regexp_extract_all(t, lit("[0-9]+"), lit(0)), lit(1))
    val (numL, numR) = (firstNumber(textL), firstNumber(textR))
    ScoreModel(0.001, Seq(
      Comparison("text", level("exact", textL === textR, 10) +:
        Seq(0.95 -> 7, 0.9 -> 5, 0.8 -> 2).map { case (t, k) => level(s"jw_$t", jw > t, k) },
        elseBf = lit(math.pow(2, -2))),
      Comparison("token_jaccard", Seq(0.9 -> 8, 0.7 -> 6, 0.5 -> 4, 0.3 -> 1)
        .map { case (t, k) => level(s"jac_$t", jac >= t, k) }, elseBf = lit(math.pow(2, -3))),
      Comparison("first_number", Seq(level("null", numL.isNull || numR.isNull, 0),
        level("exact", numL === numR, 6)), elseBf = lit(math.pow(2, -4)))))
  }

  /** round(log2(1/999) * 1e6) = -9964341, the literal in duckScore. */
  private val PriorE6 = math.round(model.priorLog2 * 1e6)

  /** `Scoring.score` under `model`, then duckScore's w_int-derived BIGINTs. */
  private def score(pairs: DataFrame): DataFrame = {
    val log2Bfs = model.comparisons.map(c => log2(col(s"bf_${c.name}")))
    val (pos, neg) = ("shiftleft(1L, CAST(w_int AS INT))", "shiftleft(1L, CAST(-w_int AS INT))")
    Scoring.score(pairs, model)
      .withColumn("w_int", round(log2Bfs.reduce(_ + _)).cast("long"))
      .withColumn("match_weight_e6", col("w_int") * lit(1000000L) + lit(PriorE6))
      .withColumn("match_probability_e8", expr(s"""CASE WHEN w_int >= 0
        THEN (2 * $pos * 100000000 + 999 + $pos) div (2 * (999 + $pos))
        ELSE (2 * 100000000L + 999 * $neg + 1) div (2 * (999 * $neg + 1)) END"""))
  }

  private val duckScore: String = s"""
    SELECT doc_id_l, doc_id_r, match_key, w_int,
      w_int * 1000000 - 9964341 AS match_weight_e6,
      CASE WHEN w_int >= 0 THEN
        CAST((2 * ((CAST(1 AS BIGINT) << CAST(w_int AS INT)) * 100000000)
              + 999 + (CAST(1 AS BIGINT) << CAST(w_int AS INT)))
             // (2 * (999 + (CAST(1 AS BIGINT) << CAST(w_int AS INT)))) AS BIGINT)
      ELSE
        CAST((2 * CAST(100000000 AS BIGINT)
              + 999 * (CAST(1 AS BIGINT) << CAST(-w_int AS INT)) + 1)
             // (2 * (999 * (CAST(1 AS BIGINT) << CAST(-w_int AS INT)) + 1)) AS BIGINT)
      END AS match_probability_e8
    FROM (
      SELECT doc_id_l, doc_id_r, match_key,
        CAST(CASE WHEN norm_text_l = norm_text_r THEN 10
                  WHEN jaro_winkler_similarity(substr(norm_text_l, 1, 80),
                                               substr(norm_text_r, 1, 80)) > 0.95 THEN 7
                  WHEN jaro_winkler_similarity(substr(norm_text_l, 1, 80),
                                               substr(norm_text_r, 1, 80)) > 0.9 THEN 5
                  WHEN jaro_winkler_similarity(substr(norm_text_l, 1, 80),
                                               substr(norm_text_r, 1, 80)) > 0.8 THEN 2
                  ELSE -2 END
           + CASE WHEN jac >= 0.9 THEN 8 WHEN jac >= 0.7 THEN 6
                  WHEN jac >= 0.5 THEN 4 WHEN jac >= 0.3 THEN 1
                  ELSE -3 END
           + CASE WHEN num1_l IS NULL OR num1_r IS NULL THEN 0
                  WHEN num1_l = num1_r THEN 6 ELSE -4 END AS BIGINT) AS w_int
      FROM (
        SELECT *,
          len(list_intersect(list_distinct(toks_l), list_distinct(toks_r)))::DOUBLE /
            greatest(len(list_distinct(toks_l || toks_r)), 1) AS jac,
          regexp_extract_all(norm_text_l, '[0-9]+')[1] AS num1_l,
          regexp_extract_all(norm_text_r, '[0-9]+')[1] AS num1_r
        FROM pairs) p) q"""

  val defs: Seq[QueryDef] = Seq(
    // --- q26: blocking pair generation with match_key.
    QueryDef(
      "q26_blocking_pairs",
      (s, dir) => blockedPairs(featuresM(s, dir)),
      Some(s"""
        WITH base AS ($duckBlockedPairs)
        SELECT doc_id_l, doc_id_r, match_key FROM base
      """)
    ),

    // --- q27: Fellegi-Sunter match weights on blocked pairs.
    QueryDef(
      "q27_fs_scores",
      (s, dir) => scoredPairs(featuresM(s, dir))
        .select(col("doc_id_l"), col("doc_id_r"), col("match_key"),
          col("match_weight_e6"), col("match_probability_e8")),
      Some(s"""
        WITH pairs AS ($duckBlockedPairs),
        scored AS ($duckScore)
        SELECT doc_id_l, doc_id_r, match_key, match_weight_e6, match_probability_e8
        FROM scored
      """)
    ),

    // --- q28: best match per right-record with distinguishability
    // (reference: analyse_results.py:106-140 — rn=1 with tie-break on
    // doc_id_l, LEAD gap, category ladder).
    QueryDef(
      "q28_best_match",
      // distinguishability is a DIFFERENCE of weights, so the log2-prior
      // term cancels: d_e6 is an exact multiple of 10^6 and the d > 10/5/0
      // ladder maps 1:1 onto the e6-scaled thresholds.
      (s, dir) => bestOf(scoredPairs(featuresM(s, dir)))
        .select(col("conv_id_r").as("doc_id_r"), col("conv_id_l").as("doc_id_l"),
          col("match_weight").as("match_weight_e6"),
          col("distinguishability").as("distinguishability_e6"), col("match_count"))
        .withColumn("d_category",
          when(col("match_count") === 1, "01: one match only")
            .when(col("distinguishability_e6").isNull, "05: nan")
            .when(col("distinguishability_e6") > 10000000L, "02: d > 10")
            .when(col("distinguishability_e6") > 5000000L, "03: d > 5")
            .when(col("distinguishability_e6") > 0L, "04: d > 0")
            .otherwise("06: d = 0")),
      Some(s"""
        WITH pairs AS ($duckBlockedPairs),
        scored AS ($duckScore),
        win AS (
          SELECT doc_id_r, doc_id_l, match_weight_e6,
            ROW_NUMBER() OVER (PARTITION BY doc_id_r
                               ORDER BY match_weight_e6 DESC, doc_id_l ASC) AS rn,
            match_weight_e6 - LEAD(match_weight_e6) OVER (PARTITION BY doc_id_r
                               ORDER BY match_weight_e6 DESC, doc_id_l ASC)
              AS distinguishability_e6,
            COUNT(*) OVER (PARTITION BY doc_id_r) AS match_count
          FROM scored)
        SELECT doc_id_r, doc_id_l, match_weight_e6, distinguishability_e6, match_count,
          CASE WHEN match_count = 1 THEN '01: one match only'
               WHEN distinguishability_e6 IS NULL THEN '05: nan'
               WHEN distinguishability_e6 > 10000000 THEN '02: d > 10'
               WHEN distinguishability_e6 > 5000000 THEN '03: d > 5'
               WHEN distinguishability_e6 > 0 THEN '04: d > 0'
               ELSE '06: d = 0' END AS d_category
        FROM win WHERE rn = 1
      """)
    ),

    // --- q34: tiered hot-block handling (north_rule "salted hot-block
    // splitting"). One deliberately hot rule (key = lang): blocks up to
    // cap*factor join salted with the FULL pair set preserved (the oracle is
    // the plain self-join — proving zero recall loss under salting); blocks
    // beyond that are salvaged via sorted-neighborhood (window pairs on
    // doc_id order, match_key = 1 = rules.length + rule).
    QueryDef(
      "q34_salted_blocking",
      (s, dir) => {
        val d = load(s, dir, "documents").select(col("doc_id"), col("lang"))
        Blocking.candidatePairsSelfWithStats(
          d, "doc_id",
          Seq(BlockingRule("lang", col("lang_l"), col("lang_r"))),
          Blocking.SkewConfig(maxBlockRows = 50, maxSaltFactor = 2, snmWindow = 5)).pairs
      },
      Some("""
        WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        docs AS (SELECT doc_id, lang FROM documents),
        fullp AS (
          SELECT l.doc_id AS doc_id_l, r.doc_id AS doc_id_r, 0 AS match_key
          FROM docs l JOIN docs r ON l.lang = r.lang AND l.doc_id < r.doc_id
          JOIN cnt ON cnt.lang = l.lang
          WHERE cnt.c <= 100),
        ranked AS (
          SELECT d.doc_id, d.lang,
                 ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY d.doc_id ASC) AS rn
          FROM docs d JOIN cnt ON cnt.lang = d.lang WHERE cnt.c > 100),
        snm AS (
          SELECT least(l.doc_id, r.doc_id) AS doc_id_l,
                 greatest(l.doc_id, r.doc_id) AS doc_id_r, 1 AS match_key
          FROM ranked l JOIN ranked r
            ON l.lang = r.lang AND r.rn > l.rn AND r.rn <= l.rn + 5)
        SELECT * FROM fullp UNION ALL SELECT DISTINCT * FROM snm
      """)
    ),

    // --- q35: link-mode merge — deterministic exact cascade (exact +
    // unique-shingle stages via graft.resolve.ExactCascade) wins;
    // probabilistic best match fills unmatched messy records (reference:
    // examples/example_matching.py flow + match_candidate_selection.py:
    // 100-130 merge semantics). Canonical = doc_id %% 3 != 0, messy = rest.
    QueryDef(
      "q35_link_merge",
      (s, dir) => {
        val f = featuresM(s, dir)
        val canonF = f.filter(col("doc_id") % 3 =!= 0)
        val messyF = f.filter(col("doc_id") % 3 === 0)
        // det feeds both the carry-forward anti-join and the final merge;
        // materialised once so the cascade's aggregate/join chain is not
        // re-derived per consumer (same lazy stage-boundary device as f)
        val det = graft.resolve.ExactCascade.run(
          messyF.select(col("doc_id"), col("norm_text").as("sig_text"),
            col("lang").as("block_key")),
          canonF.select(col("doc_id"), col("norm_text").as("sig_text"),
            col("lang").as("block_key")),
          idCol = "doc_id").localCheckpoint(false)
        val remaining = messyF.join(det.select("doc_id"), Seq("doc_id"), "left_anti")
        val pairs = Blocking.candidatePairsLinkWithStats(
          keyed(canonF), keyed(remaining), "doc_id", rules, skew).pairs
        // the e6-scaled weight rides through Evaluate.bestMatches under the
        // generic "match_weight" name (ordering/ties are scale-invariant);
        // mergeMatches upcasts it to DOUBLE alongside the deterministic
        // NULLs, but every value is an integer < 2^53 so the final cast
        // back to BIGINT is exact.
        val best = bestOf(score(withTexts(pairs, canonF, remaining)))
          .select("conv_id_r", "conv_id_l", "match_weight")
        val merged = graft.evaluate.Evaluate.mergeMatches(
          det.withColumnRenamed("doc_id", "conv_id"), best)
        merged.select(col("conv_id_r").as("doc_id_r"),
          col("conv_id_l").as("doc_id_l"), col("match_reason"),
          col("match_weight").cast("long").as("match_weight_e6"))
      },
      Some(s"""
        WITH f AS ($duckFeatures),
        canonf AS (SELECT * FROM f WHERE doc_id % 3 <> 0),
        messyf AS (SELECT * FROM f WHERE doc_id % 3 = 0),
        exact AS (
          SELECT m.doc_id, cd.rid AS resolved_canonical_id, 'exact_match' AS match_reason
          FROM messyf m JOIN (SELECT norm_text, lang, min(doc_id) AS rid
                              FROM canonf GROUP BY norm_text, lang) cd
            ON m.norm_text = cd.norm_text AND m.lang = cd.lang),
        rem AS (SELECT * FROM messyf WHERE doc_id NOT IN (SELECT doc_id FROM exact)),
        canon_sh AS (
          SELECT lang, doc_id AS cand_id,
                 unnest(list_distinct(CASE WHEN len(norm_text) >= 5
                   THEN list_transform(range(1, len(norm_text) - 3), i -> substr(norm_text, i, 5))
                   ELSE CAST([] AS VARCHAR[]) END)) AS shingle
          FROM canonf),
        uniq_sh AS (
          SELECT lang, shingle, min(cand_id) AS cand_id
          FROM canon_sh GROUP BY lang, shingle HAVING count(DISTINCT cand_id) = 1),
        messy_sh AS (
          SELECT lang, doc_id,
                 unnest(list_distinct(CASE WHEN len(norm_text) >= 5
                   THEN list_transform(range(1, len(norm_text) - 3), i -> substr(norm_text, i, 5))
                   ELSE CAST([] AS VARCHAR[]) END)) AS shingle
          FROM rem),
        sh_match AS (
          SELECT doc_id, min(cand_id) AS resolved_canonical_id,
                 'unique_shingle' AS match_reason
          FROM (SELECT m.doc_id, u.cand_id FROM messy_sh m
                JOIN uniq_sh u ON m.lang = u.lang AND m.shingle = u.shingle) z
          GROUP BY doc_id HAVING count(DISTINCT cand_id) = 1 AND count(*) >= 3),
        det AS (SELECT * FROM exact UNION ALL SELECT * FROM sh_match),
        rem2 AS (SELECT * FROM messyf WHERE doc_id NOT IN (SELECT doc_id FROM det)),
        kc AS (SELECT doc_id, norm_text, toks, head3 AS k0,
                      concat_ws('#', lang, CAST(n_chars AS VARCHAR)) AS k1, tail3 AS k2
               FROM canonf),
        km AS (SELECT doc_id, norm_text, toks, head3 AS k0,
                      concat_ws('#', lang, CAST(n_chars AS VARCHAR)) AS k1, tail3 AS k2
               FROM rem2),
        pairs AS (
          SELECT l.doc_id AS doc_id_l, r.doc_id AS doc_id_r, 0 AS match_key,
                 l.norm_text AS norm_text_l, r.norm_text AS norm_text_r,
                 l.toks AS toks_l, r.toks AS toks_r
          FROM kc l JOIN km r ON l.k0 = r.k0
          UNION ALL
          SELECT l.doc_id, r.doc_id, 1, l.norm_text, r.norm_text, l.toks, r.toks
          FROM kc l JOIN km r ON l.k1 = r.k1 WHERE NOT coalesce(l.k0 = r.k0, FALSE)
          UNION ALL
          SELECT l.doc_id, r.doc_id, 2, l.norm_text, r.norm_text, l.toks, r.toks
          FROM kc l JOIN km r ON l.k2 = r.k2
          WHERE NOT coalesce(l.k0 = r.k0, FALSE) AND NOT coalesce(l.k1 = r.k1, FALSE)),
        scored AS ($duckScore),
        best AS (
          SELECT doc_id_r, doc_id_l, match_weight_e6 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id_r
                      ORDER BY match_weight_e6 DESC, doc_id_l ASC) AS rn FROM scored) t
          WHERE rn = 1)
        SELECT d.doc_id AS doc_id_r, d.resolved_canonical_id AS doc_id_l,
               d.match_reason, CAST(NULL AS BIGINT) AS match_weight_e6
        FROM det d
        UNION ALL
        SELECT b.doc_id_r, b.doc_id_l, 'probabilistic' AS match_reason, b.match_weight_e6
        FROM best b WHERE b.doc_id_r NOT IN (SELECT doc_id FROM det)
      """)
    ),

    // --- q36: label-accuracy report — per-category accuracy with a
    // GROUPING SETS OVERALL row (reference: benchmarking/analysis/
    // accuracy.py:29-66). Matches = q28 best-match; labels = exact-dup
    // canonical (min doc_id per norm_text).
    QueryDef(
      "q36_accuracy_report",
      (s, dir) => {
        val f = featuresM(s, dir)
        val matches = bestOf(scoredPairs(f)).select(col("conv_id_r"), col("conv_id_l"),
          when(col("match_weight") > 0, "strong").otherwise("weak").as("match_reason"))
        graft.evaluate.Evaluate.accuracyByReason(matches, labels(f))
          .drop("accuracy_pct") // DOUBLE is human-facing; hash the exact BIGINT
      },
      Some(s"""
        WITH pairs AS ($duckBlockedPairs),
        scored AS ($duckScore),
        best AS (
          SELECT doc_id_r AS conv_id_r, doc_id_l AS conv_id_l,
                 CASE WHEN match_weight_e6 > 0 THEN 'strong' ELSE 'weak' END AS match_reason
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id_r
                          ORDER BY match_weight_e6 DESC, doc_id_l ASC) AS rn FROM scored) t
          WHERE rn = 1),
        labels AS (
          SELECT doc_id AS conv_id,
                 min(doc_id) OVER (PARTITION BY norm_text) AS correct_conv_id
          FROM ($duckFeatures) ff),
        joined AS (
          SELECT b.match_reason,
                 CASE WHEN b.conv_id_l = l.correct_conv_id THEN 1 ELSE 0 END AS is_correct
          FROM best b JOIN labels l ON b.conv_id_r = l.conv_id)
        SELECT coalesce(match_reason, 'OVERALL') AS match_reason,
               count(*) AS n_matches, CAST(sum(is_correct) AS BIGINT) AS n_correct,
               CAST((2 * sum(is_correct) * 1000000 + count(*)) // (2 * count(*)) AS BIGINT)
                 AS accuracy_pct_e4
        FROM joined GROUP BY GROUPING SETS ((match_reason), ())
      """)
    ),

    // --- q37: nth-false-positive drill-down (reference:
    // accuracy_from_labels.py:62-81 — LIMIT 1 OFFSET n).
    QueryDef(
      "q37_nth_fp_example",
      (s, dir) => {
        val f = featuresM(s, dir)
        val matches = bestOf(scoredPairs(f)).select(col("conv_id_r"), col("conv_id_l"),
          lit("best").as("match_reason"))
        graft.evaluate.Evaluate.nthFalsePositive(matches, labels(f), 5)
          .select(col("conv_id_r").as("doc_id_r"), col("conv_id_l").as("doc_id_l"),
            col("correct_conv_id").as("correct_doc_id"))
      },
      Some(s"""
        WITH pairs AS ($duckBlockedPairs),
        scored AS ($duckScore),
        best AS (
          SELECT doc_id_r AS conv_id_r, doc_id_l AS conv_id_l
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id_r
                          ORDER BY match_weight_e6 DESC, doc_id_l ASC) AS rn FROM scored) t
          WHERE rn = 1),
        labels AS (
          SELECT doc_id AS conv_id,
                 min(doc_id) OVER (PARTITION BY norm_text) AS correct_conv_id
          FROM ($duckFeatures) ff)
        SELECT b.conv_id_r AS doc_id_r, b.conv_id_l AS doc_id_l,
               l.correct_conv_id AS correct_doc_id
        FROM best b JOIN labels l ON b.conv_id_r = l.conv_id
        WHERE b.conv_id_l <> l.correct_conv_id
        ORDER BY b.conv_id_r ASC, b.conv_id_l ASC
        LIMIT 1 OFFSET 5
      """)
    ),

    // --- q40: deepest-unique-suffix resolution — the reference's trie
    // fallback (resolve_with_trie.py:16-56: build_suffix_trie + find_address
    // per postcode group) re-expressed relationally (SURVEY §2.11; see
    // ExactCascade.resolveWithSuffixes for why a trie blob does not scale).
    // Messy = doc_id%3==0, canonical = rest, block = lang.
    QueryDef(
      "q40_suffix_trie",
      (s, dir) => {
        // q40 only reads (doc_id, norm_text, lang) — materialising the
        // FULL feature table (featuresM) cost more than it saved here
        // (measured 0.6 s -> 1.3 s): a narrow projection is checkpointed
        // instead, still once for both the messy and canonical frames and
        // still a pushdown barrier for the suffix explode
        val f = load(s, dir, "documents", fanout = true)
          .select(col("doc_id"), normText(col("text")).as("sig_text"),
            col("lang").as("block_key"), (col("doc_id") % 3).as("__m3"))
          .localCheckpoint(false)
        graft.resolve.ExactCascade.resolveWithSuffixes(
            f.filter(col("__m3") === 0).drop("__m3"),
            f.filter(col("__m3") =!= 0).drop("__m3"),
            idCol = "doc_id")
          .select(col("doc_id"), col("resolved_canonical_id").as("resolved_doc_id"),
            col("depth"))
      },
      Some(s"""
        WITH f AS ($duckFeatures),
        canonf AS (SELECT doc_id, lang, string_split(norm_text, ' ') AS toks
                   FROM f WHERE doc_id % 3 <> 0),
        messyf AS (SELECT doc_id, lang, string_split(norm_text, ' ') AS toks
                   FROM f WHERE doc_id % 3 = 0),
        cs0 AS (SELECT lang, doc_id, toks,
                       unnest(range(1, least(len(toks), 12) + 1)) AS k
                FROM canonf WHERE len(toks) > 0),
        ca AS (SELECT lang, k,
                      array_to_string(toks[len(toks)-k+1:], ' ') AS suffix,
                      count(DISTINCT doc_id) AS n_cand, min(doc_id) AS cand_id
               FROM cs0 GROUP BY 1, 2, 3),
        ms0 AS (SELECT lang, doc_id, toks,
                       unnest(range(1, least(len(toks), 12) + 1)) AS k
                FROM messyf WHERE len(toks) > 0),
        ms AS (SELECT lang, doc_id, k,
                      array_to_string(toks[len(toks)-k+1:], ' ') AS suffix
               FROM ms0),
        j AS (SELECT m.doc_id, m.k, a.n_cand, a.cand_id,
                     ROW_NUMBER() OVER (PARTITION BY m.doc_id ORDER BY m.k DESC) AS rn
              FROM ms m JOIN ca a
                ON m.lang = a.lang AND m.k = a.k AND m.suffix = a.suffix)
        SELECT doc_id, cand_id AS resolved_doc_id, CAST(k AS BIGINT) AS depth
        FROM j WHERE rn = 1 AND n_cand = 1 AND k >= 2
      """)
    )
  )
}
