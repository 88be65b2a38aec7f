package graft.resolve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Deterministic exact-match cascade — the cheap first pass that removes
  * easy matches before probabilistic scoring (reference:
  * linking_model/exact_matching/matching_stages.py:214-307, traced in
  * SURVEY.md §3.2).
  *
  * Stage order (first match wins, like the reference's ordered stage list):
  *   1. exact: normalised sig_text + blocking key equality, canonical side
  *      deduped first (reference LATERAL ... LIMIT 1 rewritten as
  *      row_number()=1 dedupe-then-join, annotate_exact_matches.py:31-58);
  *   2. unique_shingle: a char-5-gram of the messy text that maps to
  *      exactly one canonical record within the block key (reference
  *      trigram stage, resolve_with_trigrams.py:54-157);
  *   3. (optional) suffix_trie: deepest-unique token-suffix resolution —
  *      the reference's trie fallback (resolve_with_trie.py:16-56, whose
  *      build_suffix_trie/find_address UDFs are external stubs even there)
  *      re-expressed RELATIONALLY: instead of materialising a per-group
  *      trie blob (a single-node data structure that must fit one
  *      executor and dies exactly at the scale it matters), every token
  *      suffix up to `maxDepth` becomes a join key; the trie walk "descend
  *      as deep as possible, succeed iff the subtree holds exactly one id"
  *      is a max-k window over the suffix join with a min == max
  *      uniqueness gate on the candidate id (one distinct candidate).
  *      Same semantics, but distributed, AQE-planned and skew-handled like
  *      every other join in the engine.
  *
  * Between stages, unmatched rows carry forward via left_anti
  * (matching_stages.py:173-183); results accumulate via unionByName.
  */
object ExactCascade {

  /** Deepest-unique token-suffix resolution (the trie fallback, stage 3 —
    * see object doc). For each messy record, find the LARGEST k such that
    * its last-k-token suffix matches >= 1 canonical record in the same
    * block; the record resolves iff that deepest suffix identifies exactly
    * one canonical id and k >= `minDepth` (a 1-token suffix is a generic
    * sign-off in transcripts, not evidence). Suffixes are capped at
    * `maxDepth` tokens so the exploded key volume is O(rows * maxDepth).
    *
    * @return (id, resolved_canonical_id, depth, match_reason='suffix_trie')
    */
  def resolveWithSuffixes(
      messy: DataFrame,
      canonical: DataFrame,
      idCol: String = "conv_id",
      minDepth: Int = 2,
      maxDepth: Int = 12): DataFrame = {
    def suffixKeys(df: DataFrame, outId: String): DataFrame = {
      val toks = split(col("sig_text"), " ")
      df.select(col(idCol).as(outId), col("block_key"), toks.as("__toks"))
        .withColumn("k", explode(
          when(size(col("__toks")) > 0,
            sequence(lit(1), least(size(col("__toks")), lit(maxDepth))))
            .otherwise(array().cast("array<int>"))))
        .select(col(outId), col("block_key"), col("k"),
          array_join(slice(col("__toks"), -col("k"), col("k")), " ").as("suffix"))
    }
    // canonical: per (block, depth, suffix) uniqueness + witness.
    // Rows with >1 candidate are KEPT — a deepest match that is ambiguous
    // must fail, not fall back to a shallower unique one (find_address
    // returns NULL when the walk ends on a multi-id subtree).
    // Uniqueness gate is min == max, NOT countDistinct == 1: Spark plans
    // a distinct aggregate as a two-level aggregate with an extra
    // Exchange keyed on (group keys, cand_id), where min/max are
    // single-phase and map-side combinable — one exchange over the
    // exploded suffix table instead of two (guide §2.3/§2.4; q40's plan:
    // 8 -> 6 Exchanges, plans/r06). cand_id is non-null (inner join), so
    // the predicates are exactly equivalent; the witness was min() already.
    val canonAgg = suffixKeys(canonical, "cand_id")
      .groupBy(col("block_key"), col("k"), col("suffix"))
      .agg(min(col("cand_id")).as("cand_id"), max(col("cand_id")).as("__cand_max"))
    val deepest = suffixKeys(messy, idCol)
      .join(canonAgg, Seq("block_key", "k", "suffix"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("k").desc)))
      .filter(col("__rn") === 1 && col("cand_id") === col("__cand_max") &&
        col("k") >= minDepth)
    deepest.select(col(idCol), col("cand_id").as("resolved_canonical_id"),
      col("k").cast("long").as("depth"), lit("suffix_trie").as("match_reason"))
  }

  /** SELF-dedup collapse of `run(records, records)`: provably equal output
    * in ONE window shuffle instead of the full cascade's ~10 stages
    * (VERDICT r3 #4 — the composed pipeline's serial stage floor).
    *
    * Proof the collapse is exact. With messy == canonical:
    * (1) stage 1's inner join matches EVERY non-null-keyed record to the
    *     min-id record of its own (sig_text, block_key) group — each record
    *     is present on the canonical side, so its own group always exists;
    *     null sig_text/block_key rows never join (SQL null keys) in either
    *     stage. So `remaining` is exactly the null-keyed rows, whose
    *     shingle joins also fail on the null block_key → stage 2 emits
    *     nothing. (2) Even ignoring (1): any shingle s of record m is held
    *     by m itself on the canonical side, so s being "unique to one
    *     candidate" forces that candidate to BE m — a self-link dropped by
    *     the identity filter. Hence self-mode cascade ≡ min-id-of-group
    *     minus identity links.
    */
  def selfExactLinks(records: DataFrame, idCol: String = "conv_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sig_text"), col("block_key"))
    records
      .filter(col("sig_text").isNotNull && col("block_key").isNotNull)
      .select(col(idCol), min(col(idCol)).over(w).as("resolved_canonical_id"))
      .filter(col(idCol) =!= col("resolved_canonical_id"))
      .withColumn("match_reason", lit("exact_match"))
  }

  /** Link messy -> canonical. Both frames need (id, sig_text, block_key).
    * Returns (id, resolved_canonical_id, match_reason) for matched rows.
    */
  def run(
      messy: DataFrame,
      canonical: DataFrame,
      idCol: String = "conv_id",
      useSuffixStage: Boolean = false): DataFrame = {
    // Stage 1: exact match on (sig_text, block_key), dedup canonical first.
    val canonDedup = canonical
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("sig_text"), col("block_key"))
          .orderBy(col(idCol).asc)))
      .filter(col("__rn") === 1)
      .select(col(idCol).as("resolved_canonical_id"), col("sig_text"), col("block_key"))

    val exact = messy
      .join(canonDedup, Seq("sig_text", "block_key"), "inner")
      .select(col(idCol), col("resolved_canonical_id"),
        lit("exact_match").as("match_reason"))

    // Stage 2 input: rows not matched by stage 1.
    val remaining = messy.join(exact.select(idCol), Seq(idCol), "left_anti")

    // Stage 2: unique char-5-gram within block key. Semi-join canonical to
    // observed messy block keys first (reference input_filters.py:40-96).
    val canonFiltered = canonical
      .join(remaining.select(col("block_key")).distinct(), Seq("block_key"), "left_semi")

    val canonShingles = canonFiltered
      .select(col(idCol).as("cand_id"), col("block_key"),
        explode(array_distinct(charNgrams(col("sig_text"), 5))).as("shingle"))
    // shingles unique to ONE canonical record within the block.
    // min == max replaces countDistinct == 1 (identical gate on the
    // non-null cand_id; when it holds, first == min == max) — avoids the
    // extra Exchange of the two-level distinct aggregate (see
    // resolveWithSuffixes' note).
    val uniqueShingles = canonShingles
      .groupBy(col("block_key"), col("shingle"))
      .agg(min(col("cand_id")).as("cand_id"), max(col("cand_id")).as("__cand_max"))
      .filter(col("cand_id") === col("__cand_max"))
      .select(col("block_key"), col("shingle"), col("cand_id"))

    val messyShingles = remaining
      .select(col(idCol), col("block_key"),
        explode(array_distinct(charNgrams(col("sig_text"), 5))).as("shingle"))

    // one-to-one gate: every unique shingle of the messy record points at
    // the same single canonical, with at least `minHits` supporting
    // shingles (resolve_with_trigrams.py:121-134).
    val minHits = 3
    val shingleMatch = messyShingles
      .join(uniqueShingles, Seq("block_key", "shingle"))
      .groupBy(col(idCol))
      .agg(min(col("cand_id")).as("resolved_canonical_id"),
        max(col("cand_id")).as("__cand_max"), count(lit(1)).as("hits"))
      .filter(col("resolved_canonical_id") === col("__cand_max") &&
        col("hits") >= minHits)
      .select(col(idCol), col("resolved_canonical_id"),
        lit("unique_shingle").as("match_reason"))

    val stage12 = exact.unionByName(shingleMatch)
    if (!useSuffixStage) stage12
    else {
      // Stage 3: trie fallback on rows stages 1-2 left unmatched.
      val remaining2 = messy.join(stage12.select(idCol), Seq(idCol), "left_anti")
      val canonFiltered2 = canonical.join(
        remaining2.select(col("block_key")).distinct(), Seq("block_key"), "left_semi")
      val trieMatch = resolveWithSuffixes(remaining2, canonFiltered2, idCol)
        .select(col(idCol), col("resolved_canonical_id"), col("match_reason"))
      stage12.unionByName(trieMatch)
    }
  }

  /** Annotate the full messy table with cascade results (unmatched rows get
    * null reason) — row-count preserving, like the reference's finalisation
    * (matching_stages.py:140-170).
    */
  def annotate(messy: DataFrame, canonical: DataFrame, idCol: String = "conv_id"): DataFrame =
    messy.join(run(messy, canonical, idCol), Seq(idCol), "left")
}
