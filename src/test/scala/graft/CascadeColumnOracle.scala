package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference implementation of stages 1-2 of `ExactCascade.run` as Spark
  * column expressions: a row_number dedupe and join, left_anti carry
  * forward, a canonical semi-join on the remaining block keys, a
  * char-5-gram explode, a (block_key, shingle) min/max aggregate, a join
  * and a per-id min/max/count gate. It is the test oracle that
  * CascadeOracleSpec checks the block kernel against; nothing outside the
  * test tree runs it.
  */
object CascadeColumnOracle {

  /** Character n-grams of a string (reference trigram stage:
    * linking_model/exact_matching/resolve_with_trigrams.py:10-20).
    */
  def charNgrams(c: Column, n: Int): Column = {
    val len = length(c)
    when(len < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), len - (n - 1)), i => c.substr(i, lit(n))))
  }

  /** Stages 1-2: (id, resolved_canonical_id, match_reason). */
  def run(messy: DataFrame, canonical: DataFrame, idCol: String = "conv_id"): DataFrame = {
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
    // extra Exchange of the two-level distinct aggregate.
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

    exact.unionByName(shingleMatch)
  }
}
