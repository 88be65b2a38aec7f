package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.refine.DistinguishingTokens.Params

/** Reference implementation of `DistinguishingTokens.improve` as Spark
  * column expressions: a top-N window, a token/bigram explode, two
  * groupBys, two joins back and higher-order-function columns. It is the
  * test oracle that RefineOracleSpec checks the grouped kernel against,
  * bit for bit; nothing outside the test tree runs it.
  *
  * Per-pair overlap/elsewhere sets are array_intersect / array_except over
  * the SORTED pool-hist key arrays (first-argument order kept), so reward
  * sums fold in Spark's string order.
  */
object RefineColumnOracle {

  def improve(pairs: DataFrame, params: Params = Params()): DataFrame = {
    // Step 1-2: threshold + top-N per messy record with the reference's
    // exact tie-break (ORDER BY match_weight DESC, unique_id_l DESC)
    // (identify_distinguishing_tokens.py:40-56).
    val good = pairs.filter(col("match_weight") > params.matchWeightThreshold)
    val w = Window.partitionBy(col("conv_id_r"))
      .orderBy(col("match_weight").desc, col("conv_id_l").desc)
    val topN = good.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= params.topNMatches).drop("__rn")

    // Step 3-4: tokenise both sides. sig_text is already in normal form
    // (uppercase, punctuation-free — it is a concat_ws of normText outputs,
    // and normText is idempotent, property-tested), so a whitespace split
    // is EXACTLY GraftFunctions.tokens here at none of its regex cost —
    // the full normalisation chain ran per pair and dominated refine CPU.
    // "" entries filtered like Signatures.tokens: sig_text keeps the empty
    // element a punctuation-only turn leaves behind (a leading space), and
    // split would emit a "" token into the block pool / overlap rewards
    def fastToks(c: Column): Column =
      when(length(c) === 0, array().cast("array<string>"))
        .otherwise(filter(split(c, "\\s+"), t => length(t) > 0))
    val tokenised = topN
      .withColumn("tokens_l", fastToks(col("sig_text_l")))
      .withColumn("tokens_r", fastToks(col("sig_text_r")))

    // Step 5: per-messy-record block pool histograms
    // (identify_distinguishing_tokens.py:130-201). Token and bigram pools
    // are counted in one pass: elements are tagged (kind 0 = token,
    // 1 = bigram) before a single explode, counted under (conv_id_r, kind,
    // e), and split back into two sorted maps.
    val pooled = tokenised
      .select(col("conv_id_r"), explode(concat(
        transform(col("tokens_l"), t => struct(lit(0).as("kind"), t.as("e"))),
        transform(wordNgrams(col("tokens_l"), 2),
          b => struct(lit(1).as("kind"), b.as("e"))))).as("ke"))
      .select(col("conv_id_r"), col("ke.kind").as("kind"), col("ke.e").as("e"))
      .groupBy(col("conv_id_r"), col("kind"), col("e"))
      .agg(count(lit(1)).cast("int").as("cnt"))
      .groupBy(col("conv_id_r"))
      // sort entries so downstream map_values folds are order-deterministic
      .agg(
        map_from_entries(array_sort(collect_list(
          when(col("kind") === 0, struct(col("e"), col("cnt"))))))
          .as("hist_all_tokens_in_block_l"),
        map_from_entries(array_sort(collect_list(
          when(col("kind") === 1, struct(col("e"), col("cnt"))))))
          .as("hist_all_bigrams_in_block_l"))
    val emptyHist = map_from_arrays(
      array().cast("array<string>"), array().cast("array<int>"))

    // NB: the reference's bigram pool zips the *flattened* candidate list,
    // creating spurious cross-record bigrams at list boundaries whose
    // identity depends on the candidate ordering of a Python list
    // (identify_distinguishing_tokens.py:164-171). A distributed
    // collect_list order is not deterministic, so reproducing that quirk
    // faithfully is impossible; we count within-candidate bigrams only —
    // deterministic, and a strict subset of the reference's pool.
    val blockAgg = tokenised
      .groupBy(col("conv_id_r"))
      .agg(first(col("tokens_r")).as("g_tokens_r"))
      .join(pooled, Seq("conv_id_r"), "left")
      .withColumn("hist_all_tokens_in_block_l",
        coalesce(col("hist_all_tokens_in_block_l"), emptyHist))
      .withColumn("hist_all_bigrams_in_block_l",
        coalesce(col("hist_all_bigrams_in_block_l"), emptyHist))
      // pool keys (sorted) restricted to the messy record — ARRAYS; counts
      // stay in the hist_all maps (restriction never changes a count)
      .withColumn("pool_tokens_r",
        array_intersect(map_keys(col("hist_all_tokens_in_block_l")), col("g_tokens_r")))
      .withColumn("bigrams_r", wordNgrams(col("g_tokens_r"), 2))
      .withColumn("pool_bigrams_r",
        array_intersect(map_keys(col("hist_all_bigrams_in_block_l")), col("bigrams_r")))
      .select("conv_id_r", "hist_all_tokens_in_block_l", "pool_tokens_r",
        "hist_all_bigrams_in_block_l", "pool_bigrams_r", "bigrams_r")

    // Step 6: per-pair overlap/elsewhere sets
    // (identify_distinguishing_tokens.py:204-301). tokens_r \ tokens_l is
    // array_except (distinct) — it is only ever intersected with the
    // (distinct) pool key set, so dedup cannot change any result.
    // missing_tokens keeps the multiplicity-preserving filter: its SIZE
    // counts duplicate missing tokens, as the reference does.
    val joined = tokenised.join(blockAgg, Seq("conv_id_r"), "left")
      .withColumn("overlap_tokens",
        array_intersect(col("pool_tokens_r"), col("tokens_l")))
      .withColumn("missing_tokens",
        filter(col("tokens_l"), t => not(array_contains(col("tokens_r"), t))))
      .withColumn("bigrams_l", wordNgrams(col("tokens_l"), 2))
      .withColumn("overlap_bigrams",
        array_intersect(col("pool_bigrams_r"), col("bigrams_l")))
      .withColumn("tokens_elsewhere",
        array_intersect(map_keys(col("hist_all_tokens_in_block_l")),
          array_except(col("tokens_r"), col("tokens_l"))))
      .withColumn("bigrams_elsewhere",
        array_intersect(map_keys(col("hist_all_bigrams_in_block_l")),
          array_except(col("bigrams_r"), col("bigrams_l"))))

    // Step 7: bigram unigram-cover filter
    // (identify_distinguishing_tokens.py:359-392): drop a bigram iff BOTH
    // of its unigrams are in the unigram set with pool count <= the
    // bigram's pool count. Lambdas reference only attributes + cheap
    // lookups; FALSE && NULL = FALSE covers the not-in-set case.
    def coverFiltered(bigramsArr: Column, unigramArr: Column): Column =
      filter(bigramsArr, bg => {
        val parts = split(bg, " ")
        val t1 = try_element_at(parts, lit(1))
        val t2 = try_element_at(parts, lit(2))
        val v = try_element_at(col("hist_all_bigrams_in_block_l"), bg)
        val covered1 = array_contains(unigramArr, t1) &&
          try_element_at(col("hist_all_tokens_in_block_l"), t1) <= v
        val covered2 = array_contains(unigramArr, t2) &&
          try_element_at(col("hist_all_tokens_in_block_l"), t2) <= v
        not(covered1 && covered2)
      })
    val windowed = joined
      .withColumn("overlap_bigrams_filtered",
        coverFiltered(col("overlap_bigrams"), col("overlap_tokens")))
      .withColumn("bigrams_elsewhere_filtered",
        coverFiltered(col("bigrams_elsewhere"), col("tokens_elsewhere")))

    // Final: mw adjustment with the reference's multipliers 3, 1.5, 0.1,
    // 3 and 1.5 (identify_distinguishing_tokens.py:407-445).
    // Reward sums fold the sorted overlap arrays — the same order the old
    // sorted-map map_values fold used, so doubles are bit-identical.
    def rewardSum(arr: Column, hist: Column): Column =
      coalesce(aggregate(arr, lit(0.0), (acc, k) => {
        val v = try_element_at(hist, k).cast("double")
        acc + lit(1.0) / (v * v)
      }), lit(0.0))
    def punishCount(arr: Column): Column = coalesce(size(arr).cast("double"), lit(0.0))

    val tokenAdj =
      rewardSum(col("overlap_tokens"), col("hist_all_tokens_in_block_l")) * 3.0 -
        punishCount(col("tokens_elsewhere")) * 1.5 -
        size(col("missing_tokens")).cast("double") * 0.1
    val bigramAdj =
      rewardSum(col("overlap_bigrams_filtered"), col("hist_all_bigrams_in_block_l")) * 3.0 -
        punishCount(col("bigrams_elsewhere_filtered")) * 1.5

    windowed
      .withColumn("mw_adjustment", tokenAdj + bigramAdj)
      .withColumn("match_weight_original", col("match_weight"))
      .withColumn("match_weight", col("match_weight_original") + col("mw_adjustment"))
  }
}
