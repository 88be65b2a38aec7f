package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.signature.Signatures.{Bands, DefaultRelFreq, MinhashK, RowsPerBand}

/** Reference implementation of `Signatures.signatures` and
  * `Signatures.attachTf` as Spark column expressions: higher-order-function
  * columns over the ordered turn array, a MinHash explode + groupBy-min
  * joined back, and a (conversation, token) explode + two groupBys joined
  * back onto the signatures. It is the test oracle that
  * SignaturesOracleSpec checks the per-row kernels against, bit for bit;
  * nothing outside the test tree runs it.
  */
object SignaturesColumnOracle {

  /** Aggregate turns into ordered per-conversation rows. */
  def conversations(turns: DataFrame): DataFrame = {
    val collected = turns
      .select(col("conv_id"), struct(col("turn_idx"), col("role"), col("text"), col("ts")).as("t"))
      .groupBy(col("conv_id"))
      .agg(array_sort(collect_list(col("t"))).as("ts_sorted"))
    collected.select(
      col("conv_id"),
      size(col("ts_sorted")).as("n_turns"),
      transform(col("ts_sorted"), t => normText(t.getField("text"))).as("turn_texts"),
      concat_ws("", transform(col("ts_sorted"),
        t => upper(substring(t.getField("role"), 1, 1)))).as("role_seq"))
  }

  def signatures(turns: DataFrame): DataFrame = {
    val conv = conversations(turns)
    val withText = conv
      .withColumn("sig_text", concat_ws(" ", col("turn_texts")))
      // "" elements are filtered out of tokens: a punctuation-only turn
      // normalises to "", concat_ws keeps the empty element, and split
      // would emit a "" token
      .withColumn("tokens",
        when(length(col("sig_text")) === 0, array().cast("array<string>"))
          .otherwise(filter(split(col("sig_text"), " "), t => length(t) > 0)))
    // all-digits test as a translate-to-empty check; the length(t) > 0
    // guard matches rlike("^[0-9]+$")'s one-or-more
    val numericToks = filter(col("tokens"),
      t => length(t) > 0 && length(translate(t, "0123456789", "")) === 0)
    val base = withText
      .withColumn("numeric_token_1", try_element_at(numericToks, lit(1)))
      .withColumn("numeric_token_2", try_element_at(numericToks, lit(2)))
      .withColumn("len_band", floor(log2(greatest(length(col("sig_text")), lit(1)))).cast("int"))
      .withColumn("bk_role_len", concat_ws("#", col("role_seq"), col("len_band")))
    // MinHash over word-3-gram shingles via explode + groupBy-min; base is
    // materialised once so the two instances of it (base, mh) do not both
    // recompute the post-aggregate projection
    val baseSh = base
      .withColumn("__sh", array_distinct(wordNgrams(col("tokens"), 3)))
      .localCheckpoint(false)
    val mh = minhashAggregate(
      baseSh.select(col("conv_id"), col("__sh")),
      "conv_id", col("__sh"), MinhashK)
    baseSh.drop("__sh").join(mh, Seq("conv_id"), "left")
      // a shingle-less (<3-token) conversation has NULL minhash_sig and
      // NULL band keys (concat_ws inside minhashBandKeys skips nulls, so
      // the explicit when() is what null-propagates)
      .withColumn("minhash_bands",
        when(col("minhash_sig").isNull, lit(null).cast("array<string>"))
          .otherwise(minhashBandKeys(col("minhash_sig"), Bands, RowsPerBand)))
      .drop("minhash_sig")
  }

  def attachTf(
      sigs: DataFrame,
      tf: DataFrame,
      veryUnusualMax: Double = 1e-4,
      extremelyUnusualMax: Double = 1e-5): DataFrame = {
    // (conv, token) counts first: every derived feature needs one entry
    // per DISTINCT token
    val perToken = sigs
      .select(col("conv_id"), explode(col("tokens")).as("token"))
      .join(broadcast(tf), Seq("token"), "left")
      .withColumn("rel_freq", coalesce(col("rel_freq"), lit(DefaultRelFreq)))
      .groupBy(col("conv_id"), col("token"))
      .agg(count(lit(1)).cast("int").as("cnt"), first(col("rel_freq")).as("rel_freq"))

    // array_sort on the struct's natural field order: rel_freq asc, then
    // token asc
    val perConv = perToken
      .groupBy(col("conv_id"))
      .agg(array_sort(collect_list(
        struct(col("rel_freq"), col("token"), col("cnt")))).as("tf_arr"))

    def bandTokens(lo: Double, hi: Double): Column =
      transform(
        filter(col("tf_arr"), x => x.getField("rel_freq") < hi && x.getField("rel_freq") >= lo),
        x => x.getField("token"))

    val withBands = perConv
      .withColumn("token_freq_hist",
        map_from_entries(transform(col("tf_arr"), x =>
          struct(x.getField("token").as("key"),
            struct(x.getField("cnt").as("cnt"),
              x.getField("rel_freq").as("rel_freq")).as("value")))))
      .withColumn("very_unusual_tokens", bandTokens(extremelyUnusualMax, veryUnusualMax))
      .withColumn("extremely_unusual_tokens", bandTokens(0.0, extremelyUnusualMax))
      .withColumn("salient_token_1",
        try_element_at(col("tf_arr"), lit(1)).getField("token"))
      .withColumn("salient_token_2",
        try_element_at(col("tf_arr"), lit(2)).getField("token"))
      .withColumn("salient_token_3",
        try_element_at(col("tf_arr"), lit(3)).getField("token"))
      .drop("tf_arr")

    sigs.join(withBands, Seq("conv_id"), "left")
  }
}
