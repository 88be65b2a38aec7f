package graft.score

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler.jaroWinkler
import graft.signature.Signatures

/** Fellegi-Sunter pairwise scoring: a cascade of comparison levels per
  * feature yields a Bayes factor; match_weight = log2(prior odds) + sum of
  * log2(BF) (reference: data/splink_model.json comparisons + Splink 4
  * semantics, SURVEY.md §3.3). Levels are evaluated first-match-wins, like
  * the reference's CASE cascades.
  *
  * Two models run through `Scoring.score`: the default transcript model
  * (`scoreDefault`, the pipeline's scorer) and the ER query model over
  * `documents` (`graft.queries.ErQueries`), whose results the DuckDB oracle
  * checks.
  *
  * All levels are Column expressions in one projection over the blocked
  * pairs; the only non-built-in is the custom JaroWinkler Catalyst
  * expression. Not all of it is code-generated: the TF product
  * (`map_filter` + `aggregate`) and the mean turn JW (`zip_with` +
  * `aggregate`) are higher-order functions, which Spark evaluates
  * interpreted (`CodegenFallback`) inside the generated stage.
  */
private[graft] final case class ComparisonLevel(
    name: String,
    condition: Column,
    bayesFactor: Double,
    /** rel-freq column of a TF-adjusted level: the BF is scaled by
      * (Signatures.DefaultRelFreq / freq)^0.1, the Splink tf_adjustment
      * analogue (reference: splink_model.json:174-230). A token at the
      * TF-attach miss default gets exactly the nominal BF; rarer is
      * boosted, more common damped.
      */
    tfAdjustment: Option[Column] = None) {
  def bfColumn: Column = tfAdjustment match {
    case Some(freq) =>
      lit(bayesFactor) * pow(lit(Signatures.DefaultRelFreq) / greatest(freq, lit(1e-12)),
        lit(ComparisonLevel.TfAdjustWeight))
    case None => lit(bayesFactor)
  }
}

private[graft] object ComparisonLevel {
  private val TfAdjustWeight = 0.1
}

/** A comparison's Bayes factor: the first matching level's, else `elseBf`,
  * which may be a column expression (the banded TF product).
  */
private[graft] final case class Comparison(
    name: String, levels: Seq[ComparisonLevel], elseBf: Column) {
  def bfColumn: Column =
    levels.tail.foldLeft(when(levels.head.condition, levels.head.bfColumn))(
      (c, lv) => c.when(lv.condition, lv.bfColumn)).otherwise(elseBf)
}

private[graft] final case class ScoreModel(
    priorMatchProbability: Double, comparisons: Seq[Comparison]) {
  def priorLog2: Double =
    math.log(priorMatchProbability / (1.0 - priorMatchProbability)) / math.log(2.0)
}

object Scoring {

  /** Signature columns a scored pair carries per side (suffixed _l/_r):
    * `Pipeline.attachScoreCols` joins them onto candidate pairs.
    */
  private[graft] val InputCols: Seq[String] = Seq(
    "sig_text", "turn_texts", "role_seq",
    "salient_token_1", "salient_token_2", "salient_token_3", "token_freq_hist",
    "very_unusual_tokens", "extremely_unusual_tokens", "n_turns",
    "numeric_token_1", "numeric_token_2")

  /** Apply a score model to a blocked-pairs DataFrame (columns suffixed
    * _l/_r): one bf_<comparison> column per comparison, then match_weight
    * (the prior's log2 odds plus each log2 BF, in model order) and
    * match_probability.
    */
  private[graft] def score(pairs: DataFrame, model: ScoreModel): DataFrame = {
    val withBf = model.comparisons.foldLeft(pairs) { (df, cmp) =>
      df.withColumn(s"bf_${cmp.name}", cmp.bfColumn)
    }
    val weight = model.comparisons
      .map(c => log2(col(s"bf_${c.name}")))
      .foldLeft(lit(model.priorLog2): Column)(_ + _)
    withBf
      .withColumn("match_weight", weight)
      .withColumn("match_probability",
        pow(lit(2.0), col("match_weight")) / (lit(1.0) + pow(lit(2.0), col("match_weight"))))
  }

  // ---------------------------------------------------------------------
  // Default transcript score model (constants mirror the reference's
  // order-of-magnitude structure: strong exact level ~2^15, banded
  // TF-product ladder, salient-token levels with inversion, role-seq
  // (postcode-analogue) levenshtein ladder — splink_model.json:90-709).
  // ---------------------------------------------------------------------

  /** Product over shared tokens of rel_freq^min(cnt_l, cnt_r) — the
    * reference's distinctive banded TF-product comparison
    * (training.py:323-357, list_reduce of flattened map entries), computed
    * from the string-keyed token_freq_hist maps.
    */
  private[score] def tfProduct(histL: Column, histR: Column): Column = {
    // NOTE (round-5 measured NEGATIVE result): rewriting this as
    // array_intersect(map_keys, map_keys) + element_at lookups per shared
    // key — the pattern that won in refine's former column plan (now the
    // test oracle RefineColumnOracle) — is ~27% SLOWER here (best-of-6
    // scoring reps 2.87 s vs 2.08 s at 130k pairs, clean probes both runs).
    // Refine's win came from folds over POOL maps (hundreds of entries);
    // these per-record hists are small (~tens), where map_filter's single
    // pass beats intersect's two map_keys allocations + TWO linear
    // element_at scans per shared key (the entry fold gets vL for free).
    // Keep the map_filter form.
    val shared = map_filter(histL, (k, _) => map_contains_key(histR, k))
    aggregate(
      map_entries(shared),
      lit(1.0),
      (acc, e) => {
        val vL = e.getField("value")
        val vR = element_at(histR, e.getField("key"))
        val minCnt = least(vL.getField("cnt"), vR.getField("cnt"))
        val rf = vL.getField("rel_freq")
        // min count is 1 for almost every token — skip the pow() then
        acc * when(minCnt === 1, rf).otherwise(pow(rf, minCnt.cast("double")))
      })
  }

  /** Decimal exponents of the TF-product ladder's lowest and highest band. */
  private val MinTfExp = -29
  private val MaxTfExp = 4

  /** Banded Bayes factor from a TF product via log10 banding: one
    * element_at over a literal ladder instead of a 35-branch CASE
    * (codegen-friendlier; same semantics as splink_model.json:327-618).
    * Band i covers product < 10^(i - offset).
    */
  private[score] def bandedTfBf(product: Column): Column = {
    // BF ladder mirrors the reference's 2^(k/2)-ish decay: bf = 2^(-(exp)/1)
    // with exp from MinTfExp..MaxTfExp; values from splink_model.json levels.
    val bfs = (MinTfExp to MaxTfExp).map(e => math.pow(2.0, -e / 2.0))
    val idx = greatest(lit(0),
      least(lit(MaxTfExp - MinTfExp),
        (floor(log10(greatest(product, lit(1e-300)))) - lit(MinTfExp) + 1).cast("int")))
    element_at(array(bfs.map(lit(_)): _*), idx + 1)
  }

  /** Default model over the `InputCols` that Pipeline.attachScoreCols
    * joins onto candidate pairs from Signatures.signatures + attachTf,
    * plus the `__mean_turn_jw` column scoreDefault projects ahead of it.
    * The turn_jw cascade reads that pre-projected column: CASE WHEN
    * branch conditions are conditionally evaluated, so codegen
    * subexpression elimination cannot share the 3-alignment JW sweep
    * across the three threshold tests, and an inline sweep would be paid
    * up to 3x per pair.
    */
  private def defaultModel(prior: Double): ScoreModel = {
    val meanJw = col("__mean_turn_jw")

    val exactText = Comparison("sig_text",
      Seq(
        ComparisonLevel("null", col("sig_text_l").isNull || col("sig_text_r").isNull, 1.0),
        ComparisonLevel("exact", col("sig_text_l") === col("sig_text_r"), math.pow(2, 15))),
      elseBf = lit(1.0))

    /** Observed rel_freq of a token from the left record's TF hist map;
      * null-safe (try_element_at) with the attach-miss default.
      */
    def relFreqOf(token: Column): Column = coalesce(
      try_element_at(col("token_freq_hist_l"), token).getField("rel_freq"),
      lit(Signatures.DefaultRelFreq))

    val salient1 = Comparison("salient_token_1",
      Seq(
        ComparisonLevel("null",
          col("salient_token_1_l").isNull || col("salient_token_1_r").isNull, 1.0),
        // TF-adjusted exact level (reference: splink_model.json:174-230,
        // tf_adjustment_column numeric_token_1, tf_adjustment_weight 0.1):
        // a match on a rarer-than-base token is worth more, a match on a
        // common token less (ComparisonLevel.tfAdjustment).
        ComparisonLevel("exact", col("salient_token_1_l") === col("salient_token_1_r"),
          math.pow(2, 6),
          tfAdjustment = Some(relFreqOf(col("salient_token_1_l")))),
        ComparisonLevel("inverted",
          col("salient_token_1_l") === col("salient_token_2_r") ||
            col("salient_token_2_l") === col("salient_token_1_r"), math.pow(2, 2))),
      elseBf = lit(math.pow(2, -6)))

    val salient3 = Comparison("salient_token_3",
      Seq(
        ComparisonLevel("bothnull",
          col("salient_token_3_l").isNull && col("salient_token_3_r").isNull, 1.0),
        ComparisonLevel("exact", col("salient_token_3_l") === col("salient_token_3_r"),
          math.pow(2, 3)),
        ComparisonLevel("onenull",
          col("salient_token_3_l").isNull || col("salient_token_3_r").isNull, 1.0)),
      elseBf = lit(math.pow(2, -3)))

    val roleSeq = Comparison("role_seq",
      Seq(
        ComparisonLevel("null", col("role_seq_l").isNull || col("role_seq_r").isNull, 1.0),
        ComparisonLevel("exact", col("role_seq_l") === col("role_seq_r"), math.pow(2, 4)),
        ComparisonLevel("lev1", levenshtein(col("role_seq_l"), col("role_seq_r")) <= 1,
          math.pow(2, 3)),
        ComparisonLevel("lev2", levenshtein(col("role_seq_l"), col("role_seq_r")) <= 2,
          math.pow(2, 2))),
      elseBf = lit(math.pow(2, -4)))

    // positional numeric-token cascade with inversion (reference:
    // numeric_token_1 comparison, splink_model.json:174-230)
    val numeric1 = Comparison("numeric_token_1",
      Seq(
        ComparisonLevel("null",
          col("numeric_token_1_l").isNull || col("numeric_token_1_r").isNull, 1.0),
        ComparisonLevel("exact", col("numeric_token_1_l") === col("numeric_token_1_r"),
          math.pow(2, 6),
          tfAdjustment = Some(relFreqOf(col("numeric_token_1_l")))),
        ComparisonLevel("inverted",
          col("numeric_token_1_l") === col("numeric_token_2_r") ||
            col("numeric_token_2_l") === col("numeric_token_1_r"), math.pow(2, 2))),
      elseBf = lit(math.pow(2, -6)))

    val numeric2 = Comparison("numeric_token_2",
      Seq(
        ComparisonLevel("bothnull",
          col("numeric_token_2_l").isNull && col("numeric_token_2_r").isNull, 1.0),
        ComparisonLevel("exact", col("numeric_token_2_l") === col("numeric_token_2_r"),
          math.pow(2, 4)),
        ComparisonLevel("onenull",
          col("numeric_token_2_l").isNull || col("numeric_token_2_r").isNull, 1.0)),
      elseBf = lit(math.pow(2, -3)))

    // shared rare tokens are the strongest identity evidence (reference:
    // unusual-token bands drive both blocking and distinguishing-token
    // logic; this is their comparison-level form)
    val rareOverlap = Comparison("rare_token_overlap",
      Seq(
        ComparisonLevel("null",
          col("extremely_unusual_tokens_l").isNull || col("extremely_unusual_tokens_r").isNull, 1.0),
        ComparisonLevel("extremely",
          size(array_intersect(col("extremely_unusual_tokens_l"),
            col("extremely_unusual_tokens_r"))) > 0, math.pow(2, 7)),
        ComparisonLevel("very",
          size(array_intersect(col("very_unusual_tokens_l"),
            col("very_unusual_tokens_r"))) > 0, math.pow(2, 4))),
      elseBf = lit(math.pow(2, -2)))

    val nTurns = Comparison("n_turns",
      Seq(
        ComparisonLevel("null", col("n_turns_l").isNull || col("n_turns_r").isNull, 1.0),
        ComparisonLevel("same", col("n_turns_l") === col("n_turns_r"), 2.0),
        ComparisonLevel("off_by_one",
          abs(col("n_turns_l") - col("n_turns_r")) === 1, 1.0)),
      elseBf = lit(0.25))

    val turnJw = Comparison("turn_jw",
      Seq(
        ComparisonLevel("null", col("turn_texts_l").isNull || col("turn_texts_r").isNull ||
          size(col("turn_texts_l")) === 0 || size(col("turn_texts_r")) === 0, 1.0),
        ComparisonLevel("high", meanJw >= 0.95, math.pow(2, 8)),
        ComparisonLevel("mid", meanJw >= 0.85, math.pow(2, 5)),
        ComparisonLevel("low", meanJw >= 0.7, math.pow(2, 1))),
      elseBf = lit(math.pow(2, -5)))

    // the reference's banded TF product (splink_model.json:327-618), last
    val (histL, histR) = (col("token_freq_hist_l"), col("token_freq_hist_r"))
    val tfProductCmp = Comparison("token_tf_product",
      Seq(ComparisonLevel("null", histL.isNull || histR.isNull, 1.0)),
      elseBf = bandedTfBf(tfProduct(histL, histR)))

    ScoreModel(prior, Seq(exactText, salient1, salient3, numeric1, numeric2,
      roleSeq, turnJw, rareOverlap, nTurns, tfProductCmp))
  }

  /** Mean Jaro-Winkler over turn-aligned texts (north_star: "batched
    * Jaro-Winkler ... over turn-aligned text").
    *
    * Alignment: best of three index alignments (exact zip, left shifted by
    * one, right shifted by one) — truncated or prefix-inserted turns would
    * otherwise shift every subsequent turn off its partner and sink the
    * mean. Denominator is the ALIGNED turn count (min length), so a
    * truncated duplicate still scores ~1.0; length disagreement is scored
    * by its own comparison (nTurnsComparison), not smuggled in here.
    */
  private[score] def meanTurnJw: Column = {
    // JW is O(len^2); cap per-turn input at 48 chars — the prefix carries
    // almost all of the discriminating signal and bounds per-pair cost.
    def jwSumOver(l: Column, r: Column): Column =
      aggregate(
        zip_with(l, r, (a, b) => when(a.isNull || b.isNull, lit(0.0))
          .otherwise(jaroWinkler(substring(a, 1, 48), substring(b, 1, 48)))),
        lit(0.0), (acc, x) => acc + x)
    def meanOver(l: Column, r: Column): Column =
      jwSumOver(l, r) / greatest(least(size(l), size(r)), lit(1)).cast("double")
    val l = col("turn_texts_l")
    val r = col("turn_texts_r")
    val big = lit(java.lang.Integer.MAX_VALUE)
    greatest(
      meanOver(l, r),
      meanOver(slice(l, lit(2), big), r),
      meanOver(l, slice(r, lit(2), big)))
  }

  /** Score pairs with the default model: bf_* per comparison,
    * match_weight and match_probability.
    */
  def scoreDefault(pairs: DataFrame, prior: Double): DataFrame = {
    // Project the 3-alignment JW sweep ONCE per pair. As its own non-cheap
    // alias referenced 3x downstream, CollapseProject keeps the projection
    // separate, guaranteeing single evaluation; inline it was evaluated per
    // cascade threshold (conditional branches defeat subexpression
    // elimination) — measured as the dominant kernel cost. Value-identical:
    // same expression, same inputs, same doubles.
    val withJw = pairs.withColumn("__mean_turn_jw", meanTurnJw)
    score(withJw, defaultModel(prior)).drop("__mean_turn_jw")
  }
}
