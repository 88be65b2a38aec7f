package graft.refine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}
import graft.functions.Utf8Order

/** Second pass: adjust pairwise match weights using tokens that distinguish
  * candidates within each candidate group (reference:
  * post_linkage/identify_distinguishing_tokens.py:4-476, semantics traced
  * in SURVEY.md §3.3 step 3).
  *
  * Convention (as in the reference): the _r side is the "messy" record
  * whose candidate group we analyse; the _l side are its candidates.
  * In SELF-dedup mode (Pipeline.run feeds pairs oriented conv_id_l <
  * conv_id_r) a record's candidate group as _r therefore contains only
  * co-blocked partners with SMALLER ids — the adjustment each pair gets is
  * computed against that id-ordered subset, not the record's full
  * neighbourhood. This mirrors the reference's one-sided messy-vs-canonical
  * analysis and keeps refine single-pass; mirroring every pair into both
  * orientations would double the refine shuffle for a second-order effect
  * on scores that the F1 gates have never needed.
  *
  * adjustment = Reward * sum(1/cnt^2 over tokens shared by this l and r)
  *            - Punishment * |tokens present elsewhere in the block but not in this l|
  *            - MissingTokenPenalty * |tokens of this l absent from r|
  *            + BigramReward * sum(1/cnt^2 over shared bigrams)
  *            - BigramPunishment * |bigrams present elsewhere but not in this l|
  * with the reference's fixed multipliers 3, 1.5, 0.1, 3 and 1.5
  * (identify_distinguishing_tokens.py:407-445). Bigrams are keyed
  * "tok1 tok2"; the reference keys maps by token arrays — string keys are
  * the Spark remodel, SURVEY.md §1.4. The reference's strip of common end
  * tokens (identify_distinguishing_tokens.py:58-113) is not applied here:
  * adopting it changes every adjustment, so it needs its own quality A/B.
  *
  * Scale shape: one shuffle on the messy id. Each candidate group arrives
  * sorted by (match_weight desc, conv_id_l desc), so the top-N cut reads
  * at most N rows of it however hot the key is (the rest of the group is
  * never held). The block pool, the per-pair sets and the reward folds are
  * then plain Scala over those N rows.
  */
object DistinguishingTokens {

  final case class Params(matchWeightThreshold: Double = -20, topNMatches: Int = 5)

  // identify_distinguishing_tokens.py:407-445
  private val Reward = 3.0
  private val Punishment = 1.5
  private val BigramReward = 3.0
  private val BigramPunishment = 1.5
  private val MissingTokenPenalty = 0.1

  /** improve predictions. `pairs` must contain: conv_id_l, conv_id_r,
    * match_weight (double) plus sig_text_l / sig_text_r (normalised record
    * texts; sig_text_r is a function of conv_id_r). The result keeps every
    * input column, with match_weight adjusted, and adds
    * match_weight_original and mw_adjustment.
    */
  def improve(pairs: DataFrame, params: Params = Params()): DataFrame = {
    // Steps 1-2: threshold, then top-N per messy record with the
    // reference's exact tie-break (ORDER BY match_weight DESC,
    // unique_id_l DESC) (identify_distinguishing_tokens.py:40-56). Spark
    // sorts each group, so ties, NaN and string order are Spark's own.
    val good = pairs.filter(col("match_weight") > params.matchWeightThreshold)
    val in = good.schema
    val out = in
      .add("match_weight_original", DoubleType)
      .add("mw_adjustment", DoubleType)
    val cols = Cols(in.fieldIndex("match_weight"), in.fieldIndex("sig_text_l"),
      in.fieldIndex("sig_text_r"))
    good.groupBy(col("conv_id_r"))
      .as(Encoders.row(StructType(Seq(in("conv_id_r")))), Encoders.row(in))
      .flatMapSortedGroups(col("match_weight").desc, col("conv_id_l").desc)(
        (_: Row, group: Iterator[Row]) =>
          refineGroup(group.take(params.topNMatches).toArray, cols)
      )(Encoders.row(out))
      .toDF()
  }

  private final case class Cols(matchWeight: Int, sigTextL: Int, sigTextR: Int)

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Steps 3-4: tokenise one side. sig_text is already in normal form
    * (uppercase, punctuation-free — a concat_ws of normText outputs, and
    * normText is idempotent, property-tested), so a whitespace split is
    * exactly GraftFunctions.tokens here. "" entries are dropped like
    * Signatures.tokens: sig_text keeps the empty element a punctuation-only
    * turn leaves behind (a leading space). A null text has no tokens.
    */
  private def tokens(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else Whitespace.split(text, -1).filter(_.nonEmpty)

  /** Word bigrams keyed "tok1 tok2" (GraftFunctions.wordNgrams(_, 2)). */
  private def bigrams(toks: Array[String]): Array[String] =
    Array.tabulate(math.max(toks.length - 1, 0))(i => toks(i) + " " + toks(i + 1))

  private def histogram(elems: Iterator[String]): mutable.HashMap[String, Int] = {
    val h = mutable.HashMap.empty[String, Int]
    elems.foreach(e => h.update(e, h.getOrElse(e, 0) + 1))
    h
  }

  /** Steps 5-7 and the final adjustment for one messy record's top-N
    * candidates (`group`, best first).
    */
  private def refineGroup(group: Array[Row], cols: Cols): Iterator[Row] = {
    if (group.isEmpty) return Iterator.empty
    val toksL = group.map(r => tokens(r.getString(cols.sigTextL)))
    val bigramsL = toksL.map(bigrams)
    // the messy record's text is the same on every row of its group
    val toksR = tokens(group(0).getString(cols.sigTextR))
    val r = toksR.toSet
    val bigramsR = bigrams(toksR).toSet

    // Step 5: block pool histograms over the candidates' tokens, keys in
    // Spark's sorted order (identify_distinguishing_tokens.py:130-201).
    // NB: the reference's bigram pool zips the *flattened* candidate list,
    // creating spurious cross-record bigrams at list boundaries whose
    // identity depends on the candidate ordering of a Python list
    // (identify_distinguishing_tokens.py:164-171); we count within-candidate
    // bigrams only — deterministic, and a strict subset of the reference's
    // pool.
    val tokHist = histogram(toksL.iterator.flatten)
    val bigramHist = histogram(bigramsL.iterator.flatten)
    val tokKeys = tokHist.keys.toArray.sorted(Utf8Order)
    val bigramKeys = bigramHist.keys.toArray.sorted(Utf8Order)
    val poolTokR = tokKeys.filter(r)
    val poolBigramsR = bigramKeys.filter(bigramsR)

    // Step 7: bigram unigram-cover filter
    // (identify_distinguishing_tokens.py:359-392): drop a bigram iff BOTH
    // of its unigrams are in the unigram set with pool count <= the
    // bigram's pool count.
    def coverFiltered(bgs: Array[String], unigrams: Array[String]): Array[String] =
      bgs.filterNot { bg =>
        val v = bigramHist(bg)
        val sp = bg.indexOf(' ')
        def covered(t: String) = unigrams.contains(t) && tokHist(t) <= v
        covered(bg.substring(0, sp)) && covered(bg.substring(sp + 1))
      }
    // Reward sums fold the overlap sets in sorted-key order.
    def rewardSum(keys: Array[String], hist: collection.Map[String, Int]): Double =
      keys.foldLeft(0.0) { (acc, k) =>
        val v = hist(k).toDouble
        acc + 1.0 / (v * v)
      }

    group.indices.iterator.map { i =>
      val l = toksL(i).toSet
      // Step 6: per-pair overlap/elsewhere sets
      // (identify_distinguishing_tokens.py:204-301): the messy record's
      // pool keys in this candidate or not, in sorted-key order. The
      // missing-token count keeps tokens_l's multiplicity: duplicate
      // missing tokens count, as in the reference.
      val (overlapTok, elsewhereTok) = poolTokR.partition(l)
      val missing = toksL(i).count(t => !r(t))
      val tokenAdj = rewardSum(overlapTok, tokHist) * Reward -
        elsewhereTok.length.toDouble * Punishment -
        missing.toDouble * MissingTokenPenalty
      val (overlapBi, elsewhereBi) = poolBigramsR.partition(bigramsL(i).toSet)
      val bigramAdj =
        rewardSum(coverFiltered(overlapBi, overlapTok), bigramHist) * BigramReward -
          coverFiltered(elsewhereBi, elsewhereTok).length.toDouble * BigramPunishment
      // Final: mw adjustment (identify_distinguishing_tokens.py:407-445)
      val adjustment = tokenAdj + bigramAdj
      val row = group(i)
      val original = row.getDouble(cols.matchWeight)
      Row.fromSeq(row.toSeq.updated(cols.matchWeight, original + adjustment) ++
        Seq(original, adjustment))
    }
  }
}
