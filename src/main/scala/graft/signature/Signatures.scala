package graft.signature

import java.util.regex.Pattern

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.api.java.{UDF1, UDF2}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Utf8Order

/** Per-conversation signature derivation — the transcript analogue of the
  * reference's cleaning pipeline (reference: cleaning/pipelines.py:35-63,
  * term_frequencies.py).
  *
  * Input: one row per turn (conv_id, turn_idx, role, text, tool, ts).
  * Output: one row per conversation, only the columns a later stage reads:
  *   - sig_text: normalised concatenation of turn texts in stable
  *     (turn_idx) order — the ROW INVARIANT hinges on the explicit
  *     array_sort over collect_list(struct(turn_idx, ...)), because
  *     collect_list order is not deterministic under shuffle
  *     (SURVEY.md §7.4 risk 2).
  *   - turn_texts: per-turn normalised text array (turn-aligned scoring).
  *   - role_seq: compact role string, e.g. "UAUAT" (postcode analogue).
  *   - tokens, TF features, salient (rarest) tokens 1..3, numeric tokens
  *     1..2 (reference tokenisation.py:22-36).
  *   - len_band, role/length block key, MinHash LSH band keys (blocking).
  *
  * Scale shape: one shuffle (the conversation collect), then one plain-Scala
  * function per conversation for every signature column, and one per row
  * for the TF columns against a broadcast token->rel_freq map: no explode,
  * join or groupBy. Each is a UDF returning a struct, expanded once. The
  * kernels follow Spark's own text rules (ICU-aware upper-casing,
  * java.util.regex patterns, UTF8String.trim, lengths in code points,
  * UTF-8 string order), so their output is bit-identical to the
  * column-expression plan kept as the test oracle SignaturesColumnOracle.
  */
object Signatures {

  val MinhashK = 16
  val Bands = 4
  val RowsPerBand = 4

  /** TF-attach miss default (reference: term_frequencies.py:104-111). */
  val DefaultRelFreq = 5e-5

  private val Punct = Pattern.compile("[\\p{Punct}]")
  private val Whitespace = Pattern.compile("\\s+")
  /** xxhash64(lit(seed), shingle) hashes the seed first, from Spark's 42. */
  private val SeedHashes = Array.tabulate(MinhashK)(s => XXH64.hashInt(s, 42L))

  /** Spark's upper(): `icu` is spark.sql.icu.caseMappings.enabled (with it,
    * "ß" becomes "SS").
    */
  private def upper(s: UTF8String, icu: Boolean): String =
    CollationSupport.Upper.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, icu).toString

  /** GraftFunctions.normText on one string: upper-case, punctuation to a
    * space, whitespace runs to one space, trim. UTF8String.trim strips
    * spaces only; String.trim would also strip control characters.
    */
  private def normText(s: String, icu: Boolean): String = {
    val spaced = Punct.matcher(upper(UTF8String.fromString(s), icu)).replaceAll(" ")
    UTF8String.fromString(Whitespace.matcher(spaced).replaceAll(" ")).trim().toString
  }

  private val SignatureSchema = StructType(Seq(
    StructField("n_turns", IntegerType, nullable = false),
    StructField("turn_texts", ArrayType(StringType), nullable = false),
    StructField("role_seq", StringType, nullable = false),
    StructField("sig_text", StringType, nullable = false),
    StructField("tokens", ArrayType(StringType), nullable = false),
    StructField("numeric_token_1", StringType),
    StructField("numeric_token_2", StringType),
    StructField("len_band", IntegerType),
    StructField("bk_role_len", StringType, nullable = false),
    StructField("minhash_bands", ArrayType(StringType))))

  /** Every signature column of one conversation from its roles and texts in
    * turn order.
    */
  private def signatureRow(roles: Seq[String], texts: Seq[String], icu: Boolean): Row = {
    // a null text stays null here and is skipped in sig_text (concat_ws)
    val turnTexts = texts.map(t => if (t == null) null else normText(t, icu))
    val roleSeq = roles.iterator.filter(_ != null)
      .map(r => upper(UTF8String.fromString(r).substringSQL(1, 1), icu)).mkString
    val sigText = turnTexts.iterator.filter(_ != null).mkString(" ")
    // "" tokens are dropped: a punctuation-only turn normalises to "", and
    // sig_text keeps that empty element (a leading or doubled space). A
    // rare "" would otherwise become a salient token and co-block
    // unrelated records. sig_text itself stays as concat_ws builds it: it
    // is the exact-match / length surface, not the token surface.
    val tokens = sigText.split(" ").filter(_.nonEmpty)
    // positional numeric tokens (reference: numeric_token_1..3,
    // cleaning/steps/tokenisation.py:22-36) — document order, so filler
    // text cannot displace them the way it can displace rarity-ranked
    // salient tokens
    val numeric = tokens.iterator.filter(_.forall(c => c >= '0' && c <= '9')).take(2).toArray
    val nChars = math.max(sigText.codePointCount(0, sigText.length), 1)
    val lenBand = math.floor(StrictMath.log(nChars) / StrictMath.log(2.0)).toInt
    // MinHash over distinct word-3-gram shingles (not unigram tokens):
    // unrelated records sharing a vocabulary still have near-disjoint
    // shingle sets, so LSH bands stay selective (candidate-pair count is
    // THE scale driver). A conversation with <3 tokens has no shingles,
    // hence NULL band keys: the un-blockable convention every other
    // feature follows (blocking drops null keys), rather than a shared
    // sentinel that would glue every short conversation into one giant
    // block per band.
    val bands =
      if (tokens.length < 3) null
      else {
        val mins = Array.fill(MinhashK)(Long.MaxValue)
        Iterator.range(0, tokens.length - 2)
          .map(i => s"${tokens(i)} ${tokens(i + 1)} ${tokens(i + 2)}").distinct
          .foreach { shingle =>
            val bytes = UTF8String.fromString(shingle)
            var k = 0
            while (k < MinhashK) {
              mins(k) = math.min(mins(k), XXH64.hashUTF8String(bytes, SeedHashes(k)))
              k += 1
            }
          }
        // GraftFunctions.minhashBandKeys: "<band>_<slot>_..._<slot>"
        Array.tabulate(Bands)(b =>
          s"${b}_" + mins.slice(b * RowsPerBand, (b + 1) * RowsPerBand).mkString("_"))
      }
    Row(texts.length, turnTexts, roleSeq, sigText, tokens.toSeq,
      numeric.lift(0).orNull, numeric.lift(1).orNull,
      lenBand, s"$roleSeq#$lenBand", bands)
  }

  /** Full signature table from raw turns, sorted by (turn_idx, role, text):
    * `ts` could only order turns equal in all three, which give the same row.
    */
  def signatures(turns: DataFrame): DataFrame = {
    val icu = turns.sparkSession.conf.get(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key).toBoolean
    val kernel: UDF2[Seq[String], Seq[String], Row] = signatureRow(_, _, icu)
    turns
      .select(col("conv_id"), struct(col("turn_idx"), col("role"), col("text")).as("t"))
      .groupBy(col("conv_id"))
      .agg(array_sort(collect_list(col("t"))).as("ts_sorted"))
      .select(col("conv_id"), udf(kernel, SignatureSchema).asNonNullable()(
        col("ts_sorted.role"), col("ts_sorted.text")).as("__sig"))
      .select(col("conv_id"), col("__sig.*"))
  }

  /** On-the-fly token relative-frequency table (reference mode
    * `clean_data_on_the_fly`, cleaning/pipelines.py:108-129):
    * rel_freq = occurrences / total occurrences.
    */
  def tokenFrequencies(signatures: DataFrame): DataFrame = {
    val tok = signatures.select(explode(col("tokens")).as("token"))
    val counted = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    // scalar total via broadcast cross join — NOT an empty-spec window,
    // which would funnel the whole vocabulary through one partition
    val total = counted.agg(sum(col("cnt")).as("__total"))
    counted.crossJoin(broadcast(total))
      .select(col("token"), (col("cnt") / col("__total")).as("rel_freq"))
  }

  private val TfSchema = StructType(Seq(
    StructField("token_freq_hist", MapType(StringType,
      StructType(Seq(StructField("cnt", IntegerType, nullable = false),
        StructField("rel_freq", DoubleType))), valueContainsNull = false)),
    StructField("very_unusual_tokens", ArrayType(StringType)),
    StructField("extremely_unusual_tokens", ArrayType(StringType)),
    StructField("salient_token_1", StringType),
    StructField("salient_token_2", StringType),
    StructField("salient_token_3", StringType)))

  private final case class TokenTf(token: String, cnt: Int, relFreq: Double)

  /** Rarity order: rel_freq ascending, then token in Spark's string order
    * (the reference's list_grade_up, term_frequencies.py:272-305).
    */
  private object RarityOrder extends Ordering[TokenTf] {
    def compare(a: TokenTf, b: TokenTf): Int = {
      val byFreq = SQLOrderingUtil.compareDoubles(a.relFreq, b.relFreq)
      if (byFreq != 0) byFreq else Utf8Order.compare(a.token, b.token)
    }
  }

  /** The TF columns of one conversation's tokens; NULL when it has none. */
  private def tfRow(tokens: Seq[String], freqs: Map[String, Double],
      veryUnusualMax: Double, extremelyUnusualMax: Double): Row = {
    if (tokens == null || tokens.isEmpty) return null
    val counts = mutable.HashMap.empty[String, Int]
    tokens.foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
    val tfs = counts.iterator
      .map { case (t, n) => TokenTf(t, n, freqs.getOrElse(t, DefaultRelFreq)) }
      .toArray.sorted(RarityOrder)
    // insertion order is the map's entry order: Scoring.tfProduct folds
    // the entries in it
    val hist = new java.util.LinkedHashMap[String, Row]()
    tfs.foreach(e => hist.put(e.token, Row(e.cnt, e.relFreq)))
    def bandTokens(lo: Double, hi: Double): Array[String] =
      tfs.filter(e => e.relFreq < hi && e.relFreq >= lo).map(_.token)
    def salient(i: Int): String = if (i < tfs.length) tfs(i).token else null
    Row(hist, bandTokens(extremelyUnusualMax, veryUnusualMax),
      bandTokens(0.0, extremelyUnusualMax), salient(0), salient(1), salient(2))
  }

  /** Attach TF features: token->(cnt, rel_freq) map, salient (rarest)
    * tokens 1..3, and the frequency-banded very- and extremely-unusual
    * token arrays that the score model's rare-token comparison reads
    * (reference: term_frequencies.py:264-307 bands at 1e-4 / 5e-5 / 1e-7,
    * retuned as corpus-relative thresholds configurable by caller).
    * A token missing from `tf` gets DefaultRelFreq; a conversation without
    * tokens gets NULL in all six columns.
    *
    * `tf` is collected into a map on the driver and broadcast (reference
    * TF ~300k rows; at 100 TB the TF table itself stays vocabulary-sized),
    * then every row derives its columns from its own tokens: no explode,
    * join or groupBy.
    */
  def attachTf(
      sigs: DataFrame,
      tf: DataFrame,
      veryUnusualMax: Double = 1e-4,
      extremelyUnusualMax: Double = 1e-5): DataFrame = {
    val freqs = tf.select(col("token"), col("rel_freq").cast("double")).collect()
      .collect { case Row(t: String, f: Double) => t -> f }.toMap
    val bc = sigs.sparkSession.sparkContext.broadcast(freqs)
    val kernel: UDF1[Seq[String], Row] =
      tfRow(_, bc.value, veryUnusualMax, extremelyUnusualMax)
    sigs.select(col("*"), udf(kernel, TfSchema)(col("tokens")).as("__tf"))
      .select(sigs.columns.toSeq.map(col) :+ col("__tf.*"): _*)
  }
}
