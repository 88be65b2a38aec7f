package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{MapType, StructField}
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.TranscriptGen
import graft.signature.Signatures

/** The per-row signature and TF kernels against the column-expression
  * reference (SignaturesColumnOracle): the same schema (names, order,
  * types, nullability) and the same rows, compared as multisets both ways
  * and by an order-sensitive hash over every column. Map columns are
  * compared as their entry arrays, so the entry order is checked too
  * (Scoring.tfProduct folds the entries in that order).
  */
class SignaturesOracleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def comparable(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map {
      case StructField(name, _: MapType, _, _) => map_entries(col(name)).as(name)
      case f => col(f.name)
    }: _*)

  /** Row count and the sum of each row's xxhash64 over all columns. */
  private def orderedHash(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)")).cast("string")).head()
    (r.getLong(0), r.getString(1))
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    val (g, w) = (comparable(got).localCheckpoint(), comparable(want).localCheckpoint())
    val onlyGot = g.exceptAll(w).take(3)
    val onlyWant = w.exceptAll(g).take(3)
    assert(onlyGot.isEmpty && onlyWant.isEmpty,
      s"kernel-only ${onlyGot.toSeq}; oracle-only ${onlyWant.toSeq}")
    val (n, hash) = orderedHash(g)
    assert(n > 0)
    assert((n, hash) === orderedHash(w))
  }

  /** Signatures, then signatures with TF taken from `tfTurns` (the same
    * turns when None), by the kernels and by the oracle.
    */
  private def assertMatchesOracle(turns: DataFrame, tfTurns: Option[DataFrame] = None,
      bands: Seq[Double] = Seq(1e-4, 1e-5)): Unit = {
    val Seq(vu, eu) = bands
    val sigs = Signatures.signatures(turns)
    val oracleSigs = SignaturesColumnOracle.signatures(turns)
    assertSameRows(sigs, oracleSigs)
    val tfSigs = tfTurns.map(Signatures.signatures).getOrElse(sigs)
    val oracleTfSigs = tfTurns.map(SignaturesColumnOracle.signatures).getOrElse(oracleSigs)
    assertSameRows(
      Signatures.attachTf(sigs, Signatures.tokenFrequencies(tfSigs), vu, eu),
      SignaturesColumnOracle.attachTf(oracleSigs, Signatures.tokenFrequencies(oracleTfSigs),
        vu, eu))
  }

  test("kernels equal the column oracle on TranscriptGen dedup turns") {
    assertMatchesOracle(TranscriptGen.turnsDF(spark, 400, seed = 1L))
  }

  test("kernels equal the column oracle on TranscriptGen link turns, TF from canonical") {
    val turns = TranscriptGen.turnsDF(spark, 400, seed = 1L)
    val variant = substring(col("conv_id"), 2, 10).cast("long") % 4
    assertMatchesOracle(turns.filter(variant =!= 0), tfTurns = Some(turns.filter(variant === 0)))
  }

  test("kernels equal the column oracle on hand-built edge cases, ICU on and off") {
    // exactly 1,024 code points; every shingle is "ABC ABC ABC"
    val long1024 = Seq.fill(255)("abc").mkString(" ") + " abcd"
    val convs: Seq[(String, Seq[(Int, String, String)])] = Seq(
      // ICU upper-casing: ß -> SS, the ﬁ ligature -> FI, dotless ı and
      // dotted İ, titlecase ǅ; role initials ß and 😀 (one code point)
      "icu" -> Seq((0, "ßeta", "straße ﬁne ıstanbul İzmir ǅemal"),
        (1, "😀bot", "ǆungla fuß ﬁnal")),
      // a tab is \s, NBSP is not; \u0001 survives the space-only trim
      "space" -> Seq((0, "user", "tab\there  now"), (1, "assistant", "nb\u00a0sp word here"),
        (2, "user", "\u0001edge of text\u0001")),
      // a punctuation-only turn leaves "" in turn_texts and a leading space
      "punct" -> Seq((0, "user", "?!..."), (1, "assistant", "order 0042 shipped 7 12x ٣ today")),
      // null text, null role, empty role
      "nulls" -> Seq((0, null, "hello there world"), (1, "", null), (2, "assistant", "ok then")),
      // duplicate turn_idx: the rest of the struct orders them
      "dup_idx" -> Seq((0, "user", "second copy text"), (0, "assistant", "first copy text"),
        (1, "user", "after both")),
      // duplicate (turn_idx, role, text): only ts (which the oracle sorts
      // by and the kernel does not ship) tells them apart
      "dup_turn" -> Seq((0, "user", "said twice"), (0, "user", "said twice"),
        (1, "assistant", "heard")),
      // rarity ties (all singletons) whose order differs between UTF-8
      // and UTF-16: Ａ (U+FF21) sorts below 😀 and 𝔸 only in UTF-8
      "utf" -> Seq((0, "user", "😀 Ａ 𝔸 ﬀ zeta")),
      // sig_text of exactly 8, 16 and 1,024 code points
      "len8" -> Seq((0, "user", "😀😀😀😀😀😀😀😀")),
      "len16" -> Seq((0, "user", "😀bc defg"), (1, "user", "hijklmn")),
      "len1024" -> Seq((0, "user", long1024)),
      // fewer than 3 tokens: no shingles
      "short" -> Seq((0, "user", "hi"), (1, "assistant", "there")),
      // repeated shingles
      "repeat" -> Seq((0, "user", "a b c a b c a b c 0042")),
      // no tokens at all
      "empty" -> Seq((0, "user", "!!!"), (1, "assistant", null), (2, "user", "")),
      "numeric" -> Seq((0, "user", "call 0042 then 0042 and 9 or 00"))
    )
    val turns = convs.flatMap { case (id, ts) =>
      ts.zipWithIndex.map { case ((idx, role, text), i) =>
        (id, idx, role, text, null.asInstanceOf[String], new Timestamp(1700000000000L + i * 1000L))
      }
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val icuKey = SQLConf.ICU_CASE_MAPPINGS_ENABLED.key
    val before = spark.conf.get(icuKey)
    try {
      for (icu <- Seq("true", "false")) {
        spark.conf.set(icuKey, icu)
        assertMatchesOracle(turns)
        // bands wide enough that both hold tokens of this small corpus
        assertMatchesOracle(turns, bands = Seq(0.01, 0.004))
      }
    } finally spark.conf.set(icuKey, before)
  }
}
