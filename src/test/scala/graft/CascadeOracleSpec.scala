package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.TranscriptGen
import graft.resolve.ExactCascade
import graft.signature.Signatures

/** Stages 1-2 of `ExactCascade.run` (the block kernel) against the
  * column-expression reference (CascadeColumnOracle): the same schema and
  * the same rows as a multiset, on blocks of one bucket and on blocks of
  * more than 200 rows, which the kernel splits into buckets.
  */
class CascadeOracleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Asserts kernel == oracle and returns the oracle's rows. */
  private def assertMatchesOracle(
      messy: DataFrame, canonical: DataFrame, idCol: String): Seq[Row] = {
    val kernel = ExactCascade.run(messy, canonical, idCol)
    val oracle = CascadeColumnOracle.run(messy, canonical, idCol)
    assert(kernel.schema.map(f => (f.name, f.dataType)) ===
      oracle.schema.map(f => (f.name, f.dataType)))
    val onlyKernel = kernel.exceptAll(oracle).collect()
    val onlyOracle = oracle.exceptAll(kernel).collect()
    assert(onlyKernel.isEmpty && onlyOracle.isEmpty,
      s"kernel-only ${onlyKernel.take(5).toSeq}; oracle-only ${onlyOracle.take(5).toSeq}")
    oracle.collect().toSeq
  }

  private def reasons(rows: Seq[Row]): Set[String] = rows.map(_.getString(2)).toSet

  test("charNgrams: code-point n-grams, none under n") {
    import CascadeColumnOracle.charNgrams
    def grams(s: String, n: Int) =
      Seq(s).toDF("s").select(charNgrams($"s", n)).as[Seq[String]].head()
    assert(grams("abcd", 3) === Seq("abc", "bcd"))
    assert(grams("abcd", 5) === Seq())
    assert(grams("a😀b😀c", 5) === Seq("a😀b😀c"))
  }

  test("kernel equals the column oracle on TranscriptGen link signatures") {
    val turns = TranscriptGen.turnsDF(spark, 1200, seed = 1L)
    val variant = substring(col("conv_id"), 2, 10).cast("long") % 4
    def sigs(t: DataFrame) = Signatures.signatures(t)
      .select(col("conv_id"), col("sig_text"), col("bk_role_len").as("block_key"))
      .localCheckpoint()
    val messy = sigs(turns.filter(variant =!= 0))
    val canonical = sigs(turns.filter(variant === 0))
    val rows = assertMatchesOracle(messy, canonical, "conv_id")
    assert(reasons(rows) === Set("exact_match", "unique_shingle"))
    // one block of every row: split into ceil(rows / 200) > 1 buckets
    def oneBlock(df: DataFrame) = df.withColumn("block_key", lit("all"))
    assert(messy.count() + canonical.count() > 800)
    val oneBlockRows = assertMatchesOracle(oneBlock(messy), oneBlock(canonical), "conv_id")
    assert(reasons(oneBlockRows) === Set("exact_match", "unique_shingle"))
  }

  private val canonicalRows: Seq[(String, String, String)] = Seq(
    // duplicate canonical texts: the min id wins
    ("d2", "DUPLICATE CANONICAL TEXT", "D"),
    ("d1", "DUPLICATE CANONICAL TEXT", "D"),
    // U+1F600 sorts below U+FF21 by UTF-16 unit, above it by UTF-8 byte
    ("😀", "SURROGATE ORDER TEXT", "U"),
    ("Ａ", "SURROGATE ORDER TEXT", "U"),
    // a NULL id wins the dedupe (NULLs first) and owns no shingle
    (null, "NULL ID CANONICAL TEXT", "N"),
    ("n1", "NULL ID CANONICAL TEXT", "N"),
    ("o1", "SOLO CANONICAL RECORD", "O"),
    // NULL sig_text, NULL block_key
    ("cnt", null, "A"),
    ("cnb", "NULL BLOCK KEY TEXT", null),
    // 4 and 5 code points
    ("s4", "WXYZ", "S"),
    ("s5", "VWXYZ", "S"),
    ("s4e", "😀😀😀😀", "S"),
    // non-BMP: 3 code-point 5-grams, 6 by UTF-16 unit
    ("e1", "A😀B😀C😀D", "E"),
    // ABCDE and BCDEF are held by both a1 and a2
    ("a1", "ABCDEFGHIJ", "A"),
    ("a2", "ABCDEFXYZW", "A"),
    ("t1", "MNOPQRSTUV", "T"),
    ("t2", "0123456789", "T"),
    ("h1", "QWERTYUIOP", "H"),
    ("p9", "PRECEDENCE TEXT", "P"))

  private val messyRows: Seq[(String, String, String)] = Seq(
    ("md", "DUPLICATE CANONICAL TEXT", "D"), // exact -> d1
    ("mu", "SURROGATE ORDER TEXT", "U"), // exact -> Ａ
    ("mn", "NULL ID CANONICAL TEXT", "N"), // exact -> NULL
    ("mn2", "NULL ID CANONICAL TEXZ", "N"), // unique_shingle -> n1
    // a NULL messy id stays after left_anti: exact AND unique_shingle
    (null, "SOLO CANONICAL RECORD", "O"),
    ("mnt", null, "A"),
    ("mnb", "NULL BLOCK KEY TEXT", null),
    ("ms4", "WXYZ", "S"), // exact, no shingles
    ("ms5", "VWXYZ", "S"), // exact, one shingle
    ("ms4e", "😀😀😀😀", "S"), // exact, no shingles
    ("me", "A😀B😀C😀E", "E"), // 2 code-point hits, 5 by UTF-16 unit
    ("ma2", "ABCDEFGHQQ", "A"), // 2 unique hits + 2 shared: no link
    ("ma3", "ABCDEFGHIQ", "A"), // 3 unique hits + 2 shared -> a1
    ("mt", "MNOPQRS0123456", "T"), // 3 hits on t1, 3 on t2: no link
    ("mh2", "QWERTYZZZZ", "H"), // hits == 2: no link
    ("mh3", "QWERTYUZZZ", "H"), // hits == 3 -> h1
    ("mp", "PRECEDENCE TEXT", "P")) // exact wins over its unique shingles

  /** One 1,000-row block: exact copies, one-character misses and
    * unrelated texts, so the kernel splits it into 5 buckets.
    */
  private val bigBlock: (Seq[(String, String, String)], Seq[(String, String, String)]) = {
    def text(i: Int) = f"BIG CANON $i%04d KEY ${i * 7919 % 10007}%05d"
    val canon = (0 until 500).map(i => (f"bc$i%04d", text(i), "BIG"))
    val messy = (0 until 500).map { i =>
      val t = i % 3 match {
        case 0 => text(i)
        case 1 => text(i).dropRight(1) + "X"
        case _ => f"UNRELATED $i%04d"
      }
      (f"bm$i%04d", t, "BIG")
    }
    (canon, messy)
  }

  /** `rows` plus `n` canonical filler rows in each non-NULL block key,
    * which then holds more than 200 rows and is split. The filler texts
    * share no 5-gram with the hand-built texts.
    */
  private def padded(rows: Seq[(String, String, String)], n: Int) =
    rows ++ rows.map(_._3).filter(_ != null).distinct.flatMap { k =>
      (0 until n).map(i => (f"f$k$i%04d", f"filler $i%04d", k))
    }

  test("kernel equals the column oracle on hand-built edge cases") {
    val cols = Seq("conv_id", "sig_text", "block_key")
    val messy = (messyRows ++ bigBlock._2).toDF(cols: _*)
    // plain: only the 1,000-row block is split; padded: every block is
    for (canon <- Seq(canonicalRows, padded(canonicalRows, 400))) {
      val canonical = (canon ++ bigBlock._1).toDF(cols: _*)
      val rows = assertMatchesOracle(messy, canonical, "conv_id")
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      // the cases above are live: each shows in the oracle's output
      assert(Set(("md", "d1", "exact_match"), ("mu", "Ａ", "exact_match"),
        ("mn", null, "exact_match"), ("mn2", "n1", "unique_shingle"),
        (null, "o1", "exact_match"), (null, "o1", "unique_shingle"),
        ("ms4", "s4", "exact_match"), ("ms5", "s5", "exact_match"),
        ("ms4e", "s4e", "exact_match"), ("ma3", "a1", "unique_shingle"),
        ("mh3", "h1", "unique_shingle"), ("mp", "p9", "exact_match")).subsetOf(got))
      assert(Set("mnt", "mnb", "me", "ma2", "mt", "mh2").forall(id => !got.exists(_._1 == id)))
      assert(got.count(_._1 == "mp") === 1)
      val big = got.filter(t => t._1 != null && t._1.startsWith("bm")).map(_._3)
      assert(big === Set("exact_match", "unique_shingle"))
    }
  }

  test("kernel equals the column oracle with an empty side") {
    val cols = Seq("conv_id", "sig_text", "block_key")
    val none = Seq.empty[(String, String, String)].toDF(cols: _*)
    val canonical = canonicalRows.toDF(cols: _*)
    val messy = messyRows.toDF(cols: _*)
    assert(assertMatchesOracle(none, canonical, "conv_id").isEmpty)
    assert(assertMatchesOracle(messy, none, "conv_id").isEmpty)
  }

  test("kernel equals the column oracle on BIGINT ids") {
    val cols = Seq("doc_id", "sig_text", "block_key")
    val canonRows = Seq[(Option[Long], String, String)](
      (Some(10L), "BIGINT EXACT TEXT", "L"),
      (Some(3L), "BIGINT EXACT TEXT", "L"), // numeric min 3; "10" < "3" as strings
      (Some(100L), "LONG NEAR MISS CANDIDATE", "L"),
      (None, "LONG NEAR MISS CANDIDATE", "L"),
      (Some(7L), "SHORT", "L"))
    val messy = Seq[(Option[Long], String, String)](
      (Some(1L), "BIGINT EXACT TEXT", "L"),
      (Some(2L), "LONG NEAR MISS CANDIDATF", "L"),
      (Some(4L), "SHORT", "L"),
      (Some(5L), "UNRELATED", "L")
    ).toDF(cols: _*)
    val filler = (0 until 400).map(i => (Some(1000L + i), f"filler $i%04d", "L"))
    for (canon <- Seq(canonRows, canonRows ++ filler)) {
      val rows = assertMatchesOracle(messy, canon.toDF(cols: _*), "doc_id")
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ===
        Set((1L, 3L, "exact_match"), (2L, 100L, "unique_shingle"), (4L, 7L, "exact_match")))
    }
  }

  test("NULL messy ids with exact matches collapse to one row (documented difference)") {
    val cols = Seq("conv_id", "sig_text", "block_key")
    val canonical = Seq(("c1", "FIRST EXACT TEXT", "K"), ("c2", "SECOND EXACT TEXT", "K"))
      .toDF(cols: _*)
    val messy = Seq[(String, String, String)](
      (null, "SECOND EXACT TEXT", "K"), (null, "FIRST EXACT TEXT", "K")).toDF(cols: _*)
    val exactOf = (df: DataFrame) => df.filter(col("match_reason") === "exact_match")
      .select("resolved_canonical_id").as[String].collect().sorted.toSeq
    assert(exactOf(CascadeColumnOracle.run(messy, canonical)) === Seq("c1", "c2"))
    // the kernel keys on the messy id: one exact row, the min candidate
    assert(exactOf(ExactCascade.run(messy, canonical)) === Seq("c1"))
  }
}
