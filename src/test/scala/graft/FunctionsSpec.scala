package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions._
import graft.functions.JaroWinkler.jaroWinkler
import graft.functions.JaroWinklerImpl

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("portableHash64 matches DuckDB's md5-derived value") {
    // DuckDB: SELECT CAST('0x'||substr(md5('hello'),1,15) AS BIGINT) = 419982666956583591
    val got = Seq("hello").toDF("s").select(portableHash64($"s")).as[Long].head()
    assert(got === 419982666956583591L)
  }

  test("jaro-winkler matches DuckDB jaro_winkler_similarity") {
    // DuckDB: SELECT jaro_winkler_similarity('MARTHA','MARHTA') = 0.9611111111111111
    assert(math.abs(JaroWinklerImpl.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString("MARTHA"),
      org.apache.spark.unsafe.types.UTF8String.fromString("MARHTA")) - 0.9611111111111111) < 1e-12)
    val viaCol = Seq(("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("", ""), ("ABC", "XYZ"))
      .toDF("a", "b").select(jaroWinkler($"a", $"b")).as[Double].collect()
    assert(math.abs(viaCol(0) - 0.9611111111111111) < 1e-12)
    assert(math.abs(viaCol(1) - 0.84) < 1e-12)
    assert(viaCol(2) === 0.0) // DuckDB: empty strings -> 0.0
    assert(viaCol(3) === 0.0)
  }

  test("normText is idempotent and canonical") {
    val df = Seq("  How do I   Reset, my PASSWORD?! ").toDF("s")
    val once = df.select(normText($"s")).as[String].head()
    assert(once === "HOW DO I RESET MY PASSWORD")
    val twice = df.select(normText(normText($"s"))).as[String].head()
    assert(twice === once)
  }

  test("tokens / ngrams / histMap") {
    val df = Seq("a b a c").toDF("s")
    assert(df.select(tokens($"s")).as[Seq[String]].head() === Seq("A", "B", "A", "C"))
    assert(df.select(wordNgrams(tokens($"s"), 2)).as[Seq[String]].head() ===
      Seq("A B", "B A", "A C"))
    val hm = df.select(histMap(tokens($"s"))).as[Map[String, Int]].head()
    assert(hm === Map("A" -> 2, "B" -> 1, "C" -> 1))
  }

  test("minhash is deterministic and band keys have expected shape") {
    val df = Seq(("a", "the quick brown fox"), ("b", "the quick brown fox")).toDF("id", "s")
    val sigs = minhashAggregate(df, "id", tokens($"s"), 8)
      .orderBy("id").select("minhash_sig").as[Seq[Long]].collect()
    assert(sigs(0) === sigs(1))
    assert(sigs(0).length === 8)
    val bands = Seq(Seq(11L, 12L, 21L, 22L, 31L, 32L, 41L, 42L)).toDF("sig")
      .select(minhashBandKeys($"sig", 4, 2)).as[Seq[String]].head()
    assert(bands === Seq("0_11_12", "1_21_22", "2_31_32", "3_41_42"))
  }

  test("simhash: similar texts closer than dissimilar") {
    val df = Seq(
      ("how do i reset my password please", "how do i reset my password now"),
      ("how do i reset my password please", "completely unrelated gibberish zebra")
    ).toDF("a", "b")
    val d = df.select(bit_count(simhash(tokens($"a")).bitwiseXOR(simhash(tokens($"b")))))
      .as[Int].collect()
    assert(d(0) < d(1))
  }

  test("cosine / jaccard / fingerprint") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b", "c")
    assert(math.abs(df.select(cosine($"a", $"b")).as[Double].head() - 1.0) < 1e-12)
    assert(math.abs(df.select(cosine($"a", $"c")).as[Double].head()) < 1e-12)
    val j = Seq((Seq("a", "b"), Seq("b", "c"))).toDF("x", "y")
      .select(jaccard($"x", $"y")).as[Double].head()
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
    val fp = Seq(Seq("a", "b")).toDF("t").select(rollingFingerprint($"t")).as[Long].collect()
    assert(fp(0) !== 0L)
  }
}
