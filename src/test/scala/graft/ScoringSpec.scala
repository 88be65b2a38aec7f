package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.TranscriptGen
import graft.score.Scoring

/** The default score model through its public surface
  * (`Pipeline.scorePairs` / `Scoring.scoreDefault`): one bf_* column per
  * comparison, match_weight the prior's log2 odds plus each log2 BF in
  * model order, match_probability derived from it, and the levels' NULL,
  * empty and JW-cap edges.
  */
class ScoringSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val Prior = 1e-6
  /** The model's comparisons, in the order match_weight sums them. */
  private val Comparisons = Seq("sig_text", "salient_token_1", "salient_token_3",
    "numeric_token_1", "numeric_token_2", "role_seq", "turn_jw", "rare_token_overlap",
    "n_turns", "token_tf_product")

  private lazy val run = Pipeline.run(spark, TranscriptGen.turnsDF(spark, 400, seed = 1L))
  private lazy val scored = Pipeline.scorePairs(run.signatures, run.signatures, run.pairs, Prior)

  // Spark's log2 and pow are StrictMath's
  private def log2(x: Double): Double = StrictMath.log(x) / StrictMath.log(2)
  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  test("the bf_* columns are the model's comparisons, in model order") {
    assert(scored.columns.filter(_.startsWith("bf_")).toSeq === Comparisons.map("bf_" + _))
  }

  test("match_weight is the prior's log2 odds plus each log2 BF; match_probability follows") {
    val priorLog2 = math.log(Prior / (1.0 - Prior)) / math.log(2.0)
    val rows = scored
      .select((Seq("match_weight", "match_probability") ++ Comparisons.map("bf_" + _)).map(col): _*)
      .collect()
    assert(rows.length > 100)
    for (r <- rows) {
      val w = Comparisons.indices.foldLeft(priorLog2)((acc, i) => acc + log2(r.getDouble(i + 2)))
      assert(bits(r.getDouble(0)) === bits(w), r)
      val p = StrictMath.pow(2.0, w) / (1.0 + StrictMath.pow(2.0, w))
      assert(bits(r.getDouble(1)) === bits(p), r)
    }
  }

  /** One TranscriptGen pair with `overrides` replacing its feature columns. */
  private def scoredWith(overrides: (String, Column)*): Row = {
    val fat = Pipeline.attachScoreCols(run.signatures, run.signatures, run.pairs).limit(1)
    Scoring.scoreDefault(overrides.foldLeft(fat) { case (df, (c, v)) =>
      df.withColumn(c, v.cast(fat.schema(c).dataType))
    }, Prior).head()
  }

  test("a NULL token_freq_hist on either side gives the TF product a BF of 1") {
    for (side <- Seq("l", "r"))
      assert(scoredWith(s"token_freq_hist_$side" -> lit(null))
        .getAs[Double]("bf_token_tf_product") === 1.0, side)
  }

  test("empty turn_texts on either side give turn_jw a BF of 1") {
    for (side <- Seq("l", "r"))
      assert(scoredWith(s"turn_texts_$side" -> array()).getAs[Double]("bf_turn_jw") === 1.0, side)
  }

  test("turn_jw reads the first 48 characters: texts differing only after them score high") {
    val prefix = ("the quick brown fox jumps over the lazy dog " * 2).take(48)
    val row = scoredWith(
      "turn_texts_l" -> array(lit(prefix + "a" * 100)),
      "turn_texts_r" -> array(lit(prefix + "z" * 100)))
    assert(row.getAs[Double]("bf_turn_jw") === math.pow(2, 8))
  }
}
