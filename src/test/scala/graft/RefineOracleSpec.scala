package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.TranscriptGen
import graft.refine.DistinguishingTokens
import graft.refine.DistinguishingTokens.Params

/** The grouped refine kernel against the column-expression reference
  * (RefineColumnOracle): the same rows with every output column equal,
  * doubles compared by their raw bits and arrays element by element.
  */
class RefineOracleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val outCols = Seq("match_weight_original", "mw_adjustment")

  /** Output rows as a multiset, doubles replaced by their raw bits. */
  private def bitRows(df: DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
    df.select(cols.map(col): _*).collect().toSeq
      .map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      })
      .groupBy(identity).view.mapValues(_.size).toMap

  private def assertMatchesOracle(pairs: DataFrame, params: Params): Unit = {
    val kernel = DistinguishingTokens.improve(pairs, params)
    val cols = pairs.columns.toSeq ++ outCols
    assert(kernel.columns.toSeq === cols)
    val got = bitRows(kernel, cols)
    val want = bitRows(RefineColumnOracle.improve(pairs, params), cols)
    assert(want.nonEmpty)
    val onlyGot = got.toSeq.filterNot(e => want.get(e._1).contains(e._2))
    val onlyWant = want.toSeq.filterNot(e => got.get(e._1).contains(e._2))
    assert(onlyGot.isEmpty && onlyWant.isEmpty,
      s"$params: kernel-only ${onlyGot.take(3)}; oracle-only ${onlyWant.take(3)}")
  }

  private val paramSets = Seq(
    Params(),
    Params(matchWeightThreshold = -1000, topNMatches = 50))

  test("kernel equals the column oracle on TranscriptGen dedup scored pairs") {
    val scored = Pipeline.run(spark, TranscriptGen.turnsDF(spark, 400, seed = 1L)).scored
    paramSets.foreach(assertMatchesOracle(scored, _))
  }

  test("kernel equals the column oracle on TranscriptGen link scored pairs") {
    val turns = TranscriptGen.turnsDF(spark, 400, seed = 1L)
    val variant = substring(col("conv_id"), 2, 10).cast("long") % 4
    val scored = Pipeline.runLink(spark, turns.filter(variant =!= 0),
      turns.filter(variant === 0)).scored
    paramSets.foreach(assertMatchesOracle(scored, _))
  }

  test("kernel equals the column oracle on hand-built edge cases") {
    val many = "K K K Ａ Ａ Ａ 😀 😀 😀 😀 😀"
    val pairs = Seq(
      // empty and whitespace-only texts on either side
      ("e1", "r_empty", 1.0, "", ""),
      ("e2", "r_empty", 2.0, " \t ", ""),
      ("e3", "r_empty", 3.0, "A B", ""),
      ("w1", "r_blank", 1.0, "A", "  \t\n "),
      ("w2", "r_blank", 0.5, "", "  \t\n "),
      // one-token texts: no bigrams anywhere
      ("o1", "r_one", 4.0, "WORD", "WORD"),
      ("o2", "r_one", 3.0, "OTHER", "WORD"),
      ("o3", "r_one", 2.0, "WORD WORD", "WORD"),
      // seven candidates for a top-5 cut: tied weights (0.0 and -0.0
      // included) broken by conv_id_l desc, non-BMP ids among them
      ("t1", "r_tie", 1.0, "X Y", "X Y Z W"),
      ("t2", "r_tie", 1.0, "Y Z W", "X Y Z W"),
      ("t3", "r_tie", 1.0, "X Q X Y", "X Y Z W"),
      ("Ａ", "r_tie", 0.0, "Z W X", "X Y Z W"),
      ("😀", "r_tie", -0.0, "W Y Z", "X Y Z W"),
      ("t6", "r_tie", 2.0, "X Y Z W", "X Y Z W"),
      ("t7", "r_tie", 0.0, "Q Q", "X Y Z W"),
      // pool counts K=3, Ａ=3, 😀=5: the reward fold in UTF-8 key order
      // (K, Ａ, 😀) differs in the last bit from String order (K, 😀, Ａ)
      ("u1", "r_utf", 5.0, many, "Ａ Z K Z 😀"),
      // repeated and shared trailing tokens
      ("c1", "r_end", 3.0, "HELLO THANKS THANKS THANKS", "HELLO BYE"),
      ("c2", "r_end", 2.0, "HELLO THERE BYE", "HELLO BYE"),
      ("c3", "r_end", 1.0, "THANKS", "HELLO BYE")
    ).toDF("conv_id_l", "conv_id_r", "match_weight", "sig_text_l", "sig_text_r")
      .withColumn("match_key", length(col("conv_id_l")))
    Seq(
      Params(),
      Params(topNMatches = 3),
      Params(matchWeightThreshold = 0.75)
    ).foreach(assertMatchesOracle(pairs, _))
  }
}
