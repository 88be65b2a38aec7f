package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The ER query model end to end through `q27_fs_scores`: a hand-built
  * `documents.parquet` whose pairs land on every level of the three
  * comparisons, each pair's integer weight w the sum of its levels' log2
  * Bayes factors, and the emitted BIGINTs checked against hand arithmetic.
  */
class ErScoringSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** One pair per case: its two texts, then the log2 BFs of its text,
    * token-Jaccard and first-number levels. Each pair has a lang of its
    * own and both sides the same n_chars, so the lang#n_chars rule blocks
    * exactly the two documents together; no head3 or tail3 is shared
    * across cases. JW is over the normalised texts' first 80 chars.
    */
  private val Cases: Seq[(String, String, Int, Int, Int)] = Seq(
    // norm texts equal; Jaccard 1; 42 = 42
    ("alpha beta gamma 42", "Alpha, beta gamma 42!", 10, 8, 6),
    // JW 0.977; Jaccard 9/11; 17 = 17
    ("order 17 shipped to the north depot on monday morning",
      "order 17 shipped to the north depot on monday evening", 7, 6, 6),
    // JW 0.975; Jaccard 2/4; 300 != 301
    ("invoice 300 paid", "invoice 301 paid", 7, 4, -4),
    // JW 0.945; Jaccard 4/7; no number on either side
    ("kappa lambda mu nu xi", "kappa lambda mu nu xo omicron", 5, 4, 0),
    // JW 0.911; Jaccard 1/6; a number on the right side only
    ("sun moon star", "sun moan stir 3", 5, -3, 0),
    // JW 0.895; Jaccard 3/8; no number
    ("delta echo foxtrot golf hotel", "delta echo foxtrot india juliet kilo", 2, 1, 0),
    // JW below 0.8; Jaccard 0; 1 != 2
    ("one two three four five six 1", "seven eight nine ten 2", -2, -3, -4))

  /** round(log2(0.001 / 0.999) * 1e6), the oracle's literal. */
  private val PriorE6 = -9964341L

  private lazy val scored: Map[(Long, Long), (Long, Long)] = {
    val dir = Files.createTempDirectory("er-scoring").toString
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = Cases.zipWithIndex.flatMap { case ((l, r, _, _, _), i) =>
      Seq(Row(2L * i, l, s"lang$i", "src", 100L), Row(2L * i + 1, r, s"lang$i", "src", 100L))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$dir/documents.parquet")
    SparkEntry.queries("q27_fs_scores")(spark, dir).collect().map { r =>
      (r.getAs[Long]("doc_id_l"), r.getAs[Long]("doc_id_r")) ->
        (r.getAs[Long]("match_weight_e6"), r.getAs[Long]("match_probability_e8"))
    }.toMap
  }

  /** Half-up p·10^8 for p = 2^w / (999 + 2^w), in exact integers. */
  private def probabilityE8(w: Int): Long = {
    val (num, den) =
      if (w >= 0) (BigInt(2).pow(w) * BigInt(100000000), BigInt(999) + BigInt(2).pow(w))
      else (BigInt(100000000), BigInt(999) * BigInt(2).pow(-w) + 1)
    ((2 * num + den) / (2 * den)).toLong
  }

  test("q27 blocks one pair per case and emits w·10^6 + PriorE6 and half-up p·10^8") {
    // the cases reach every level of the three comparisons
    assert(Cases.map(_._3).toSet === Set(10, 7, 5, 2, -2))
    assert(Cases.map(_._4).toSet === Set(8, 6, 4, 1, -3))
    assert(Cases.map(_._5).toSet === Set(6, 0, -4))
    assert(scored.keySet === Cases.indices.map(i => (2L * i, 2L * i + 1)).toSet)
    for (((_, _, text, jac, num), i) <- Cases.zipWithIndex) {
      val w = text + jac + num
      val (weightE6, probabilityE8Got) = scored((2L * i, 2L * i + 1))
      assert(weightE6 === w * 1000000L + PriorE6, Cases(i))
      assert(probabilityE8Got === probabilityE8(w), Cases(i))
    }
  }
}
