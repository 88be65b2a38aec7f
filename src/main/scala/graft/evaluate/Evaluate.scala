package graft.evaluate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation harness: best-match selection with distinguishability
  * (reference: post_linkage/analyse_results.py:48-161) and pairwise
  * precision / recall / F1 of predicted clusters against ground-truth
  * labels over candidate pairs at the same blocking keys (BASELINE.json
  * gate; reference analogue: accuracy_from_labels.py:300-371).
  */
object Evaluate {

  /** Distinguishability category bounds, descending; the reference's
    * 1, 5 and 10 plus 0 (analyse_results.py:106-140).
    */
  private val CategoryBounds = Seq(10.0, 5.0, 1.0, 0.0)

  /** Best match per messy (_r) record with distinguishability category.
    * Tie-break mirrors the reference exactly: ORDER BY match_weight DESC,
    * conv_id_l ASC (analyse_results.py:107).
    */
  def bestMatches(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id_r"))
      .orderBy(col("match_weight").desc, col("conv_id_l").asc)
    val wAll = Window.partitionBy(col("conv_id_r"))
    val withWin = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("distinguishability",
        col("match_weight") - lead(col("match_weight"), 1).over(w))
      .withColumn("match_count", count(lit(1)).over(wAll))
      .filter(col("rn") === 1)

    val categorized = CategoryBounds.zipWithIndex.foldLeft(
      when(col("match_count") === 1, "01: one match only")
        .when(col("distinguishability").isNull,
          f"${CategoryBounds.length + 3}%02d: nan (last match in group)")) {
      case (acc, (t, i)) =>
        acc.when(col("distinguishability") > t, f"${i + 2}%02d: distinguishability > $t")
    }
    withWin.withColumn("distinguishability_category",
      categorized.otherwise(f"${CategoryBounds.length + 2}%02d: distinguishability = 0"))
      .drop("rn")
  }

  /** Merge deterministic-cascade matches with probabilistic best matches:
    * deterministic wins; probabilistic rows only for records the cascade
    * did not resolve (reference: match_candidate_selection.py:100-130 —
    * UNION ALL with a NOT IN guard, expressed as left_anti).
    */
  def mergeMatches(deterministic: DataFrame, probabilistic: DataFrame): DataFrame = {
    val det = deterministic.select(
      col("conv_id").as("conv_id_r"),
      col("resolved_canonical_id").as("conv_id_l"),
      col("match_reason"),
      lit(null).cast("double").as("match_weight"))
    val prob = probabilistic
      .join(det.select("conv_id_r"), Seq("conv_id_r"), "left_anti")
      .select(col("conv_id_r"), col("conv_id_l"),
        lit("probabilistic").as("match_reason"), col("match_weight"))
    det.unionByName(prob)
  }

  /** Per-match-reason accuracy against labels, with a GROUPING SETS
    * OVERALL row (reference: benchmarking/analysis/accuracy.py:29-66 +
    * accuracy_from_labels.py:300-371).
    *
    * @param matches (conv_id_r, conv_id_l, match_reason) — one row per
    *                matched record (e.g. `mergeMatches` output)
    * @param labels  (conv_id, correct_conv_id) ground truth
    * @return (match_reason incl. "OVERALL", n_matches, n_correct,
    *         accuracy_pct_e4, accuracy_pct) — accuracy_pct_e4 is the
    *         percentage at 4 dp scaled ×10^4 as BIGINT (exact integer
    *         arithmetic, engine-parity-safe for the oracle hash); the
    *         DOUBLE accuracy_pct is for human consumption only.
    */
  def accuracyByReason(matches: DataFrame, labels: DataFrame): DataFrame = {
    val joined = matches.join(
        labels.select(col("conv_id").as("conv_id_r"), col("correct_conv_id")),
        Seq("conv_id_r"))
      .withColumn("is_correct",
        (col("conv_id_l") === col("correct_conv_id")).cast("int"))
    joined
      .groupingSets(Seq(Seq(col("match_reason")), Seq()), col("match_reason"))
      .agg(count(lit(1)).as("n_matches"), sum(col("is_correct")).as("n_correct"))
      .select(
        coalesce(col("match_reason"), lit("OVERALL")).as("match_reason"),
        col("n_matches"), col("n_correct"),
        // pct·1e4 = n_correct·1e6/n_matches, round-half-up via (2a+b) div 2b.
        // PRECONDITION (every use of this identity repo-wide): a >= 0 and
        // b > 0 — Spark's `div` truncates toward zero while DuckDB's `//`
        // floors, which only agree for non-negative operands (ADVICE r3).
        // Holds here: counts. Negative-capable inputs must use an explicit
        // floor-div formulation instead.
        expr("(2 * n_correct * 1000000 + n_matches) div (2 * n_matches)")
          .as("accuracy_pct_e4"),
        (col("n_correct") * 100.0 / col("n_matches")).as("accuracy_pct"))
  }

  /** The nth false-positive example in deterministic (conv_id_r) order —
    * the reference's LIMIT 1 OFFSET n drill-down
    * (accuracy_from_labels.py:62-81). n is 0-based.
    */
  def nthFalsePositive(matches: DataFrame, labels: DataFrame, n: Int): DataFrame =
    matches.join(
        labels.select(col("conv_id").as("conv_id_r"), col("correct_conv_id")),
        Seq("conv_id_r"))
      .filter(col("conv_id_l") =!= col("correct_conv_id"))
      .orderBy(col("conv_id_r").asc, col("conv_id_l").asc)
      .offset(n).limit(1)

  /** Pairwise P/R/F1 on labeled pairs restricted to co-blocked candidate
    * pairs (the BASELINE gate is computed "on labeled pairs under the same
    * blocking keys").
    *
    * @param candidatePairs (conv_id_l, conv_id_r) the blocked pair universe
    * @param predicted      (conv_id, cluster_id)
    * @param labels         (conv_id, correct_conv_id) ground truth
    */
  def pairwiseF1(
      spark: SparkSession,
      candidatePairs: DataFrame,
      predicted: DataFrame,
      labels: DataFrame): DataFrame = {
    val pred = predicted.select(col("conv_id"), col("cluster_id"))
    val truth = labels.select(col("conv_id"), col("correct_conv_id"))

    val pairs = candidatePairs
      .select(col("conv_id_l"), col("conv_id_r"))
      .join(pred.withColumnRenamed("conv_id", "conv_id_l")
        .withColumnRenamed("cluster_id", "cluster_l"), Seq("conv_id_l"))
      .join(pred.withColumnRenamed("conv_id", "conv_id_r")
        .withColumnRenamed("cluster_id", "cluster_r"), Seq("conv_id_r"))
      .join(truth.withColumnRenamed("conv_id", "conv_id_l")
        .withColumnRenamed("correct_conv_id", "truth_l"), Seq("conv_id_l"))
      .join(truth.withColumnRenamed("conv_id", "conv_id_r")
        .withColumnRenamed("correct_conv_id", "truth_r"), Seq("conv_id_r"))
      .withColumn("pred_same", (col("cluster_l") === col("cluster_r")).cast("int"))
      .withColumn("truth_same", (col("truth_l") === col("truth_r")).cast("int"))

    val agg = pairs.agg(
      sum(col("pred_same") * col("truth_same")).as("tp"),
      sum(col("pred_same") * (lit(1) - col("truth_same"))).as("fp"),
      sum((lit(1) - col("pred_same")) * col("truth_same")).as("fn"),
      count(lit(1)).as("n_pairs"))

    agg.select(
      col("tp"), col("fp"), col("fn"), col("n_pairs"),
      (col("tp") / greatest(col("tp") + col("fp"), lit(1))).as("precision"),
      (col("tp") / greatest(col("tp") + col("fn"), lit(1))).as("recall"),
      (lit(2.0) * col("tp") / greatest(lit(2.0) * col("tp") + col("fp") + col("fn"), lit(1)))
        .as("f1"))
  }

  /** F1 over ALL labeled ground-truth pairs (recall includes pairs the
    * blocking missed) — the stricter end-to-end quality number.
    */
  def pairwiseF1AllLabelPairs(
      spark: SparkSession,
      predicted: DataFrame,
      labels: DataFrame): DataFrame = {
    // truth pairs: all (a, b), a < b, sharing correct_conv_id
    val t = labels.select(col("conv_id"), col("correct_conv_id"))
    val truthPairs = t.as("a").join(t.as("b"),
        col("a.correct_conv_id") === col("b.correct_conv_id") &&
          col("a.conv_id") < col("b.conv_id"))
      .select(col("a.conv_id").as("conv_id_l"), col("b.conv_id").as("conv_id_r"))
    // predicted pairs: all (a, b), a < b, sharing cluster_id
    val p = predicted.select(col("conv_id"), col("cluster_id"))
    val predPairs = p.as("a").join(p.as("b"),
        col("a.cluster_id") === col("b.cluster_id") && col("a.conv_id") < col("b.conv_id"))
      .select(col("a.conv_id").as("conv_id_l"), col("b.conv_id").as("conv_id_r"))

    val tp = predPairs.join(truthPairs, Seq("conv_id_l", "conv_id_r"), "left_semi").count()
    val fp = predPairs.join(truthPairs, Seq("conv_id_l", "conv_id_r"), "left_anti").count()
    val fn = truthPairs.join(predPairs, Seq("conv_id_l", "conv_id_r"), "left_anti").count()
    import spark.implicits._
    val precision = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
    val f1 = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    Seq((tp, fp, fn, precision, recall, f1)).toDF("tp", "fp", "fn", "precision", "recall", "f1")
  }
}
