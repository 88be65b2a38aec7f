package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.evaluate.Evaluate
import graft.ingest.TranscriptGen

/** End-to-end gate: cluster the synthetic transcript corpus and score
  * pairwise F1 against ground-truth labels (BASELINE.json: F1 >= 0.99 on
  * labeled pairs at the same blocking keys).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("end-to-end pipeline achieves pairwise F1 >= 0.99 on labeled pairs") {
    val turns = TranscriptGen.turnsDF(spark, 400)
    val labels = TranscriptGen.labels(spark, 400).toDF()
    val res = Pipeline.run(spark, turns)

    val f1Row = Evaluate.pairwiseF1(spark,
      res.pairs.select("conv_id_l", "conv_id_r"),
      res.clusters, labels)
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    val (tp, fp, fn, nPairs, precision, recall, f1) = f1Row
    info(s"co-blocked pairs=$nPairs tp=$tp fp=$fp fn=$fn P=$precision R=$recall F1=$f1")
    assert(f1 >= 0.99, s"pairwise F1 on co-blocked labeled pairs = $f1")

    // stricter, over ALL truth pairs (blocking recall included)
    val all = Evaluate.pairwiseF1AllLabelPairs(spark, res.clusters, labels)
      .as[(Long, Long, Long, Double, Double, Double)].head()
    info(s"all-pairs tp=${all._1} fp=${all._2} fn=${all._3} P=${all._4} R=${all._5} F1=${all._6}")
    assert(all._6 >= 0.95, s"pairwise F1 over all labeled pairs = ${all._6}")
  }

  test("row invariant: per-turn text equality under stable (conv_id, turn_idx) order") {
    // signatures' turn_texts must equal the normalised turn texts in
    // turn_idx order, independent of input partitioning/shuffling.
    val turns = TranscriptGen.turnsDF(spark, 120)
    val sigs = graft.signature.Signatures.signatures(turns.repartition(13))
    val expected = turns
      .withColumn("nt", graft.functions.GraftFunctions.normText(col("text")))
      .groupBy("conv_id")
      .agg(array_sort(collect_list(struct(col("turn_idx"), col("nt")))).as("arr"))
      .select(col("conv_id"), transform(col("arr"), x => x.getField("nt")).as("want"))
    val joined = sigs.select(col("conv_id"), col("turn_texts")).join(expected, "conv_id")
    assert(joined.filter(not(col("turn_texts") === col("want"))).count() === 0)
  }

  test("resume from checkpoint: second run reuses committed stages") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val turns = TranscriptGen.turnsDF(spark, 80)
    val cfg = Pipeline.Config(checkpointDir = Some(dir.toString))
    val stages = Seq("signatures", "pairs", "scored", "clusters")
    def clusters(r: Pipeline.Result) = r.clusters.orderBy("conv_id").collect().toSeq
    def refined(r: Pipeline.Result) = r.refined.collect().map(_.toString).sorted.toSeq
    val ck = new graft.runtime.Checkpoints(spark, dir.toString)
    def committed = dir.toFile.list().toSet.filter(ck.isCommitted)

    val r1 = Pipeline.run(spark, turns, cfg)
    val c1 = clusters(r1)
    assert(committed === stages.toSet)
    assert(r1.nBlockingRules > 0)
    // `refined` is committed on first read, and reused by a rerun
    val f1 = refined(r1)
    assert(committed === stages.toSet + "refined")

    // recomputing a stage overwrites its directory, deleting this marker
    def kept(stage: String) = java.nio.file.Files.exists(dir.resolve(stage).resolve("_kept"))
    def markKept(stage: String): Unit =
      if (!kept(stage)) java.nio.file.Files.createFile(dir.resolve(stage).resolve("_kept"))
    def delete(stage: String): Unit =
      org.apache.commons.io.FileUtils.deleteDirectory(dir.resolve(stage).toFile)

    markKept("refined")
    // a rerun after losing stage i and every later one (none at first):
    // the earlier stages are reused, the lost ones recomputed, and the
    // clusters are identical
    for (i <- stages.length to 0 by -1) {
      val (earlier, lost) = stages.splitAt(i)
      earlier.foreach(markKept)
      lost.foreach(delete)
      val r = Pipeline.run(spark, turns, cfg)
      assert(clusters(r) === c1, s"lost ${lost.mkString(",")}")
      // skew observability: a resumed pairs stage returns the tier stats
      // it was committed with
      assert(r.tierStats === r1.tierStats, s"lost ${lost.mkString(",")}")
      assert(earlier.forall(kept), s"lost ${lost.mkString(",")}; recomputed: ${earlier.filterNot(kept)}")
      assert(lost.forall(s => ck.isCommitted(s) && !kept(s)),
        s"lost ${lost.mkString(",")}; reused: ${lost.filter(kept)}")
      if (lost.isEmpty) assert(refined(r) === f1 && kept("refined"))
    }
  }
}
