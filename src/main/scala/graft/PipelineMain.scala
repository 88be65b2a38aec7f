package graft

import java.nio.file.{Files, Paths}

import graft.runtime.{Session, StageMetricsListener}

/** Deployable entrypoint (north_rule: "runs via spark-submit with explicit
  * repartitioning, AQE skew-join handling ... resumable from checkpoint
  * with per-partition lineage + metrics").
  *
  * Usage:
  *   spark-submit --class graft.PipelineMain <jar> \
  *     <turnsParquetPath|gen:<nConvIds>> <checkpointDir> <outDir> [edgeThreshold]
  *
  * - input `gen:N` synthesises N deterministic conversation-id slots
  *   (benchmark mode); otherwise reads a parquet turn table with the
  *   (conv_id, turn_idx, role, text, tool, ts) contract.
  * - signatures, pairs, scored and clusters commit to <checkpointDir>; a
  *   rerun after a crash resumes from the last committed stage
  *   (`_manifest_<stage>.json` per stage). `refined` is never read here.
  * - per-stage task metrics land in <outDir>/stage_metrics.jsonl,
  *   per-partition record counts in <outDir>/partition_lineage.jsonl and
  *   cluster assignments in <outDir>/clusters.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PipelineMain <turnsParquet|gen:N> <checkpointDir> <outDir> [edgeThreshold]")
    val (input, ckptDir, outDir) = (args(0), args(1), args(2))
    val edgeThreshold = args.lift(3).map(_.toDouble).getOrElse(Pipeline.Config().edgeThreshold)

    // spark-submit's master and confs win; without a master the run is
    // local[SPARK_GRAFT_CPUS] (runtime.Session)
    val spark = Session.builder("graft-pipeline", Session.cpus)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val listener = new StageMetricsListener
    spark.sparkContext.addSparkListener(listener)

    val turns =
      if (input.startsWith("gen:"))
        graft.ingest.TranscriptGen.turnsDF(spark, input.stripPrefix("gen:").toLong)
      else spark.read.parquet(input)

    val cfg = Pipeline.Config(edgeThreshold = edgeThreshold, checkpointDir = Some(ckptDir))
    val res = Pipeline.run(spark, turns, cfg)

    res.clusters.write.mode("overwrite").parquet(s"$outDir/clusters")
    // read back with the frame's schema: inferring it costs a Spark job
    val nClusters = spark.read.schema(res.clusters.schema).parquet(s"$outDir/clusters")
      .select("cluster_id").distinct().count()

    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/stage_metrics.jsonl"), listener.report() + "\n")
    Files.writeString(Paths.get(s"$outDir/partition_lineage.jsonl"),
      listener.partitionLineage() + "\n")
    println(s"""{"status":"ok","clusters":$nClusters,"checkpointDir":"$ckptDir","out":"$outDir"}""")
    spark.stop()
  }
}
