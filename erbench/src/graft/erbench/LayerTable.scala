package graft.erbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Turns one traced call's spans into the per-layer table. Layer names
  * are the pipeline's stage names; a layer called more than once in a
  * call (link runs signatures, tf and attach_tf once per side) is summed.
  */
object LayerTable {

  val Layers: Seq[String] = Seq(
    "signatures", "tf", "attach_tf", "cascade", "blocking", "scoring", "refine",
    "cc", "best_merge", "checkpoint")

  def metrics(
      spark: SparkSession,
      tracer: Tracer,
      listener: TaskListener,
      root: Span,
      out: CallOut,
      prepared: Prepared,
      tracedWall: Double,
      warmS: Double): Seq[(String, Double, String)] = {
    listener.drain()
    val children = tracer.spans.filter(_.parent == root.id)
    def of(layer: String) = children.filter(_.name == layer)
    def totals(layer: String): TaskTotals = {
      val descs = of(layer).map(tracer.desc).toSet
      listener.totals(descs.contains)
    }
    val rows = Layers.map { l =>
      val t = totals(l)
      (l, of(l).map(tracer.selfSeconds).sum, t, of(l).map(_.rowsOut.max(0L)).sum)
    }
    val unattributed = tracer.selfSeconds(root)
    println(f"${"layer"}%-11s ${"wall_s"}%8s ${"task_cpu_s"}%10s ${"shuf_w_mb"}%9s " +
      f"${"spill_mb"}%8s ${"stages"}%6s ${"rows_out"}%9s")
    rows.foreach { case (l, w, t, r) =>
      println(f"$l%-11s $w%8.3f ${t.cpuNs / 1e9}%10.3f ${t.shuffleWriteBytes / 1e6}%9.2f " +
        f"${t.spillBytes / 1e6}%8.2f ${t.stages}%6d $r%9d")
    }
    println(f"${"(other)"}%-11s $unattributed%8.3f   traced call $tracedWall%.3f s, warm_s $warmS%.3f s")

    val perLayer = rows.flatMap { case (l, w, t, r) =>
      Seq(
        (s"$l.wall_s", w, "s"),
        (s"$l.task_cpu_s", t.cpuNs / 1e9, "s"),
        (s"$l.shuffle_write_mb", t.shuffleWriteBytes / 1e6, "MB"),
        (s"$l.spill_mb", t.spillBytes / 1e6, "MB"),
        (s"$l.spark_stages", t.stages.toDouble, "count"),
        (s"$l.rows_out", r.toDouble, "count"))
    }
    val nPairs = out.candidates.count()
    val (recall, precision) = prepared.blockingQuality(out)
    val salvage = out.candidates.filter(col("match_key") >= out.nRules).count()
    val scoringWall = rows.find(_._1 == "scoring").map(_._2).getOrElse(0.0)
    val edgesIn = out.edges.map(_.count()).getOrElse(0L)
    val maxCluster =
      if (out.edges.isEmpty) 0L
      else out.result.groupBy("cluster_id").count().agg(max("count")).head().getLong(0)
    perLayer ++ Seq(
      ("blocking.pairs", nPairs.toDouble, "count"),
      ("blocking.pair_recall", recall, "ratio"),
      ("blocking.pair_precision", precision, "ratio"),
      ("blocking.salted_keys", out.tierStats.map(_.nSaltKeys).sum.toDouble, "count"),
      ("blocking.ultra_keys", out.tierStats.map(_.nUltraKeys).sum.toDouble, "count"),
      ("blocking.salvage_pairs", salvage.toDouble, "count"),
      ("scoring.pairs_per_s", if (scoringWall > 0) nPairs / scoringWall else 0.0, "1/s"),
      ("cascade.links", of("cascade").map(_.rowsOut.max(0L)).sum.toDouble, "count"),
      ("cc.edges_in", edgesIn.toDouble, "count"),
      ("cc.max_cluster", maxCluster.toDouble, "count"),
      ("checkpoint.mb_written", totals("checkpoint").outputBytes / 1e6, "MB"),
      ("trace.unattributed_s", unattributed, "s"),
      ("trace.overhead_s", tracedWall - warmS, "s"))
  }
}
