package graft.runtime

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-partition lineage + per-stage metrics via SparkListener (north_rule:
  * "emit per-partition lineage and stage metrics"). Collects task-level
  * records-read/written, shuffle bytes and executor CPU per stage; dump
  * with `report()` and `partitionLineage()`, or read the running total
  * `cpuNanos` around a timed section.
  *
  * Listener events arrive asynchronously: a read right after an action can
  * miss that action's last task events.
  */
final class StageMetricsListener extends SparkListener {
  import StageMetricsListener.StageAgg

  val stages: mutable.Map[Int, StageAgg] = mutable.Map()
  /** per (stageId, partitionId) record counts — the per-partition lineage */
  val partitions: mutable.Map[(Int, Int), Long] = mutable.Map()

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    synchronized {
      val agg = stages.getOrElseUpdate(te.stageId, StageAgg())
      val m = te.taskMetrics
      if (m != null) {
        agg.tasks += 1
        agg.recordsRead += m.inputMetrics.recordsRead
        agg.recordsWritten += m.outputMetrics.recordsWritten
        agg.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        agg.cpuTimeNs += m.executorCpuTime
        partitions((te.stageId, te.taskInfo.index)) =
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }

  /** Executor CPU of every task seen so far, in nanoseconds. */
  def cpuNanos: Long = synchronized { stages.valuesIterator.map(_.cpuTimeNs).sum }

  def report(): String = synchronized {
    val lines = stages.toSeq.sortBy(_._1).map { case (id, a) =>
      s"""{"stage":$id,"tasks":${a.tasks},"recordsRead":${a.recordsRead},""" +
        s""""recordsWritten":${a.recordsWritten},"shuffleReadBytes":${a.shuffleReadBytes},""" +
        s""""shuffleWriteBytes":${a.shuffleWriteBytes},"cpuMs":${a.cpuTimeNs / 1000000}}"""
    }
    lines.mkString("\n")
  }

  /** Per-partition lineage lines: records seen by each (stage, partition). */
  def partitionLineage(): String = synchronized {
    partitions.toSeq.sorted.map { case ((stage, part), recs) =>
      s"""{"stage":$stage,"partition":$part,"records":$recs}"""
    }.mkString("\n")
  }
}

object StageMetricsListener {
  final case class StageAgg(
      var tasks: Int = 0, var recordsRead: Long = 0, var recordsWritten: Long = 0,
      var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0,
      var cpuTimeNs: Long = 0)
}
