package graft.erbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Task-metric totals for one job description. */
final class TaskTotals {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var stages = 0L
  var tasks = 0L

  def add(o: TaskTotals): Unit = {
    cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
    stages += o.stages; tasks += o.tasks
  }
}

/** Sums task metrics per `spark.job.description`. The bench sets that
  * description around every call and every traced layer, so Spark's own
  * accounting (executor CPU, shuffle, spill, output bytes, stage count)
  * can be read back per call and per span. Read only after `drain()`.
  */
final class TaskListener(sc: SparkContext) extends SparkListener {
  import TaskListener.JobDescription
  private val stageDesc = mutable.Map[Int, String]()
  private val byDesc = mutable.Map[String, TaskTotals]()

  private def totalsFor(desc: String): TaskTotals = byDesc.getOrElseUpdate(desc, new TaskTotals)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobDescription))).getOrElse("")
    stageDesc(e.stageInfo.stageId) = desc
    totalsFor(desc).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totalsFor(stageDesc.getOrElse(e.stageId, ""))
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def drain(): Unit = org.apache.spark.erbench.BusDrain(sc)

  /** Totals over every description accepted by `keep`. */
  def totals(keep: String => Boolean): TaskTotals = synchronized {
    val out = new TaskTotals
    byDesc.foreach { case (d, t) => if (keep(d)) out.add(t) }
    out
  }
}

object TaskListener {
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}

/** One timed interval. `parent` is -1 for a call's root span. */
final case class Span(id: Int, callId: Int, name: String, parent: Int, startNs: Long) {
  var endNs: Long = -1L
  var rowsOut: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span tags the Spark jobs it causes with
  * the job description `span-<id>`, which is how task metrics are joined
  * to spans. Spans nest by call order on the calling thread.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  def desc(s: Span): String = s"span-${s.id}"

  def span[T](callId: Int, name: String)(body: Span => T): T = {
    val s = Span(spans.size, callId, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open = s :: open
    val outer = sc.getLocalProperty(TaskListener.JobDescription)
    sc.setJobDescription(desc(s))
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setJobDescription(outer)
    }
  }

  /** Span duration minus the part covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"call":${s.callId},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"rows_out":${s.rowsOut}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
