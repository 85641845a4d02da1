package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Timings of one op, in epoch milliseconds (fractional), taken by the
  * harness around its calls into the engine; `planned` and `executed` stay
  * 0 for ops without a plan or an execution phase (writes, RDDs). Span
  * ids: the op is `4 * id`, its build, plan and exec children are
  * `4 * id + 1`, `+ 2` and `+ 3`.
  * Jobs and stages find their span through the local property the harness
  * set on the client thread before each call.
  */
final class OpRecord(val id: Int, val op: Op, val cycle: Int, val traced: Boolean) {
  var start, built, planned, executed, end = 0.0
  var ok = true
  var error = ""
  var optimizationS, planningS, gcS = 0.0
  var bytesWritten, filesWritten = 0L
  def seconds: Double = (end - start) / 1000.0
  def buildS: Double = (built - start) / 1000.0
  def planS: Double = (planned - built) / 1000.0
  def execS: Double = (end - executed) / 1000.0
  def spans: Seq[Long] = (0 to 3).map(4L * id + _)
}

final case class JobRec(id: Int, span: Long, start: Long, var end: Long)

final case class StageRec(id: Int, attempt: Int, span: Long, tasks: Int,
    start: Long, end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputBytes: Long, inputRecords: Long)

/** Records Spark jobs and stages with the harness span that submitted
  * them. Registered only for traced cycles; everything stays in memory
  * until the run ends.
  */
final class Tracer extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageSpan = mutable.HashMap.empty[(Int, Int), Long]

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key)))
      .map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, spanOf(e.properties), e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
        spanOf(e.properties)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val span = stageSpan.getOrElse((i.stageId, i.attemptNumber()), -1L)
      stages += StageRec(i.stageId, i.attemptNumber(), span, i.numTasks,
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead)
    }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }
}
