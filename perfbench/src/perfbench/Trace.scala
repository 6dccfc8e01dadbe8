package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval: a layer call, an operation, or a set-up step. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span buffer; written out once, when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var opId = -1L

  def setOp(id: Long): Unit = opId = id

  /** Times `body` as a span nested under the innermost open span. */
  def apply[T](name: String)(body: => T): T = {
    val idx = synchronized {
      buf += Span(name, System.nanoTime(), -1L, open.headOption.getOrElse(-1), opId)
      open = (buf.length - 1) :: open
      buf.length - 1
    }
    try body
    finally synchronized {
      buf(idx) = buf(idx).copy(endNs = System.nanoTime())
      open = open.tail
    }
  }

  def all: Seq[Span] = synchronized(buf.toList)

  def toJson: String = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    all.map { s =>
      f"""{"name":"${s.name}","start_ms":${(s.startNs - t0) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - t0) / 1e6}%.3f,"parent":${s.parent},"op":${s.op}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Spark work attributed to one benchmark operation. */
final class OpWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskTimeMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Counts jobs, stages and tasks per operation. The benchmark tags each
  * operation with the local property [[SparkWork.OpKey]]; jobs without
  * the tag (input generation, output checks) are not counted.
  */
final class SparkWork extends SparkListener {
  private val byOp = mutable.HashMap.empty[Long, OpWork]
  private val jobOp = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, Long]

  private def work(op: Long): OpWork = byOp.getOrElseUpdate(op, new OpWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkWork.OpKey)))
    tag.foreach { t =>
      val op = t.toLong
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = op)
      work(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { op =>
      work(op).jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => work(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val w = work(op)
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskTimeMs += m.executorRunTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def of(op: Long): OpWork = synchronized(byOp.getOrElse(op, new OpWork))
}

object SparkWork {
  val OpKey = "perfbench.op"

  /** Wall time of [startMs, endMs] not covered by any job interval. */
  def uncoveredMs(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (endMs - startMs) - covered)
  }
}
