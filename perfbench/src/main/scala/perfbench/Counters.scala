package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted for one benchmark span (a query's build or exec). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** Job intervals (ns on the tracer clock). */
  val jobIvs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Catalyst phases of one QueryExecution: (phase, start ns, end ns). */
final case class Phases(phases: Seq[(String, Long, Long)]) {
  def startNs: Long = phases.map(_._2).min
  def endNs: Long = phases.map(_._3).max
  def ms(phase: String): Double =
    phases.filter(_._1 == phase).map(p => (p._3 - p._2) / 1e6).sum
}

/** Benchmark-registered Spark listeners. Jobs and stages are
  * attributed to the benchmark span whose id the driver thread put in the
  * `perfbench.span` local property when it submitted them; that
  * property is inherited by threads the program starts from inside the
  * span. Catalyst phases come from `qe.tracker.phases` of every
  * QueryExecution the listener manager reports. */
final class Counters(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {
  import Counters._

  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def toNs(ms: Long): Long = ns0 + (ms - ms0) * 1000000L

  private final class Job(val span: Int, val startNs: Long) {
    var endNs = -1L
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val work = mutable.Map.empty[Int, Work]
  private val phases = mutable.ArrayBuffer.empty[Phases]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
  private def w(span: Int): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobs(e.jobId) = new Job(span, toNs(e.time))
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endNs = math.max(toNs(e.time), j.startNs)
      val wk = w(j.span)
      wk.jobs += 1
      wk.jobIvs += ((j.startNs, j.endNs))
      tracer.add(Span(tracer.newId(), j.span, s"job ${e.jobId}", "job",
        j.startNs, j.endNs))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val span = spanOf(e.properties)
      if (span >= 0) stageSpan(e.stageInfo.stageId) = span
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      w(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val wk = w(stageSpan.getOrElse(e.stageId, -1))
    wk.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      wk.taskCpuNs += m.executorCpuTime
      wk.taskRunMs += m.executorRunTime
      wk.gcMs += m.jvmGCTime
      wk.inputBytes += m.inputMetrics.bytesRead
      wk.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      wk.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      wk.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      // Spark UI's scheduler delay: task wall not spent deserializing,
      // running, or shipping the result back
      val info = e.taskInfo
      val wall = info.finishTime - info.launchTime
      wk.schedDelayMs += math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime
         else 0L))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  /** Records the Catalyst phases of `qe`, unless it planned nothing. */
  def record(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases
    if (ps.nonEmpty) synchronized {
      phases += Phases(ps.toSeq.sortBy(_._2.startTimeMs).map { case (k, v) =>
        (k, toNs(v.startTimeMs), toNs(v.endTimeMs)) })
    }
  }

  /** Fence: returns once the listener bus has delivered every event
    * posted so far and every job started under `spans` has ended. A job
    * that does not end within `timeoutMs` fails the operation. */
  def fence(sc: SparkContext, spans: Set[Int], timeoutMs: Long = 60000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while ({
      org.apache.spark.PerfbenchBus.drain(sc, timeoutMs)
      synchronized { jobs.values.exists(j => spans(j.span) && j.endNs < 0) }
    }) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"jobs of spans ${spans.mkString(",")} still running after ${timeoutMs} ms")
      Thread.sleep(2)
    }
  }

  /** Work attributed to `span` so far. */
  def workOf(span: Int): Work = synchronized { w(span) }

  /** Drains the recorded Catalyst phases. */
  def takePhases(): Seq[Phases] = synchronized {
    val out = phases.toList; phases.clear(); out
  }

  /** Work of spans no benchmark span claimed (property missing). */
  def unattributed: Work = synchronized { w(-1) }
}

object Counters {
  val SpanKey = "perfbench.span"
}
