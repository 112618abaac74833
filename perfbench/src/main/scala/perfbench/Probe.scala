package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. All spans of one query share `trace`;
  * `parent` names the enclosing span. Times are epoch milliseconds, the clock
  * Spark's stage events use. */
final case class Span(trace: Int, name: String, parent: String, startMs: Double, endMs: Double)

/** Keeps spans in memory until the benchmark writes them out at exit. When
  * disabled, `span` only runs its body. */
final class Tracer {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  var trace = 0

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](name: String, parent: String)(body: => T): T =
    if (!enabled) body
    else {
      val start = nowMs
      try body finally spans += Span(trace, name, parent, start, nowMs)
    }

  def add(name: String, parent: String, startMs: Double, endMs: Double): Unit =
    spans += Span(trace, name, parent, startMs, endMs)
}

/** Task-level totals for one (query, phase) pair. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, peakMem, inRows, inBytes = 0L
}

/** One completed stage with its task durations (ms). */
final case class StageRec(qid: Int, phase: String, stageId: Int,
    submitMs: Long, completeMs: Long, taskMs: Seq[Long])

/** Attributes jobs, stages and tasks to the query and phase named by the
  * local properties set on the thread that launched them. */
final class Recorder extends SparkListener {
  private val owner = mutable.Map.empty[Int, (Int, String)]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val counters = mutable.Map.empty[(Int, String), Counters]
  val stages = mutable.ArrayBuffer.empty[StageRec]

  private def of(key: (Int, String)) = counters.getOrElseUpdate(key, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val qid = Option(p).flatMap(x => Option(x.getProperty(Recorder.Qid)))
    qid.foreach { q =>
      val key = (q.toInt, p.getProperty(Recorder.Phase))
      of(key).jobs += 1
      e.stageIds.foreach(owner(_) = key)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    owner.get(e.stageId).foreach { key =>
      val c = of(key)
      c.tasks += 1
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.inRows += m.inputMetrics.recordsRead
        c.inBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    owner.get(info.stageId).foreach { case key @ (qid, phase) =>
      of(key).stages += 1
      stages += StageRec(qid, phase, info.stageId,
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L),
        taskMs.remove(info.stageId).map(_.toSeq).getOrElse(Nil))
    }
  }
}

object Recorder {
  val Qid = "perfbench.qid"
  val Phase = "perfbench.phase"
}

/** Holds the query executions of finished actions until the benchmark
  * takes them after draining the listener bus. */
final class PlanRecorder extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { done += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized { val r = done.toSeq; done.clear(); r }
}

object Plans extends AdaptiveSparkPlanHelper {
  /** True when the executed plan, through adaptive stages, holds a Window. */
  def hasWindow(plan: SparkPlan): Boolean = find(plan)(_.nodeName == "Window").isDefined
}
