package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch seconds with nanosecond steps: spans and Spark's
  * listener events (epoch milliseconds) share one time axis. */
object Clock {
  private val originNs = System.nanoTime()
  private val originEpochS = System.currentTimeMillis() / 1e3
  def now(): Double = originEpochS + (System.nanoTime() - originNs) / 1e9
}

final case class Span(id: Int, parent: Int, name: String, layer: String, op: Int,
                      start: Double, end: Double)

/** In-memory spans around the benchmark's calls into each layer. When
  * disabled, `span` only runs its body. Driver thread only. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: Int = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, layer, op, t0, Clock.now())
      }
    }

  /** A span measured by the caller, as a child of the open span. */
  def record(name: String, layer: String, start: Double, end: Double): Unit =
    if (enabled) {
      spans += Span(nextId, stack.headOption.getOrElse(0), name, layer, op, start, end)
      nextId += 1
    }
}

/** One Spark job; `execution` is its SQL execution id ("" outside one). */
final case class JobRecord(id: Int, start: Double, var end: Double, execution: String,
                           stages: Int, tasks: Int)

/** Job, stage and task counts for the traced pass, plus Catalyst phase
  * time from every query execution that finished. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRecord]
  var stages = 0
  var tasks = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .getOrElse("")
    jobs += JobRecord(e.jobId, e.time / 1e3, Double.NaN, execution, e.stageInfos.size,
      e.stageInfos.map(_.numTasks).sum)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time / 1e3)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += 1
    tasks += i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    planNs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}
