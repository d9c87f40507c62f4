package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Passive collectors for the traced run: Spark job structure, task
  * time and data movement (a `SparkListener`), and the planner phases
  * of each action (a `QueryExecutionListener`). Both are fed by Spark's
  * asynchronous listener bus, so the bus is drained before any read.
  * Attached only when tracing is on.
  */
final class ExecListener extends SparkListener with QueryExecutionListener {
  /** cumulative counters; per-op numbers are differences of two snapshots */
  final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                            failedTasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
                            overheadMs: Long = 0, gcMs: Long = 0, shuffleRead: Long = 0,
                            shuffleWrite: Long = 0, spill: Long = 0, input: Long = 0,
                            output: Long = 0)

  private var c = Counters()
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  private val jobStarts = ArrayBuffer.empty[Long]
  private val phases = ArrayBuffer.empty[Map[String, Double]] // per action, seconds

  def snapshot(): Counters = synchronized(c)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    jobStarts += e.time
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = if (e.reason == Success) 0 else 1
    if (m == null) c = c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + failed)
    else c = c.copy(
      tasks = c.tasks + 1,
      failedTasks = c.failedTasks + failed,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      overheadMs = c.overheadMs + math.max(0L, e.taskInfo.duration - m.executorRunTime),
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      input = c.input + m.inputMetrics.bytesRead,
      output = c.output + m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    phases += qe.tracker.phases.map { case (k, p) => k -> p.durationMs / 1e3 }
  }

  def actionCount: Int = synchronized(phases.size)

  /** planner phases summed over the actions recorded after `since` */
  def phasesSince(since: Int): Map[String, Double] = synchronized {
    phases.drop(since).flatten.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def jobsStartedIn(from: Long, to: Long): Int =
    synchronized(jobStarts.count(t => t >= from && t <= to))

  /** milliseconds of [from, to] covered by at least one job */
  def inJobMs(from: Long, to: Long): Long = synchronized {
    val clipped = jobSpans.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}
