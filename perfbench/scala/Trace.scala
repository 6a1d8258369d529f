package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace records, filled by [[Tracer]] and [[QeTracer]] while
  * `enabled` is set and written out by the driver when the run ends. Every
  * record carries the op tag the client thread set as a local property
  * (jobs, stages, tasks) or, for query executions, its wall interval. */
object Trace {
  val OpKey = "perfbench.op"
  @volatile var enabled = false
  /** Time spent inside the tracer's own callbacks. */
  val callbackNs = new java.util.concurrent.atomic.AtomicLong()

  private[perfbench] def timed(body: => Unit): Unit = if (enabled) {
    val t0 = System.nanoTime()
    body
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  final case class Job(id: Int, op: String, start: Long, var end: Long = -1L)
  final case class Stage(id: Int, job: Int, op: String, submitted: Long,
                         var completed: Long = -1L, var tasks: Int = 0)
  final case class Qe(start: Long, end: Long, analysis: Long, optimization: Long,
                      planning: Long)

  /** Task metrics summed per op tag. */
  final class TaskSum {
    var tasks, runMs, cpuNs, gcMs, waitMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var inBytes, inRows, outBytes = 0L
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  val taskSums = new java.util.concurrent.ConcurrentHashMap[String, TaskSum]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private[perfbench] def opOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")

  /** Plain (name -> value) records for the result file. */
  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "op" -> j.op, "start" -> j.start, "end" -> j.end)
  }
  def stageRecords: Seq[Map[String, Any]] = stages.values.asScala.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "job" -> s.job, "op" -> s.op, "start" -> s.submitted,
      "end" -> s.completed, "tasks" -> s.tasks)
  }
  def taskRecords: Map[String, Map[String, Any]] = taskSums.asScala.toMap.map { case (op, t) =>
    op -> Map("tasks" -> t.tasks, "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs,
      "gc_ms" -> t.gcMs, "wait_ms" -> t.waitMs, "shuffle_write" -> t.shuffleWrite,
      "shuffle_read" -> t.shuffleRead, "fetch_wait_ms" -> t.fetchWaitMs,
      "spill" -> t.spill, "in_bytes" -> t.inBytes, "in_rows" -> t.inRows,
      "out_bytes" -> t.outBytes)
  }
  def qeRecords: Seq[Map[String, Any]] = qes.asScala.toSeq.map { q =>
    Map("start" -> q.start, "end" -> q.end, "analysis_ms" -> q.analysis,
      "optimization_ms" -> q.optimization, "planning_ms" -> q.planning)
  }
  def progressRecords: Seq[Map[String, Any]] = progress.asScala.toSeq.map { e =>
    val p = e.progress
    Map("batch" -> p.batchId, "rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "dropped" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
  }
}

/** Scheduler-level tracer, attached through `spark.extraListeners`. Streaming
  * progress arrives here as well, through `onOtherEvent`. */
class Tracer extends SparkListener {
  import Trace._

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val op = opOf(e.properties)
    jobs.put(e.jobId, Job(e.jobId, op, e.time))
    e.stageInfos.foreach(s => stages.putIfAbsent(s.stageId, Stage(s.stageId, e.jobId, op, -1L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val info = e.stageInfo
    val job = Option(stages.get(info.stageId)).map(_.job).getOrElse(-1)
    stages.put(info.stageId, Stage(info.stageId, job, opOf(e.properties),
      info.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    Option(stages.get(info.stageId)).foreach { s =>
      s.completed = info.completionTime.getOrElse(System.currentTimeMillis())
      s.tasks = info.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val stage = Option(stages.get(e.stageId))
    val t = taskSums.computeIfAbsent(stage.map(_.op).getOrElse(""), _ => new TaskSum)
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      for (s <- stage if s.submitted > 0; info <- Option(e.taskInfo))
        t.waitMs += math.max(0L, info.launchTime - s.submitted)
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inBytes += m.inputMetrics.bytesRead
        t.inRows += m.inputMetrics.recordsRead
        t.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => timed(progress.add(p))
    case _ =>
  }
}

/** Catalyst-level tracer, attached through `spark.sql.queryExecutionListeners`:
  * the tracker's analysis / optimization / planning phases of every action. */
class QeTracer extends QueryExecutionListener {
  import Trace._

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(record(qe, durationNs))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(name: String): Long = phases.get(name).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(System.currentTimeMillis() - durationNs / 1000000L)
    qes.add(Qe(start, start + durationNs / 1000000L, ms("analysis"), ms("optimization"),
      ms("planning")))
  }
}
