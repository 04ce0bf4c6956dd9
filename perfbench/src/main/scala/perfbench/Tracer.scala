package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the scheduler reported it (epoch ms). */
final case class JobEv(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** One stage attempt, with the sums of its finished tasks' metrics. */
final case class StageEv(id: Int, attempt: Int, name: String,
    submitMs: Long, endMs: Long, tasks: TaskSums)

/** Task-metric sums. Bytes stay bytes; times stay ms (cpu in ns). */
final case class TaskSums(
    tasks: Long = 0, retries: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, shWriteBytes: Long = 0, shWriteRecs: Long = 0,
    shReadBytes: Long = 0, shReadRecs: Long = 0, fetchWaitMs: Long = 0,
    spillBytes: Long = 0, peakExecMem: Long = 0, outBytes: Long = 0,
    writingTasks: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(
    tasks + o.tasks, retries + o.retries, runMs + o.runMs, cpuNs + o.cpuNs,
    gcMs + o.gcMs, shWriteBytes + o.shWriteBytes, shWriteRecs + o.shWriteRecs,
    shReadBytes + o.shReadBytes, shReadRecs + o.shReadRecs,
    fetchWaitMs + o.fetchWaitMs, spillBytes + o.spillBytes,
    math.max(peakExecMem, o.peakExecMem), outBytes + o.outBytes,
    writingTasks + o.writingTasks)
}

/** A finished SQL action: its planning phases (epoch-ms intervals from
  * the QueryPlanningTracker), plan size and shuffle-exchange count.
  */
final case class QeEv(phases: Seq[(Long, Long)], nodes: Int, shuffles: Int) {
  def startMs: Long = if (phases.isEmpty) Long.MaxValue else phases.map(_._1).min
}

/** One streaming micro-batch progress report. */
final case class BatchEv(tsMs: Long, queryId: String, durMs: Long, stateRows: Long)

/** A traced interval. Spans of one run share `run`; `parent` is the id of
  * the enclosing span (0 for a root).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Long, endMs: Long, attrs: Seq[(String, Any)] = Nil)

/** The benchmark's own instrument: a SparkListener (jobs, stages, tasks),
  * a QueryExecutionListener (planning phases and plans of every action)
  * and a StreamingQueryListener (micro-batch progress). Events are kept
  * in memory and cut into laps by wall-clock interval after the lap's
  * listener-bus drain; nothing here alters what the engine executes.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskSums]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()
  private val batches = new ConcurrentLinkedQueue[BatchEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, ids) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time, Nil))
      jobs.add(JobEv(e.jobId, start, e.time, ids))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val s = if (m == null) TaskSums(tasks = 1, retries = 1)
      else {
        val out = m.outputMetrics.bytesWritten
        TaskSums(
          tasks = 1,
          retries = if (info.attemptNumber > 0 || !info.successful) 1 else 0,
          runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
          shWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          shWriteRecs = m.shuffleWriteMetrics.recordsWritten,
          shReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shReadRecs = m.shuffleReadMetrics.recordsRead,
          fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          peakExecMem = m.peakExecutionMemory,
          outBytes = out, writingTasks = if (out > 0) 1 else 0)
      }
      stageTasks.merge((e.stageId, e.stageAttemptId), s, (a, b) => a + b)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val sums = Option(stageTasks.remove((i.stageId, i.attemptNumber()))).getOrElse(TaskSums())
      stages.add(StageEv(i.stageId, i.attemptNumber(), i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), sums))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(Tracer.describe(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qes.add(Tracer.describe(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli + dur
      batches.add(BatchEv(ts, p.id.toString, dur, state))
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Deliver every pending event, then stop listening. */
  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Every event recorded so far; clears the buffers. */
  def take(): Events = {
    def pop[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val b = Vector.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    Events(pop(jobs), pop(stages), pop(qes), pop(batches))
  }
}

final case class Events(jobs: Seq[JobEv], stages: Seq[StageEv], qes: Seq[QeEv],
    batches: Seq[BatchEv])

object Tracer {
  /** The operators of an executed physical plan: adaptive wrappers are
    * replaced by their final plan and query stages by the exchange they
    * ran, and subqueries are included. On fixed inputs the final adaptive
    * plan is fixed too, so the count repeats from run to run.
    */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  def describe(qe: QueryExecution): QeEv = {
    val phases = qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
    val nodes = try planNodes(qe.executedPlan) catch { case _: Throwable => Nil }
    QeEv(phases, nodes.size, nodes.count(_.isInstanceOf[ShuffleExchangeLike]))
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}
