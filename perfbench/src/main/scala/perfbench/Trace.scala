package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace tree: workload → unit → SQL action → job → stage. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Long, endMs: Long)

/** Counters of the `operators` layer for one traced execution of a unit. */
final class OpStats {
  var actions, jobs, stages, tasks, exchanges = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var executorRunMs, executorCpuMs, gcMs = 0.0
  var scanBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var stageMaxTaskMs, stageMeanTaskMs = 0.0
  var streamBatches, streamCommitMs = 0L
  val streamRows = mutable.Map.empty[String, Long]   // last numRowsTotal per stream run
  val streamBytes = mutable.Map.empty[String, Long]  // last memoryUsedBytes per stream run
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def metrics(wallMs: Double, startMs: Long, endMs: Long): Map[String, Double] = Map(
    "actions" -> actions.toDouble, "jobs" -> jobs.toDouble,
    "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs,
    "driver_gap_ms" -> math.max(0.0, wallMs - Trace.unionMs(jobSpans.toSeq, startMs, endMs)),
    "exchanges" -> exchanges.toDouble,
    "executor_run_ms" -> executorRunMs, "executor_cpu_ms" -> executorCpuMs,
    "gc_ms" -> gcMs, "scan_bytes" -> scanBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble,
    "task_skew_max_ms" -> stageMaxTaskMs, "task_skew_mean_ms" -> stageMeanTaskMs,
    "stream_batches" -> streamBatches.toDouble,
    "stream_state_rows" -> streamRows.values.sum.toDouble,
    "stream_state_bytes" -> streamBytes.values.sum.toDouble,
    "stream_commit_ms" -> streamCommitMs.toDouble)
}

/** Listeners for the `operators` layer, registered by the benchmark on
  * the session it drives. Events are attributed to the execution that
  * is open when they are delivered; the harness drains the listener bus
  * after every execution, so an execution's events never leak into the
  * next one, and untraced executions (no open record) are ignored. */
final class Trace(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val lock = new Object
  @volatile private var open: OpStats = null
  private var openSpan = 0L
  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]
  private val sqlStart = mutable.Map.empty[Long, (Long, String)]
  private val sqlSpanId = mutable.Map.empty[Long, Long]
  private val jobSpanId = mutable.Map.empty[Int, Long]
  private val jobParent = mutable.Map.empty[Int, Long]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, (Long, Double, Double)] // count, sum, max

  def newSpanId(): Long = lock.synchronized { nextId += 1; nextId }
  def addSpan(s: Span): Unit = lock.synchronized { spans += s }

  /** Opens a record for one traced execution whose span is `spanId`. */
  def begin(spanId: Long): OpStats = lock.synchronized {
    val s = new OpStats; open = s; openSpan = spanId
    sqlStart.clear(); sqlSpanId.clear(); jobSpanId.clear(); jobParent.clear(); jobStartMs.clear()
    stageJob.clear(); stageTasks.clear()
    s
  }

  def end(): Unit = lock.synchronized { open = null }

  private def withOpen(f: OpStats => Unit): Unit = lock.synchronized {
    val s = open
    if (s != null) f(s)
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart => withOpen { _ =>
        sqlStart(e.executionId) = (e.time, e.description)
        sqlSpanId(e.executionId) = newSpanId()
      }
      case e: SparkListenerSQLExecutionEnd => withOpen { _ =>
        for ((t0, desc) <- sqlStart.remove(e.executionId); id <- sqlSpanId.get(e.executionId))
          spans += Span(id, openSpan, "sql", desc.take(80), t0, e.time)
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = withOpen { s =>
      s.jobs += 1
      jobStartMs(e.jobId) = e.time
      jobSpanId(e.jobId) = newSpanId()
      // a job started by a SQL action is that action's child
      val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobParent(e.jobId) = sql.flatMap(id => sqlSpanId.get(id.toLong)).getOrElse(openSpan)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = withOpen { s =>
      for (t0 <- jobStartMs.remove(e.jobId); id <- jobSpanId.get(e.jobId)) {
        s.jobSpans += ((t0, e.time))
        spans += Span(id, jobParent.getOrElse(e.jobId, openSpan), "job", s"job ${e.jobId}", t0, e.time)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOpen { s =>
      s.tasks += 1
      val (n, sum, max) = stageTasks.getOrElse(e.stageId, (0L, 0.0, 0.0))
      val d = e.taskInfo.duration.toDouble
      stageTasks(e.stageId) = (n + 1, sum + d, math.max(max, d))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = withOpen { s =>
      val info = e.stageInfo
      s.stages += 1
      val m = info.taskMetrics
      if (m != null) {
        s.executorRunMs += m.executorRunTime
        s.executorCpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.scanBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      for ((n, sum, max) <- stageTasks.remove(info.stageId) if n > 0) {
        s.stageMaxTaskMs += max; s.stageMeanTaskMs += sum / n
      }
      for (t0 <- info.submissionTime; t1 <- info.completionTime) {
        val parent = stageJob.get(info.stageId).flatMap(jobSpanId.get).getOrElse(openSpan)
        spans += Span(newSpanId(), parent, "stage", s"stage ${info.stageId}", t0, t1)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      withOpen(record(_, qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      withOpen(record(_, qe))
  }

  private def record(s: OpStats, qe: QueryExecution): Unit = {
    s.actions += 1
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    s.analysisMs += ms("analysis")
    s.optimizationMs += ms("optimization")
    s.planningMs += ms("planning")
    s.exchanges += collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      withOpen { s =>
        val p = e.progress
        s.streamBatches += 1
        val run = p.runId.toString
        p.stateOperators.foreach { op =>
          s.streamCommitMs += op.commitTimeMs
          s.streamRows(run + op.operatorName) = op.numRowsTotal
          s.streamBytes(run + op.operatorName) = op.memoryUsedBytes
        }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var reach = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, reach); val b = math.min(b0, hi)
      if (b > a) { covered += b - a; reach = b }
    }
    covered.toDouble
  }

  /** Spans as JSON lines, each with its self time: its duration minus the
    * part of it covered by its children. */
  def toJson(spans: Seq[Span]): String = {
    val kids = spans.groupBy(_.parent)
    spans.sortBy(s => (s.startMs, s.id)).map { s =>
      val child = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val self = (s.endMs - s.startMs) - unionMs(child, s.startMs, s.endMs)
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${self.toLong}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
