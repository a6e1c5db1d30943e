package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional); `op`
  * is the id of the op the span belongs to (0 outside any op). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      op: Long, start: Double, end: Double)

/** Counters and spans for the traced run, fed by a SparkListener and a
  * QueryExecutionListener that are registered only when the run is traced.
  * Nothing is recorded while `on` is false (set-up and verification). */
final class Tracer(warehouseRoot: Option[String]) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  val spans = mutable.ArrayBuffer.empty[Span]
  def span(s: Span): Unit = if (on) spans.synchronized { spans += s }

  /** Counter name → value, summed over the traced batches. */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = if (on) counts.synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }

  // op start times (epoch ms), for attributing events that carry no op
  // id: ops run one after another, so an event belongs to the last op
  // started before it
  private val starts = mutable.ArrayBuffer.empty[(Long, Double)]
  def opStarted(op: Long, start: Double): Unit = starts.synchronized { starts += ((op, start)) }
  private def opAt(t: Double): Long = starts.synchronized {
    starts.reverseIterator.find(_._2 <= t).map(_._1).getOrElse(0L)
  }

  @volatile private var activeJobs = 0
  @volatile private var busySince = 0L
  private val jobBusyMs = new AtomicLong(0)
  /** Wall milliseconds during which at least one job ran. */
  def jobBusy(nowMs: Long): Long = synchronized {
    jobBusyMs.get + (if (activeJobs > 0) nowMs - busySince else 0L)
  }

  private val jobStart = mutable.HashMap.empty[Int, (Long, Long, Long)]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val sqlStart = mutable.HashMap.empty[Long, (Long, Long)]
  private val sqlSpan = mutable.HashMap.empty[Long, Long]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Tracer.this.synchronized {
        if (activeJobs == 0) busySince = e.time
        activeJobs += 1
      }
      if (!on) return
      add("exec.jobs", 1)
      val props = Option(e.properties)
      if (props.exists(_.getProperty(Tracer.BuildProperty) != null)) add("ops.eager_jobs", 1)
      val op = props.flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
        .map(_.toLong).getOrElse(0L)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val parent = exec.flatMap(x => sqlSpan.synchronized(sqlSpan.get(x))).getOrElse(op)
      jobStart.synchronized { jobStart(e.jobId) = (e.time, op, parent) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Tracer.this.synchronized {
        activeJobs = math.max(0, activeJobs - 1)
        if (activeJobs == 0) jobBusyMs.addAndGet(e.time - busySince)
      }
      jobStart.synchronized(jobStart.remove(e.jobId)).foreach { case (t0, op, parent) =>
        span(Span(nextId(), parent, "job", s"job ${e.jobId}", op, t0, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
      add("exec.stages", 1)
      e.stageInfo.submissionTime.foreach { t =>
        stageSubmit.synchronized {
          stageSubmit((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = t
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      add("exec.tasks", 1)
      if (!e.taskInfo.successful) add("exec.failed_tasks", 1)
      stageSubmit.synchronized(stageSubmit.get((e.stageId, e.stageAttemptId)))
        .foreach(t => add("exec.sched_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3))
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("exec.result_mb", m.resultSize / 1e6)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
      case s: SparkListenerSQLExecutionStart =>
        val op = opAt(s.time.toDouble)
        val id = nextId()
        sqlSpan.synchronized(sqlSpan(s.executionId) = id)
        sqlStart.synchronized(sqlStart(s.executionId) = (s.time, op))
      case x: SparkListenerSQLExecutionEnd =>
        sqlStart.synchronized(sqlStart.remove(x.executionId)).foreach { case (t0, op) =>
          val id = sqlSpan.synchronized(sqlSpan.remove(x.executionId)).getOrElse(nextId())
          span(Span(id, op, "action", s"sql ${x.executionId}", op, t0, x.time))
        }
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = if (on) {
    add("plans.actions", 1)
    val phases = qe.tracker.phases
    var op = 0L
    for ((name, p) <- phases if Tracer.Phases.contains(name)) {
      add(s"plans.${name}_s", p.durationMs / 1e3)
      if (op == 0L) op = opAt(p.endTimeMs.toDouble)
      span(Span(nextId(), op, "phase", name, op, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
    warehouseRoot.foreach { root =>
      val writes = Tracer.writeCommands(qe.executedPlan)
      if (writes.nonEmpty) {
        if (writes.exists(_.cmd.toString.contains(root))) {
          add("connect.warehouse_write_s", durationNs / 1e9)
          writes.foreach { w =>
            w.cmd.metrics.get("numFiles").foreach(m => add("connect.warehouse_files", m.value.toDouble))
            w.cmd.metrics.get("numOutputBytes").foreach(m => add("connect.warehouse_mb_written", m.value / 1e6))
          }
        }
      } else if (Tracer.scannedRoots(qe).exists(_.contains(root)))
        add("connect.warehouse_read_s", durationNs / 1e9)
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val OpProperty = "graftbench.op"
  /** Set on the jobs a registry builder starts (eager jobs). */
  val BuildProperty = "graftbench.build"
  val Phases = Set("analysis", "optimization", "planning")

  /** The file writes in an executed plan, looking inside adaptive plans and
    * their query stages (a write whose input shuffles runs in one). */
  def writeCommands(plan: SparkPlan): Seq[DataWritingCommandExec] =
    collect(plan) { case w: DataWritingCommandExec => w }

  def scannedRoots(qe: QueryExecution): Seq[String] =
    qe.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }.flatten
}
