package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Counters of one job group. The harness sets the group to
  * `op-<n>/<phase>` before each phase of an op, so every job, stage, task
  * and SQL execution Spark runs is attributed to the op and phase that
  * started it.
  */
final class Counters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    Seq("jobs", "stages", "tasks", "failed_tasks", "cpu_s", "run_s", "gc_s",
      "sched_wait_s", "shuffle_write_bytes", "shuffle_read_bytes",
      "shuffle_records", "fetch_wait_s", "spill_disk_bytes", "spill_mem_bytes",
      "peak_exec_mem_bytes", "input_bytes", "input_records", "output_bytes",
      "executions", "analysis_s", "optimize_s", "physical_s", "exchanges",
      "windows", "sorts", "smj", "bhj", "expressions", "graft_exprs",
      "files_read", "files_written").map(_ -> 0.0): _*)
  def add(k: String, v: Double): Unit = c(k) += v
  def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
}

/** A listener on Spark's public APIs only: `SparkListener` for jobs,
  * stages and task metrics, `QueryExecutionListener` for planning phases
  * and the final (post-AQE) physical plan of every execution.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val groups = mutable.LinkedHashMap[String, Counters]()
  // (job id, group, start ms, end ms)
  val jobs = mutable.LinkedHashMap[Int, (String, Long, Long)]()
  // stage id -> (job id, submit ms, completion ms)
  val stages = mutable.LinkedHashMap[Int, (Int, Long, Long)]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val execGroup = mutable.Map[Long, String]()

  private def g(name: String): Counters = groups.getOrElseUpdate(name, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobs(e.jobId) = (group, e.time, -1L)
    g(group).add("jobs", 1)
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) {
      stageGroup(s) = group
      stages(s) = (e.jobId, -1L, -1L)
    })
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (grp, st, _) => jobs(e.jobId) = (grp, st, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val group = stageGroup.getOrElse(info.stageId, "none")
    g(group).add("stages", 1)
    val job = stages.get(info.stageId).map(_._1).getOrElse(-1)
    stages(info.stageId) = (job, info.submissionTime.getOrElse(-1L),
      info.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = g(stageGroup.getOrElse(e.stageId, "none"))
    c.add("tasks", 1)
    if (!e.taskInfo.successful) c.add("failed_tasks", 1)
    stageSubmit.get(e.stageId).foreach(s => c.add("sched_wait_s", (e.taskInfo.launchTime - s) / 1e3))
    val m = e.taskMetrics
    if (m != null) {
      c.add("cpu_s", m.executorCpuTime / 1e9)
      c.add("run_s", m.executorRunTime / 1e3)
      c.add("gc_s", m.jvmGCTime / 1e3)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      c.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      c.add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
      c.add("spill_mem_bytes", m.memoryBytesSpilled.toDouble)
      c.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("input_records", m.inputMetrics.recordsRead.toDouble)
      c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  // A QueryExecution's id is not its SQL execution id. Both listeners sit
  // on the same listener-bus queue, and Spark calls onSuccess/onFailure
  // while delivering that execution's end event, so the callback and the
  // end event arrive back to back: whichever comes first waits for the other.
  private var pendingQe: Option[QueryExecution] = None
  private var endedExec: Option[Long] = None

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => s.jobGroupId.foreach(execGroup(s.executionId) = _)
      case end: SparkListenerSQLExecutionEnd =>
        pendingQe match {
          case Some(qe) => record(qe, end.executionId); pendingQe = None
          case None => endedExec = Some(end.executionId)
        }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = arrived(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = arrived(qe)

  private def arrived(qe: QueryExecution): Unit = synchronized {
    endedExec match {
      case Some(id) => record(qe, id); endedExec = None
      case None => pendingQe = Some(qe)
    }
  }

  private def record(qe: QueryExecution, executionId: Long): Unit = {
    val c = g(execGroup.getOrElse(executionId, "none"))
    c.add("executions", 1)
    val phases = qe.tracker.phases
    Seq("analysis" -> "analysis_s", "optimization" -> "optimize_s", "planning" -> "physical_s")
      .foreach { case (p, k) => phases.get(p).foreach(s => c.add(k, s.durationMs / 1e3)) }
    val nodes = Tracer.nodes(qe.executedPlan)
    nodes.foreach {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c.add("exchanges", 1)
      case _: WindowExecBase => c.add("windows", 1)
      case _: SortExec => c.add("sorts", 1)
      case _: SortMergeJoinExec => c.add("smj", 1)
      case _: BroadcastHashJoinExec => c.add("bhj", 1)
      case s: FileSourceScanExec => s.metrics.get("numFiles").foreach(m => c.add("files_read", m.value.toDouble))
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").foreach(m => c.add("files_written", m.value.toDouble))
      case _ =>
    }
    nodes.foreach { n =>
      if (n.getClass.getName.startsWith("graft.")) c.add("graft_exprs", 1)
      n.expressions.foreach(_.foreach { e =>
        c.add("expressions", 1)
        if (e.getClass.getName.startsWith("graft.")) c.add("graft_exprs", 1)
      })
    }
  }
}

object Tracer {
  /** Every node of the final plan: AQE wrappers are unwrapped to the plan
    * that actually ran, query stages to their exchange, and subqueries are
    * included. A reused exchange counts once, where it was built.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
}
