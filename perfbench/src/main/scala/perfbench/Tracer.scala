package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of the harness: an operation (query or statement)
  * or one of its layers. `parent` is -1 for an operation. Times are
  * epoch milliseconds with sub-millisecond precision, the clock Spark
  * stamps its listener events with. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      endMs: Double) {
  def ms: Double = endMs - startMs
}

/** What the traced run records at layer boundaries.
  *
  * Spans come from the harness's own calls into the engine; Spark's
  * work comes from its public listener APIs (jobs, stages and task
  * metrics from a SparkListener; planning phases and the final
  * physical plan from a QueryExecutionListener; codegen compiles from
  * CodegenMetrics). Events are attributed to an operation by time:
  * the harness runs one operation at a time, so every job, stage and
  * SQL execution that starts inside an operation's span belongs to it.
  * Everything stays in memory until the run ends.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  /** Time `body` as a span under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, name, nowMs, Double.NaN)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endMs = nowMs)
    }
  }

  val jobStarts = mutable.ArrayBuffer.empty[Double]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val queries = mutable.ArrayBuffer.empty[Query]
  private val sqlStart = mutable.Map.empty[Long, Double]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.synchronized { jobStarts += e.time.toDouble }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.synchronized {
        stages += Stage(
          i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks,
          m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
          m.jvmGCTime.toDouble, m.shuffleReadMetrics.fetchWaitTime.toDouble,
          m.inputMetrics.bytesRead.toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          m.shuffleReadMetrics.totalBytesRead.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart.synchronized { sqlStart(s.executionId) = s.time.toDouble }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    var files, scanMs, bcast = 0.0
    def metric(p: SparkPlan, k: String) =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec =>
      case _ =>
        val n = p.nodeName
        if (n.contains("Scan")) {
          files += metric(p, "numFiles"); scanMs += metric(p, "scanTime")
        }
        if (n.startsWith("BroadcastExchange")) bcast += metric(p, "dataSize")
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => }
    val start = sqlStart.synchronized(sqlStart.remove(qe.id))
    val end = epochBase + (System.nanoTime() - nanoBase) / 1e6
    val begin = start.getOrElse(end - durationNs / 1e6)
    queries.synchronized {
      queries += Query(begin, begin + durationNs / 1e6, phase("analysis"),
        phase("optimization"), phase("planning"), files, scanMs, bcast)
    }
  }

  private var installed: List[SparkSession] = Nil

  /** Listen on `spark`'s context and session (a statement session has
    * its own listener manager, so each session used is installed). */
  def install(spark: SparkSession): Unit = if (enabled && !installed.contains(spark)) {
    if (installed.forall(_.sparkContext ne spark.sparkContext))
      spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    installed ::= spark
  }

  def uninstall(): Unit = {
    installed.foreach { s =>
      s.listenerManager.unregister(qeListener)
      s.sparkContext.removeSparkListener(listener)
    }
    installed = Nil
  }

  /** Forget what was recorded so far (the warm-up's spans and events). */
  def reset(): Unit = {
    spans.clear()
    jobStarts.synchronized(jobStarts.clear())
    stages.synchronized(stages.clear())
    queries.synchronized(queries.clear())
  }

  def drain(spark: SparkSession): Unit =
    if (enabled) BusShim.drain(spark.sparkContext)

  /** One operation's layer record: its child spans' times, and the
    * Spark work that started inside it. The execute window is the
    * `execute` span of a query or the `statement` span of a statement;
    * the driver gap is the part of it no running stage covers. */
  def opLayers(op: Span): Map[String, Double] = {
    val kids = spans.view.drop(op.id + 1).filter(_.parent == op.id).toSeq
    def in(t: Double, s: Span) = t >= s.startMs - 1 && t <= s.endMs
    def sum(n: String) = kids.filter(_.name == n).map(_.ms).sum
    val builds = kids.filter(_.name == "build")
    val windows = kids.filter(k => k.name == "execute" || k.name == "statement")
    val js = jobStarts.synchronized(jobStarts.filter(in(_, op)).toSeq)
    val st = stages.synchronized(stages.filter(s => in(s.startMs, op)).toSeq)
    val qs = queries.synchronized(queries.filter(q => in(q.startMs, op)).toSeq)
    val covered = windows.map { w =>
      val iv = st.map(s => (math.max(s.startMs, w.startMs),
        math.min(s.endMs, w.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0.0
      var reach = Double.NegativeInfinity
      iv.foreach { case (a, b) =>
        if (a > reach) { total += b - a; reach = b }
        else if (b > reach) { total += b - reach; reach = b }
      }
      total
    }.sum
    val windowMs = windows.map(_.ms).sum
    Map(
      "wall_ms" -> op.ms,
      "build_ms" -> sum("build"), "check_ms" -> sum("check"),
      "window_ms" -> windowMs, "statement_ms" -> sum("statement"),
      "unattributed_ms" -> (op.ms - kids.map(_.ms).sum),
      "build_jobs" -> js.count(t => builds.exists(in(t, _))).toDouble,
      "jobs" -> js.size.toDouble, "tasks" -> st.map(_.tasks).sum.toDouble,
      "task_run_ms" -> st.map(_.runMs).sum, "task_cpu_ms" -> st.map(_.cpuMs).sum,
      "gc_ms" -> st.map(_.gcMs).sum, "fetch_wait_ms" -> st.map(_.fetchWaitMs).sum,
      "input_bytes" -> st.map(_.inputBytes).sum,
      "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
      "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
      "spill_bytes" -> st.map(_.spill).sum,
      "driver_gap_ms" -> math.max(0.0, windowMs - covered),
      "queries" -> qs.size.toDouble,
      "query_ms" -> qs.map(q => q.endMs - q.startMs).sum,
      "analysis_ms" -> qs.map(_.analysisMs).sum,
      "optimize_ms" -> qs.map(_.optimizeMs).sum,
      "physical_ms" -> qs.map(_.physicalMs).sum,
      "scan_files" -> qs.map(_.scanFiles).sum,
      "scan_ms" -> qs.map(_.scanMs).sum,
      "broadcast_bytes" -> qs.map(_.broadcastBytes).sum)
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
}

object Tracer {
  final case class Stage(startMs: Double, endMs: Double, tasks: Int,
                         runMs: Double, cpuMs: Double, gcMs: Double,
                         fetchWaitMs: Double, inputBytes: Double,
                         shuffleWrite: Double, shuffleRead: Double,
                         spill: Double)
  final case class Query(startMs: Double, endMs: Double, analysisMs: Double,
                         optimizeMs: Double, physicalMs: Double,
                         scanFiles: Double, scanMs: Double,
                         broadcastBytes: Double)
}

/** Per-layer metrics of a traced run: per-operation means over the
  * measured window, so runs of different lengths compare. */
object Layers {
  /** Largest share of an operation's wall time its child spans may
    * leave unexplained; a traced operation over it counts as failed. */
  val Tolerance = 0.05

  def summarize(samples: Seq[Sample]): Map[String, Double] = {
    val ls = samples.map(_.layers).filter(_.nonEmpty)
    if (ls.isEmpty) return Map.empty
    def mean(k: String, of: Seq[Map[String, Double]] = ls) =
      Stats.mean(of.map(_.getOrElse(k, 0.0)))
    def total(k: String) = ls.map(_.getOrElse(k, 0.0)).sum
    val stmts = ls.filter(_.getOrElse("statement_ms", 0.0) > 0)
    Map(
      "operators.build_s" -> mean("build_ms") / 1000,
      "operators.build_jobs" -> mean("build_jobs"),
      "planning.analysis_ms" -> mean("analysis_ms"),
      "planning.optimize_ms" -> mean("optimize_ms"),
      "planning.physical_ms" -> mean("physical_ms"),
      "codegen.compiles" -> mean("codegen"),
      "exec.wall_s" -> mean("window_ms") / 1000,
      "exec.driver_gap_s" -> mean("driver_gap_ms") / 1000,
      "exec.jobs" -> mean("jobs"),
      "exec.tasks" -> mean("tasks"),
      "exec.task_run_s" -> mean("task_run_ms") / 1000,
      "exec.task_cpu_s" -> mean("task_cpu_ms") / 1000,
      "exec.gc_s" -> mean("gc_ms") / 1000,
      "exec.fetch_wait_s" -> mean("fetch_wait_ms") / 1000,
      "exec.busy_cores" -> (if (total("window_ms") > 0)
        total("task_run_ms") / total("window_ms") else 0.0),
      "data.input_bytes" -> mean("input_bytes"),
      "data.shuffle_write_bytes" -> mean("shuffle_write_bytes"),
      "data.shuffle_read_bytes" -> mean("shuffle_read_bytes"),
      "data.spill_bytes" -> mean("spill_bytes"),
      "data.broadcast_bytes" -> mean("broadcast_bytes"),
      "scan.files" -> mean("scan_files"),
      "scan.time_s" -> mean("scan_ms") / 1000,
      "statements.frontend_ms" -> Stats.mean(stmts.map(l =>
        math.max(0.0, l("statement_ms") - l("query_ms")))),
      "statements.spark_queries" -> mean("queries", stmts),
      "statements.jobs" -> mean("jobs", stmts),
      "trace.op_p50_ms" -> Stats.median(ls.map(_("wall_ms"))),
      "trace.unattributed_max" ->
        ls.map(l => l("unattributed_ms") / math.max(l("wall_ms"), 1e-9)).max,
      "trace.tolerance" -> Tolerance)
  }
}
