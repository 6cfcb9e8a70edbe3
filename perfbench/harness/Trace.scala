package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the program: a [[TraceListener]] (jobs,
  * stages, task metrics, SQL executions) and a [[TraceQueryListener]]
  * (Catalyst phase times, write metrics) feed one JVM-wide [[TraceState]].
  * In the harness they are registered on the session; in a CLI child they
  * are injected with `-Dspark.extraListeners` and
  * `-Dspark.sql.queryExecutionListeners`, and [[ChildTrace]] writes the
  * derived metrics to a file when the child JVM exits.
  */
object TraceState {
  final class Job(val id: Int, val start: Long, val execId: Long,
                  val callSite: String, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final class StageAgg {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, shWrite, spillDisk = 0L
  }
  /** `scanBytes`: Spark's `filesSize` scan metric summed over the file
    * scans (one table scanned k times counts k times). The task input
    * metric is not used: it misses parquet's vectored local reads.
    */
  final case class Query(func: String, durNs: Long, analysisMs: Long,
                         optimizeMs: Long, planningMs: Long, scans: Seq[String],
                         scanBytes: Long, writeBytes: Long, writeRows: Long, commitMs: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val execScans = mutable.HashMap.empty[Long, Seq[String]]
  val execSpans = mutable.HashMap.empty[Long, (Long, Long)] // SQL execution start, end
  val queries = mutable.ArrayBuffer.empty[Query]
  @volatile var appStartMs, appEndMs = -1L

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); execScans.clear(); execSpans.clear(); queries.clear()
  }

  /** Wall time covered by the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) { if (open) total += curE - curS; curS = s; curE = e; open = true }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def codegenNs: Long = CodeGenerator.compileTime

  /** Task-metric sums over the stages of some jobs. */
  final case class Totals(runS: Double, cpuS: Double, gcS: Double,
                          shWriteMb: Double, spillMb: Double, skew: Double)

  def totals(js: Iterable[Job]): Totals = synchronized {
    val ss = js.flatMap(_.stages).toSeq.distinct.flatMap(stages.get)
    def sum(f: StageAgg => Long) = ss.map(f).sum
    // task skew in the longest stage (by summed task time): max / median
    val skew = ss.filter(_.taskMs.nonEmpty).sortBy(-_.runMs).headOption.map { s =>
      val m = Num.median(s.taskMs.map(_.toDouble).toSeq)
      if (m > 0) s.taskMs.max / m else 1.0
    }.getOrElse(0.0)
    Totals(sum(_.runMs) / 1e3, sum(_.cpuNs) / 1e9, sum(_.gcMs) / 1e3,
      sum(_.shWrite) / 1e6, sum(_.spillDisk) / 1e6, skew)
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toSeq)
  def allQueries: Seq[Query] = synchronized(queries.toSeq)
}

class TraceListener extends SparkListener {
  import TraceState._
  ChildTrace.install()

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStartMs = System.currentTimeMillis()

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    appEndMs = e.time

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    TraceState.synchronized {
      jobs(e.jobId) = new Job(e.jobId, e.time,
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        e.stageInfos.map(i => i.name + "\n" + i.details).mkString("\n"),
        e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    TraceState.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    TraceState.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.taskMs += e.taskInfo.duration
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.spillDisk += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      def locs(p: SparkPlanInfo): Seq[String] =
        p.metadata.get("Location").toSeq ++ p.children.flatMap(locs)
      TraceState.synchronized {
        execScans(s.executionId) = locs(s.sparkPlanInfo)
        execSpans(s.executionId) = (s.time, -1L)
      }
    case e: SparkListenerSQLExecutionEnd =>
      TraceState.synchronized(execSpans.get(e.executionId).foreach { case (st, _) =>
        execSpans(e.executionId) = (st, e.time)
      })
    case _ =>
  }
}

class TraceQueryListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.QueryExecution

  private def record(func: String, qe: QueryExecution, durNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val scans = qe.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }
      .flatten
    val scanBytes = collectWithSubqueries(qe.executedPlan) {
      case f: FileSourceScanExec => f.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
    val w = qe.executedPlan.collectFirst { case d: DataWritingCommandExec => d.metrics }
    def wm(k: String) = w.flatMap(_.get(k)).map(_.value).getOrElse(0L)
    TraceState.synchronized {
      TraceState.queries += TraceState.Query(func, durNs, ms("analysis"),
        ms("optimization"), ms("planning"), scans, scanBytes, wm("numOutputBytes"),
        wm("numOutputRows"), wm("jobCommitTime") + wm("taskCommitTime"))
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit =
    record(func, qe, durNs)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, 0L)
}

/** One traced stretch of work: its wall time and result, the jobs and
  * queries it caused, the codegen time it paid and its task totals.
  */
final case class Section[T](wallS: Double, result: T, jobs: Seq[TraceState.Job],
                            queries: Seq[TraceState.Query], codegenS: Double,
                            totals: TraceState.Totals)

/** Registers / removes the tracing listeners on an in-process session. */
object Tracing {
  private val listener = new TraceListener
  private val queryListener = new TraceQueryListener

  def on(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def off(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Runs `f` with a clean trace state (the listeners must be on). */
  def section[T](spark: SparkSession)(f: => T): Section[T] = {
    drain(spark)
    TraceState.reset()
    val cg0 = TraceState.codegenNs
    val (dt, r) = Num.time(f)
    drain(spark)
    val jobs = TraceState.allJobs
    Section(dt, r, jobs, TraceState.allQueries, (TraceState.codegenNs - cg0) / 1e9,
      TraceState.totals(jobs))
  }
}

/** Derives the json_cli layer metrics inside a traced CLI child and writes
  * them as `name value` lines when the JVM exits. Installed by the first
  * [[TraceListener]] constructed in a JVM whose `perfbench.trace.out`
  * system property is set.
  */
object ChildTrace {
  @volatile private var installed = false

  def install(): Unit = synchronized {
    val out = System.getProperty("perfbench.trace.out")
    if (installed || out == null) return
    installed = true
    Runtime.getRuntime.addShutdownHook(new Thread(() => write(out)))
  }

  private def write(out: String): Unit = {
    import TraceState._
    val input = System.getProperty("perfbench.trace.input", "\u0000")
    val output = System.getProperty("perfbench.trace.output", "\u0000")
    val js = allJobs.filter(_.end >= 0)
    val qs = allQueries
    val scanJobs = js.filter(j => synchronized(execScans.get(j.execId))
      .exists(_.exists(_.contains(input))))
    // the gate's actions: SQL executions whose jobs were called from graft.spec.MetaSpec
    val gateSpans = js.filter(_.callSite.contains("MetaSpec")).map(_.execId).distinct
      .flatMap(id => synchronized(execSpans.get(id))).filter(_._2 >= 0)
    val iv = (j: Seq[Job]) => j.map(x => (x.start, x.end))
    val inputQs = qs.filter(_.scans.exists(_.contains(input)))
    val readQs = qs.filter(q => q.scans.exists(_.contains(output)) &&
      !q.scans.exists(_.contains(input)))
    val t = totals(scanJobs)
    val live = math.max(0L, appEndMs - appStartMs)
    val m = Seq(
      "app_start_ms" -> appStartMs.toDouble,
      "spec.metagate_s" -> unionMs(gateSpans) / 1e3,
      "cli.driver_s" -> (live - unionMs(iv(js))) / 1e3,
      "exec.analysis_s" -> inputQs.map(_.analysisMs).sum / 1e3,
      "exec.optimize_s" -> inputQs.map(_.optimizeMs).sum / 1e3,
      "exec.planning_s" -> inputQs.map(_.planningMs).sum / 1e3,
      "exec.codegen_s" -> codegenNs / 1e9,
      "exec.validate_s" -> unionMs(iv(scanJobs)) / 1e3,
      "cli.scan_jobs" -> scanJobs.size.toDouble,
      "cli.jobs" -> js.size.toDouble,
      "output.write_s" -> inputQs.map(_.commitMs).sum / 1e3,
      "output.write_mb" -> inputQs.map(_.writeBytes).sum / 1e6,
      "output.readback_s" -> readQs.map(_.durNs).sum / 1e9,
      "output.violation_rows" -> inputQs.map(_.writeRows).sum.toDouble,
      "exec.task_cpu_s" -> t.cpuS,
      "exec.gc_s" -> t.gcS,
      "exec.scan_mb" -> inputQs.map(_.scanBytes).sum / 1e6)
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      m.foreach { case (k, v) => w.println(s"$k $v") }
      js.foreach(j => w.println(s"# job ${j.id} ${j.end - j.start}ms exec=${j.execId} " +
        j.callSite.replace("\n", " | ").take(300)))
      qs.foreach(q => w.println(s"# query ${q.func} ${q.durNs / 1000000}ms scans=${q.scans}"))
    } finally w.close()
  }
}
