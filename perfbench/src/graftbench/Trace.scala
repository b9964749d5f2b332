package graftbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Summed executor CPU of finished tasks. The only Spark listener an
  * untraced run registers; it feeds `cores_used`. */
final class TaskCpu extends SparkListener {
  private val ns = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) ns.addAndGet(e.taskMetrics.executorCpuTime)
  def totalNs: Long = ns.get
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long, stageIds: Seq[Int])

final class StageAgg {
  var numTasks = 0
  var completed = false
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
}

/** What a traced run records from Spark's public listener APIs. Jobs
  * are attributed to a query by the job group the benchmark sets on the
  * client thread before each call (`gb-<id>-c` during construction,
  * `gb-<id>-s` during the sink); SQL executions carry the same group. The
  * QueryExecutionListener supplies each execution's planning phases,
  * matched to its execution id through the QueryExecution object that
  * the execution-end event carries. Events arrive on the listener bus;
  * read only after `BenchBus.drain`. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stageJob = mutable.Map[Int, Int]()
  val stages = mutable.Map[Int, StageAgg]()
  val execGroup = mutable.Map[Long, String]()
  private val qePhases = new java.util.IdentityHashMap[QueryExecution, Map[String, (Long, Long)]]()
  private val qeExec = new java.util.IdentityHashMap[QueryExecution, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    a.numTasks = e.stageInfo.numTasks
    a.completed = true
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => synchronized { execGroup(s.executionId) = g })
    case end: SparkListenerSQLExecutionEnd =>
      BenchBus.queryExecution(end).foreach(qe => synchronized { qeExec.put(qe, end.executionId) })
    case _ =>
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    synchronized { qePhases.put(qe, ph) }
  }

  def jobsOf(group: String): Seq[JobRec] = synchronized { jobs.values.filter(_.group == group).toSeq }
  def phasesOf(group: String): Seq[Map[String, (Long, Long)]] = synchronized {
    val ids = execGroup.collect { case (id, g) if g == group => id }.toSet
    qeExec.asScala.collect { case (qe, id) if ids(id) => Option(qePhases.get(qe)) }.flatten.toSeq
  }
  /** Stages run for these jobs: each stage counted once, under the first
    * job that listed it; skipped stages never complete and are left out. */
  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = synchronized {
    js.flatMap(j => j.stageIds.filter(s => stageJob.get(s).contains(j.id)))
      .flatMap(stages.get).filter(_.completed)
  }
}

/** Counts the codegen events Spark only reports in its logs: compile
  * time ("Code generated in N ms"), whole-stage codegen falling back to
  * interpreted code, and task binaries over the broadcast warning size. */
final class CodegenLog extends AbstractAppender("graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val compileMs = new DoubleAdder
  val disabledStages = new AtomicLong
  val largeTaskBinaries = new AtomicLong

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    if (msg.startsWith("Code generated in "))
      msg.stripPrefix("Code generated in ").takeWhile(c => c.isDigit || c == '.')
        .toDoubleOption.foreach(compileMs.add)
    else if (msg.contains("Whole-stage codegen disabled") || msg.contains("whole-stage codegen was disabled"))
      disabledStages.incrementAndGet()
    else if (msg.startsWith("Broadcasting large task binary"))
      largeTaskBinaries.incrementAndGet()
  }
}

object CodegenLog {
  private val loggers = Seq(
    ("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator", Level.INFO, false),
    ("org.apache.spark.sql.execution.WholeStageCodegenExec", Level.INFO, false),
    ("org.apache.spark.scheduler.DAGScheduler", Level.WARN, true))

  def attach(): CodegenLog = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new CodegenLog
    app.start()
    // the codegen loggers report at INFO, which the session's WARN level
    // hides: route them to this appender only, so the console stays quiet
    loggers.foreach { case (name, level, additive) =>
      val lc = new LoggerConfig(name, level, additive)
      lc.addAppender(app, level, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
    app
  }

  def detach(app: CodegenLog): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    loggers.foreach { case (name, _, _) => ctx.getConfiguration.removeLogger(name) }
    ctx.updateLoggers()
    app.stop()
  }
}

/** Half-open time intervals in epoch milliseconds. */
object Iv {
  type T = (Double, Double)
  def union(xs: Iterable[T]): Seq[T] =
    xs.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foldLeft(List.empty[T]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse
  def clip(xs: Iterable[T], lo: Double, hi: Double): Seq[T] =
    union(xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })
  def minus(xs: Seq[T], ys: Seq[T]): Seq[T] = union(xs).flatMap { case (a, b) =>
    union(ys).foldLeft(List((a, b))) { case (acc, (c, d)) =>
      acc.flatMap { case (s, e) => Seq((s, math.min(e, c)), (math.max(s, d), e)).filter(x => x._2 > x._1) }
    }
  }
  def length(xs: Seq[T]): Double = union(xs).map(x => x._2 - x._1).sum
}
