package lpbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything measured for one operation execution. */
final class OpRec(val name: String, val id: Int) {
  val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
  val phaseSpans = mutable.ArrayBuffer[(String, Long, Long)]()
  var tasks = 0
  val jobSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
  val jobModule = mutable.Map[Int, String]()
  val jobStart = mutable.Map[Int, Long]()
  val moduleJobMs = mutable.Map[String, Double]().withDefaultValue(0.0)
  val moduleJobs = mutable.Map[String, Int]().withDefaultValue(0)
  val stageSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  var taskMs = 0.0; var taskCpuNs = 0.0; var gcMs = 0.0; var delayMs = 0.0
  var peakMem = 0L; var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0.0
  var spill = 0L; var scanBytes = 0L; var scanRows = 0L; var writeBytes = 0L
  var joinRows = 0L; var batches = 0; var batchMs = 0.0
  var compiles = 0L; var compileMs = 0.0
  var buildSpan = (0L, 0L); var execSpan = (0L, 0L)
  var resultRows = 0L
  def jobMs: Double = jobSpans.map { case (_, s, e) => (e - s).toDouble }.sum
}

/** Per-layer measurement from outside the engine, through Spark's public
  * hooks only: a SparkListener (jobs, stages, task metrics), a
  * QueryExecutionListener (Catalyst phase times, executed-plan SQL
  * metrics), a StreamingQueryListener (micro-batches), CodegenMetrics plus
  * the CodeGenerator's own "Code generated in N ms" log line (compiles).
  *
  * Events are billed to the operation that is current when they are
  * delivered; LpBench drains the listener bus after every operation,
  * so no event crosses an operation boundary. Every job is also billed to
  * a module: the package of the innermost `graft.*` frame of its long
  * call site (Caches.pin is its own module, `caches`).
  *
  * Spans go to a JSON-lines file: run > pass > op > build|plan|exec > job
  * > stage, each with id, parent, name, start and end (epoch ms), and the
  * operation's id on every span of that operation. */
final class Tracer(spark: SparkSession, spansPath: String) {

  @volatile private var current: OpRec = _
  private val ids = new AtomicInteger(1)
  private val spans = new StringBuilder
  val runSpan: Int = ids.getAndIncrement()
  private val runStart = System.currentTimeMillis()

  private def span(id: Int, parent: Int, op: Int, name: String, s: Long, e: Long): Unit =
    spans ++= s"""{"id":$id,"parent":$parent,"op":$op,"name":"$name","start":$s,"end":$e}\n"""

  def newSpanId(): Int = ids.getAndIncrement()

  /** innermost graft.* frame of a long call site, as a module name */
  private def module(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "none"
      case Some(f) if f.startsWith("graft.Caches") => "caches"
      case Some(f) =>
        val parts = f.split('.')
        if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1)
        else "queries" // graft.SparkEntry and the other top-level objects
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val r = current
      if (r == null) return
      val props = Option(e.properties)
      val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val m = if (streaming) "streaming" else module(site)
      r.jobModule(e.jobId) = m
      r.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = current
      if (r == null) return
      r.jobStart.remove(e.jobId).foreach { s =>
        r.jobSpans += ((e.jobId, s, e.time))
        val m = r.jobModule(e.jobId)
        r.moduleJobMs(m) += (e.time - s).toDouble
        r.moduleJobs(m) += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val r = current
      if (r == null) return
      val i = e.stageInfo
      r.stageSpans += ((i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = current
      if (r == null || e.taskMetrics == null) return
      val m = e.taskMetrics
      val info = e.taskInfo
      r.tasks += 1
      r.taskMs += m.executorRunTime
      r.taskCpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
      r.shWrite += m.shuffleWriteMetrics.bytesWritten
      r.shRead += m.shuffleReadMetrics.totalBytesRead
      r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      r.spill += m.diskBytesSpilled
      r.scanBytes += m.inputMetrics.bytesRead
      r.scanRows += m.inputMetrics.recordsRead
      r.writeBytes += m.outputMetrics.bytesWritten
      r.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val r = current
      if (r == null) return
      qe.tracker.phases.foreach { case (phase, ps) =>
        r.phases(phase) += ps.durationMs.toDouble
        r.phaseSpans += ((phase, ps.startTimeMs, ps.endTimeMs))
      }
      try planNodes(qe.executedPlan).foreach {
        case j: BaseJoinExec => r.joinRows += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ => ()
      } catch { case _: Throwable => () }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val r = current
      if (r != null) {
        r.batches += 1
        r.batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // CodeGenerator logs each compile at INFO; route those lines to a counter
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val compiled = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("lpbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val r = current
      if (r != null) e.getMessage.getFormattedMessage match {
        case compiled(ms) => r.compileMs += ms.toDouble
        case _ => ()
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    if (!appender.isStarted) appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    ctx.getConfiguration.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    org.apache.spark.lpbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
    current = null
  }

  def begin(name: String): OpRec = {
    val r = new OpRec(name, newSpanId())
    r.compiles = -CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    current = r
    r
  }

  /** Drains the bus, closes the record and writes its spans. */
  def end(r: OpRec, passSpan: Int, opStart: Long, opEnd: Long): Unit = {
    org.apache.spark.lpbench.Bus.drain(spark.sparkContext)
    r.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    current = null
    span(r.id, passSpan, r.id, s"op:${r.name}", opStart, opEnd)
    val build = newSpanId(); val exec = newSpanId()
    span(build, r.id, r.id, "build", r.buildSpan._1, r.buildSpan._2)
    span(exec, r.id, r.id, "exec", r.execSpan._1, r.execSpan._2)
    r.phaseSpans.foreach { case (p, s, e) => span(newSpanId(), r.id, r.id, s"plan:$p", s, e) }
    val jobIds = mutable.Map[Int, Int]()
    r.jobSpans.foreach { case (job, s, e) =>
      val parent = if (s < r.buildSpan._2) build else exec
      val id = newSpanId(); jobIds(job) = id
      span(id, parent, r.id, s"job:${r.jobModule(job)}", s, e)
    }
    r.stageSpans.foreach { case (stage, s, e) =>
      val parent = r.jobSpans.find { case (_, js, je) => js <= s && s <= je }
        .flatMap(j => jobIds.get(j._1)).getOrElse(r.id)
      span(newSpanId(), parent, r.id, s"stage:$stage", s, e)
    }
  }

  def passSpan(id: Int, pass: Int, s: Long, e: Long): Unit =
    span(id, runSpan, 0, s"pass:$pass", s, e)

  /** Spans stay in memory during the run and are written once, here. */
  def close(): Unit = {
    span(runSpan, 0, 0, "run", runStart, System.currentTimeMillis())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(spansPath), spans)
  }
}

object Tracer {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** wall time of [s, e] not covered by any of the intervals */
  private def uncovered(s: Long, e: Long, iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var cursor = s
    iv.filter(_._2 > s).sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, cursor); val hi = math.min(b, e)
      if (hi > lo) { covered += hi - lo; cursor = hi }
    }
    (e - s) - covered
  }

  /** Per-layer metrics. `cold` is the cold pass's records, `warm` the
    * traced warm passes' records with each pass's [start, end]. Warm
    * figures are per warm pass; codegen and cache-build figures are over
    * the cold pass, the construction those layers pay. */
  def layers(cold: Seq[OpRec], warm: Seq[(Seq[OpRec], Long, Long)],
      pinnedMb: Double): Map[String, Double] = {
    val n = math.max(1, warm.size).toDouble
    val ops = warm.flatMap(_._1)
    def per(f: OpRec => Double) = ops.map(f).sum / n
    def mb(x: Double) = x / (1024.0 * 1024.0)
    def modS(m: String)(r: OpRec) = r.moduleJobMs(m) / 1000.0
    val jobMsAll = ops.map(_.jobMs).sum
    val skew = warm.map { case (rs, _, _) =>
      val stages = rs.flatMap(r => r.stageSpans.map { case (id, s, e) => (e - s, r.stageTaskMs.getOrElse(id, Nil)) })
        .filter(_._2.size >= 2)
      if (stages.isEmpty) 1.0 else {
        val (_, t) = stages.maxBy(_._1)
        t.max.toDouble / math.max(1.0, median(t.map(_.toDouble).toSeq))
      }
    }
    // Spark-driver time inside the timed regions that no running job covers
    val gaps = warm.map { case (rs, _, _) => rs.map { r =>
      uncovered(r.buildSpan._1, r.execSpan._2, r.jobSpans.map { case (_, a, b) => (a, b) }.toSeq)
    }.sum / 1000.0 }
    val resultRows = ops.map(_.resultRows).sum.toDouble
    Map(
      "queries.build_s" -> per(r => (r.buildSpan._2 - r.buildSpan._1) / 1000.0),
      "queries.build_jobs" -> per(r => r.jobSpans.count(_._2 < r.buildSpan._2).toDouble),
      "plan.analysis_s" -> per(_.phases("analysis") / 1000.0),
      "plan.optimization_s" -> per(_.phases("optimization") / 1000.0),
      "plan.planning_s" -> per(_.phases("planning") / 1000.0),
      "codegen.compile_s" -> cold.map(_.compileMs).sum / 1000.0,
      "codegen.compiles" -> cold.map(_.compiles).sum.toDouble,
      "codegen.compiles_per_warm_op" -> ops.map(_.compiles).sum.toDouble / math.max(1, ops.size),
      "sched.jobs" -> per(_.jobSpans.size.toDouble),
      "sched.stages" -> per(_.stageSpans.size.toDouble),
      "sched.tasks" -> per(_.tasks.toDouble),
      "sched.delay_s" -> per(_.delayMs / 1000.0),
      "sched.driver_gap_s" -> median(gaps),
      "exec.task_s" -> per(_.taskMs / 1000.0),
      "exec.task_cpu_s" -> per(_.taskCpuNs / 1e9),
      "exec.gc_s" -> per(_.gcMs / 1000.0),
      "exec.peak_mem_mb" -> mb(ops.map(_.peakMem).foldLeft(0L)(math.max).toDouble),
      "exec.skew" -> median(skew),
      "shuffle.write_mb" -> per(r => mb(r.shWrite.toDouble)),
      "shuffle.read_mb" -> per(r => mb(r.shRead.toDouble)),
      "shuffle.fetch_wait_s" -> per(_.fetchWaitMs / 1000.0),
      "spill.disk_mb" -> per(r => mb(r.spill.toDouble)),
      "operators.job_s" -> per(modS("operators")),
      "operators.join_yield" -> resultRows / math.max(1.0, ops.map(_.joinRows).sum.toDouble),
      "caches.build_s" -> cold.map(modS("caches")).sum,
      "caches.pinned_mb" -> pinnedMb,
      "ml.fit_s" -> per(modS("ml")),
      "ml.fit_jobs" -> per(_.moduleJobs("ml").toDouble),
      "sources.scan_mb" -> per(r => mb(r.scanBytes.toDouble)),
      "sources.scan_rows_per_result_row" -> ops.map(_.scanRows).sum / math.max(1.0, resultRows),
      "sources.write_mb" -> per(r => mb(r.writeBytes.toDouble)),
      "streaming.job_s" -> per(_.batchMs / 1000.0),
      "streaming.batches" -> per(_.batches.toDouble),
      "jobs.unbilled_share" -> ops.map(_.moduleJobMs("none")).sum / math.max(1.0, jobMsAll)
    )
  }
}
