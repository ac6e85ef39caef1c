package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import graft.Tables
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Trace recorder for the traced passes, built only from outside graft:
  * the benchmark's own query/build/execute spans, Spark's job and stage
  * events, the planning phases of every QueryExecution, codegen compile
  * log lines, and the executed plans' SQL metrics.
  *
  * Times are epoch milliseconds. Spans and per-query counters stay in
  * memory and are written as JSON lines by `write` when the run ends.
  */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext

  private final case class Span(id: String, parent: String, layer: String,
                                name: String, start: Double, end: Double)
  private final class StageAgg {
    var tasks = 0; var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var delayMs = 0.0; var shufW = 0.0; var shufR = 0.0; var fetchMs = 0.0
    var spill = 0.0; var peakMem = 0.0; var inRows = 0.0
    val runs = mutable.ArrayBuffer[Double]()
  }
  private final class Query(val qid: String, val pass: Int, val name: String) {
    var start = 0.0; var buildEnd = Double.NaN; var end = 0.0
    var codegen0 = 0L; var codegenN = 0L; var pinned0 = 0; var pinnedNew = 0
    var storedMb = 0.0
  }
  /** `bcastBuilds`: per broadcast exchange, its job tag and the driver
    * time spent after its collect job (building the relation, then
    * broadcasting it), ms. */
  private final case class Plan(start: Double, phases: Map[String, (Double, Double)],
                                bcastMs: Double, bcastBytes: Double,
                                bcastBuilds: Seq[(String, Double)] = Nil)

  private val queries = mutable.LinkedHashMap[String, Query]()
  private val passes = mutable.ArrayBuffer[Span]()
  private var passStartMs = 0.0
  // listener-thread state (guarded by `this`)
  private val jobs = mutable.Map[Int, (String, Double, String)]()   // id -> (qid, start, call site)
  private val jobTags = mutable.Map[Int, String]()
  private val jobEnds = mutable.Map[Int, Double]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSpan = mutable.Map[(Int, Int), (Double, Double)]()
  private val stageAgg = mutable.Map[(Int, Int), StageAgg]()
  private val plans = mutable.ArrayBuffer[Plan]()
  private val compiles = mutable.ArrayBuffer[(Double, Double)]()      // (at, ms)

  private def now: Double = System.currentTimeMillis().toDouble

  // ---- codegen compile times: Spark logs one line per compiled class
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CompiledIn = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case CompiledIn(ms) => Recorder.this.synchronized { compiles += ((now, ms.toDouble)) }
      case _ =>
    }
  }
  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private var attached = false

  def passStart(idx: Int): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    if (!attached) {
      appender.start()
      val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      logCtx.getConfiguration.addLogger(codegenLogger, lc)
      logCtx.updateLoggers()
      attached = true
    }
    passStartMs = now
  }

  def passEnd(idx: Int): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    passes += Span(s"p$idx", "", "pass", s"pass $idx", passStartMs, now)
  }

  def close(): Unit = if (attached) {
    logCtx.getConfiguration.removeLogger(codegenLogger)
    logCtx.updateLoggers()
    appender.stop()
    attached = false
  }

  def queryStart(qid: String, pass: Int, name: String): Unit = {
    val q = new Query(qid, pass, name)
    q.codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    q.pinned0 = Tables.pinnedRddIds.size
    q.start = now
    synchronized { queries(qid) = q }
  }

  /** The query's DataFrame is analysed while it is built, before any
    * action: its own tracker holds that analysis phase. */
  def buildEnd(qid: String, df: org.apache.spark.sql.DataFrame): Unit = {
    queries(qid).buildEnd = now
    val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
    if (phases.nonEmpty)
      synchronized { plans += Plan(phases.values.map(_._1).min, phases, 0, 0) }
  }

  def queryEnd(qid: String): Unit = {
    val q = queries(qid)
    q.end = now
    q.codegenN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - q.codegen0
    q.pinnedNew = Tables.pinnedRddIds.size - q.pinned0
    q.storedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    PerfbenchBus.drain(sc)
  }

  // ---- SparkListener
  private def group(props: java.util.Properties): String =
    Option(props).map(_.getProperty("spark.jobGroup.id")).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val qid = group(e.properties)
    if (qid != null && queries.contains(qid)) {
      jobs(e.jobId) = (qid, e.time.toDouble, e.stageInfos.maxBy(_.stageId).name)
      Option(e.properties.getProperty("spark.job.tags")).foreach(jobTags(e.jobId) = _)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobs.contains(e.jobId)) jobEnds(e.jobId) = e.time.toDouble
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (stageJob.contains(si.stageId))
      for (s <- si.submissionTime; c <- si.completionTime)
        stageSpan((si.stageId, si.attemptNumber())) = (s.toDouble, c.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val info = e.taskInfo
      val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.runs += m.executorRunTime.toDouble
      a.cpuMs += m.executorCpuTime / 1e6
      a.gcMs += m.jvmGCTime
      a.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled
      a.peakMem += m.peakExecutionMemory
      a.inRows += m.inputMetrics.recordsRead
    }
  }

  // ---- QueryExecutionListener
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
    var bMs, bBytes = 0.0
    val builds = mutable.ArrayBuffer[(String, Double)]()
    def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    try collectWithSubqueries(qe.executedPlan) { case p => p }.foreach {
      case b: BroadcastExchangeExec =>
        val after = metric(b, "buildTime") + metric(b, "broadcastTime")
        bMs += metric(b, "collectTime") + after
        bBytes += metric(b, "dataSize")
        builds += ((b.jobTag, after))
      case _ =>
    } catch { case _: Exception => }
    val start = if (phases.isEmpty) now else phases.values.map(_._1).min
    synchronized { plans += Plan(start, phases, bMs, bBytes, builds.toSeq) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  // ---- output
  /** Spans (one JSON line each, `"kind":"span"`; a job span's name is its
    * call site) then one counters line per traced query (`"kind":"query"`).
    * Plan phases, jobs and broadcast builds are attached to the build or
    * execute span that contains their start. */
  def write(out: File): Unit = synchronized {
    out.getParentFile.mkdirs()
    val w = new PrintWriter(out)
    def span(s: Span, q: String): Unit = w.println(Json.obj(Seq(
      "kind" -> Json.str("span"), "id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
      "layer" -> Json.str(s.layer), "name" -> Json.str(s.name), "query" -> Json.str(q),
      "start" -> Json.num(s.start), "end" -> Json.num(s.end))))
    passes.foreach(span(_, ""))
    for (q <- queries.values) {
      val qs = s"q:${q.qid}"
      span(Span(qs, s"p${q.pass}", "query", q.name, q.start, q.end), q.qid)
      val hasBuild = !q.buildEnd.isNaN
      val bEnd = if (hasBuild) q.buildEnd else q.end
      span(Span(s"b:${q.qid}", qs, "build", q.name, q.start, bEnd), q.qid)
      if (hasBuild) span(Span(s"e:${q.qid}", qs, "execute", q.name, q.buildEnd, q.end), q.qid)
      def parentAt(t: Double): String =
        if (hasBuild && t >= q.buildEnd) s"e:${q.qid}" else s"b:${q.qid}"
      def inQuery(t: Double) = t >= q.start && t <= q.end

      val myPlans = plans.filter(p => inQuery(p.start))
      var pi = 0
      for (p <- myPlans; (ph, (s, e)) <- p.phases) {
        span(Span(s"ph$pi:${q.qid}", parentAt(s), s"plan.$ph", ph, s, e), q.qid); pi += 1
      }
      val myJobs = jobs.filter(_._2._1 == q.qid)
      for ((id, (_, s, site)) <- myJobs)
        span(Span(s"j$id", parentAt(s), "job", site, s, jobEnds.getOrElse(id, q.end)), q.qid)
      // a broadcast's relation is built on the driver right after its
      // collect job ends; the job carries the exchange's tag
      var bi = 0
      for (p <- myPlans; (tag, ms) <- p.bcastBuilds;
           (id, _) <- myJobs.find { case (id, _) => jobTags.get(id).exists(_.split(",").contains(tag)) };
           s <- jobEnds.get(id)) {
        span(Span(s"bc$bi:${q.qid}", parentAt(s), "broadcast", tag, s, s + ms), q.qid); bi += 1
      }
      val myStages = stageSpan.filter { case ((sid, _), _) => myJobs.contains(stageJob(sid)) }
      for (((sid, att), (s, e)) <- myStages)
        span(Span(s"s$sid.$att", s"j${stageJob(sid)}", "stage", s"stage $sid", s, e), q.qid)

      val aggs = stageAgg.filter { case ((sid, _), _) => myJobs.contains(stageJob(sid)) }
      val skew = aggs.values.filter(_.tasks >= 2).map { a =>
        val r = a.runs.sorted; val med = r(r.size / 2)
        if (med > 0) r.last / med else 1.0
      }.foldLeft(1.0)(math.max)
      // one-task stages that had the machine to themselves
      val ivs = myStages.toSeq
      val lone = aggs.count { case (k, a) =>
        a.tasks == 1 && ivs.find(_._1 == k).exists { case (_, (s, e)) =>
          !ivs.exists { case (k2, (s2, e2)) => k2 != k && s2 < e && e2 > s } }
      }
      def sum(f: StageAgg => Double) = aggs.values.map(f).sum
      val mb = 1048576.0
      w.println(Json.obj(Seq(
        "kind" -> Json.str("query"), "query" -> Json.str(q.qid), "name" -> Json.str(q.name),
        "pass" -> Json.num(q.pass.toLong),
        "pinned_new" -> Json.num(q.pinnedNew.toLong),
        "stored_mb" -> Json.num(q.storedMb),
        "codegen_classes" -> Json.num(q.codegenN),
        "codegen_ms" -> Json.num(compiles.filter(c => inQuery(c._1)).map(_._2).sum),
        "tasks" -> Json.num(sum(_.tasks).toLong),
        "sched_delay_ms" -> Json.num(sum(_.delayMs)),
        "task_run_ms" -> Json.num(sum(_.runMs)),
        "task_cpu_ms" -> Json.num(sum(_.cpuMs)),
        "task_gc_ms" -> Json.num(sum(_.gcMs)),
        "task_skew" -> Json.num(skew),
        "single_task_stages" -> Json.num(lone.toLong),
        "shuffle_write_mb" -> Json.num(sum(_.shufW) / mb),
        "shuffle_read_mb" -> Json.num(sum(_.shufR) / mb),
        "fetch_wait_ms" -> Json.num(sum(_.fetchMs)),
        "spill_mb" -> Json.num(sum(_.spill) / mb),
        "peak_exec_mb" -> Json.num(aggs.values.map(_.peakMem).foldLeft(0.0)(math.max) / mb),
        "broadcast_ms" -> Json.num(myPlans.map(_.bcastMs).sum),
        "broadcast_mb" -> Json.num(myPlans.map(_.bcastBytes).sum / mb),
        "scan_rows" -> Json.num(sum(_.inRows)))))
    }
    w.close()
  }
}
