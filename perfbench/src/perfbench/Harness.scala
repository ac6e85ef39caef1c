package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit}

import scala.util.Random

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one closed-loop client that runs graft's
  * registered queries one at a time, `SparkEntry.queries(name)(spark, dir)`
  * then the `noop` sink, and prints tagged JSON lines (`PB <json>`) that
  * perfbench/run.py turns into metrics.
  *
  * Modes:
  *   oracles <names>   print each query's DuckDB oracle SQL; no session
  *   setup             build the session, run the warm-up query, report
  *                     the wall-clock instant it finished, exit
  *   run               setup, then one cold pass, one untimed check pass
  *                     that writes every result to parquet, then warm
  *                     passes until the measuring window is spent
  *
  * With --trace 1, untraced and traced warm passes interleave; traced
  * passes record spans and per-query counters through a SparkListener
  * and a QueryExecutionListener (see Recorder) and write them as JSON
  * lines to --trace-out when the run ends.
  */
object Harness {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuNs: Long = osBean.getProcessCpuTime

  /** Host CPU ticks (total, steal) from the first line of /proc/stat. */
  private def hostTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      (v.sum, v(7))
    } finally src.close()
  }
  private def epochSec: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def emit(json: String): Unit = { println("PB " + json); Console.out.flush() }

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val opts = argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opts.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    mode match {
      case "oracles" =>
        val sql = SparkEntry.oracleSql
        emit(Json.obj(names.map(n => n -> sql.get(n).map(Json.str).getOrElse("null"))))
      case "setup" =>
        val spark = setup(opts)
        emit(Json.obj(Seq("setup_done" -> Json.num(epochSec))))
        spark.stop()
      case "run" =>
        val spark = setup(opts)
        emit(Json.obj(Seq("setup_done" -> Json.num(epochSec))))
        new Runner(spark, opts, names).run()
        spark.stop()
    }
  }

  /** Session + warm-up, the part of start-up `setup_s` times. */
  private def setup(opts: Map[String, String]): SparkSession = {
    val spark = GraftSession.local(opts("cores").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val session = epochSec
    val registry = SparkEntry.queries
    val lookup = epochSec
    registry(opts("warmup"))(spark, opts("data"))
      .write.format("noop").mode("overwrite").save()
    emit(Json.obj(Seq("session_built" -> Json.num(session), "registry_built" -> Json.num(lookup))))
    spark
  }

  final class Runner(spark: SparkSession, opts: Map[String, String], names: Seq[String]) {
    private val sc = spark.sparkContext
    private val dir = opts("data")
    private val seconds = opts("seconds").toDouble
    private val traced = opts("trace") == "1"
    private val capSec = opts.getOrElse("cap", "60").toLong
    private val seed = opts("seed").toLong
    private val calmSteal = opts("calm-steal").toDouble
    private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }
    private val recorder = if (traced) Some(new Recorder(spark)) else None

    /** Runs one query; returns (wall s, error or ""). */
    private def exec(pass: Int, name: String, sink: Option[String],
                     rec: Option[Recorder]): (Double, String) = {
      val qid = s"p$pass:$name"
      val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
      sc.setJobGroup(qid, qid, interruptOnCancel = true)
      val timer = watchdog.schedule(new Runnable {
        def run(): Unit = { cancelled.set(true); sc.cancelJobGroup(qid) }
      }, capSec, TimeUnit.SECONDS)
      rec.foreach(_.queryStart(qid, pass, name))
      val t0 = System.nanoTime()
      val err = try {
        val df = SparkEntry.queries(name)(spark, dir)
        rec.foreach(_.buildEnd(qid, df))
        sink match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(out) => df.write.mode("overwrite").parquet(s"$out/$name")
        }
        ""
      } catch {
        case e: Throwable =>
          if (cancelled.get) s"cancelled after ${capSec}s"
          else s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val wall = (System.nanoTime() - t0) / 1e9
      timer.cancel(false)
      rec.foreach(_.queryEnd(qid))
      sc.clearJobGroup()
      // the same per-query cleanup graft.Bench does: drop everything
      // but the session-frozen artifacts
      spark.catalog.clearCache()
      sc.getPersistentRDDs
        .filter { case (id, _) => !Tables.pinnedRddIds.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
      (wall, err)
    }

    /** Runs one pass and returns the host's CPU-steal share during it. */
    private def pass(idx: Int, kind: String, sink: Option[String] = None,
                     rec: Option[Recorder] = None): Double = {
      val order = new Random(seed * 1000003L + idx).shuffle(names)
      rec.foreach(_.passStart(idx))
      val h0 = hostTicks
      val c0 = cpuNs
      val t0 = System.nanoTime()
      val qs = order.map { n =>
        val (w, err) = exec(idx, n, sink, rec)
        Json.obj(Seq("name" -> Json.str(n), "wall_s" -> Json.num(w), "error" -> Json.str(err)))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs - c0) / 1e9
      val h1 = hostTicks
      val steal = (h1._2 - h0._2).toDouble / math.max(1L, h1._1 - h0._1)
      rec.foreach(_.passEnd(idx))
      emit(Json.obj(Seq("pass" -> Json.num(idx.toLong), "kind" -> Json.str(kind),
        "traced" -> Json.bool(rec.isDefined), "wall_s" -> Json.num(wall),
        "cpu_s" -> Json.num(cpu), "steal" -> Json.num(steal),
        "queries" -> Json.arr(qs))))
      steal
    }

    def run(): Unit = {
      pass(0, "cold", rec = recorder)
      // The second run of every query still pays most of the JIT work,
      // so it is the untimed pass whose results are checked.
      pass(1, "check", sink = Some(opts("check-out")))
      val minWarm = if (traced) 4 else 3
      val calmNeeded = 3
      val maxWarm = 40
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 2
      var calm = 0
      // Passes during which the hypervisor stole CPU are slow for reasons
      // outside the program; while too few calm passes exist, keep going
      // for up to two windows.
      while (i - 1 <= maxWarm && (i - 1 <= minWarm || elapsed < seconds ||
             (calm < calmNeeded && elapsed < 2 * seconds))) {
        // traced runs interleave untraced passes (the overhead reference)
        // as U T T U U T T U ..., so a still-falling warm-up curve
        // favours neither side
        val traceThis = traced && (i - 1) % 4 >= 2
        if (pass(i, "warm", rec = recorder.filter(_ => traceThis)) < calmSteal && !traceThis) calm += 1
        i += 1
      }
      emit(Json.obj(Seq("rss_peak_mb" -> Json.num(rssPeakMb))))
      recorder.foreach { r => r.close(); r.write(new File(opts("trace-out"))) }
      watchdog.shutdownNow()
    }
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }
}

/** Minimal JSON writer for the tagged output lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
