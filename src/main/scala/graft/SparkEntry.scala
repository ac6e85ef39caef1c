package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query registry (SURVEY.md §7). Aggregates every implemented
  * operator's QueryDef (Spark plan + DuckDB oracle SQL) from the
  * per-area registries under graft.ops, and holds what every harness
  * main (Bench, Verify, Explain, tools.*) shares: the name resolver,
  * the session and the one timed query run.
  */
object SparkEntry {

  private def registries: Seq[QueryDef] =
    ops.Relational.all ++ ops.Relational2.all ++ ops.Relational3.all ++
      ops.Relational4.all ++ ops.Relational5.all ++ ops.Relational6.all ++
      ops.Relational7.all ++ ops.Relational8.all ++ ops.Relational9.all ++
      ops.Events.all ++ ops.Corpus.all ++ ops.Privacy.all ++
      ops.LangModel.all ++ ops.IoQueries.all ++
      ops.GeoQueries.all ++ ops.TextDedup.all ++ ops.DedupCluster.all ++
      ops.VectorOps.all ++
      ops.Multimodal.all ++ ops.WebData.all ++ ops.Graph.all ++
      ops.TimeSeries.all ++ ops.Bpe.all ++ ops.Sketches.all ++
      ops.Journey.all ++ ops.Retrieval.all ++ ops.QualityLr.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.map(q => q.name -> q.spark).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    registries.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The queries a harness was asked for: `names` in the given order,
    * or every registered query sorted by name when none is named.
    * Throws, naming every unknown name, before any session starts — a
    * typo must not become an empty oracle file or a run of failures. */
  def resolve(names: Seq[String]): Seq[String] = {
    val known = queries.keySet
    val unknown = names.filterNot(known).distinct
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query name(s): ${unknown.mkString(", ")}")
    if (names.nonEmpty) names else known.toSeq.sorted
  }

  /** The session every harness main runs on: [[GraftSession.local]] at
    * SPARK_GRAFT_CPUS cores, by default this host's processor count. */
  def harnessSession(): SparkSession = GraftSession.local(
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt))

  /** Per-query cap: SPARK_GRAFT_QUERY_CAP seconds, else `defaultS`. */
  def queryCap(defaultS: Long): Long =
    sys.env.get("SPARK_GRAFT_QUERY_CAP").fold(defaultS)(_.toLong)

  /** Full compute, no write cost, no count()-style short-circuit. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One timed run: wall and process-CPU seconds, and what the build or
    * the sink threw (a watchdog cancel included), if anything. */
  final case class Run(wallS: Double, cpuS: Double, failure: Option[Throwable])

  /** The one place a harness runs and times a query: builds it into
    * `sink` under its own job group, timing wall and process CPU, and
    * logs the outcome to stderr. A watchdog cancels the group after
    * `capS` seconds and every 15 s after that: a cancel only kills the
    * jobs running at that instant. Failures are returned, never thrown.
    * Afterwards, ok or not, [[Artifacts.releaseQueryState]] drops the
    * query's blocks and the SQL cache, which otherwise pile up over
    * sequential queries and grind the JVM down, but keeps the pinned
    * artifacts: a deployment serves every query from indexes it trained
    * once. */
  def run(spark: SparkSession, name: String, build: => DataFrame, capS: Long)
         (sink: DataFrame => Unit): Run = {
    val sc = spark.sparkContext
    val group = s"run-$name-${System.nanoTime()}"
    val watchdog = new java.util.Timer(s"watchdog-$name", true)
    sc.setJobGroup(group, name, interruptOnCancel = true)
    watchdog.schedule(new java.util.TimerTask {
      def run(): Unit = {
        System.err.println(s"[run] $name exceeded ${capS}s — cancelling")
        sc.cancelJobGroup(group)
      }
    }, capS * 1000, 15000)
    val t0 = System.nanoTime()
    val c0 = processCpuNs()
    try {
      val failure = try { sink(build); None } catch { case e: Throwable => Some(e) }
      val r = Run((System.nanoTime() - t0) / 1e9, (processCpuNs() - c0) / 1e9, failure)
      System.err.println(failure.fold(f"[run] $name%-28s ${r.wallS}%8.2f s  cpu ${r.cpuS}%8.2f s")(
        e => s"[run] $name failed: ${e.getMessage}"))
      r
    } finally {
      watchdog.cancel()
      sc.clearJobGroup()
      Artifacts.releaseQueryState(spark)
    }
  }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** A JSON string literal: quotes, backslashes and every control
    * character escaped — a tab in oracle SQL or a quote in a data path
    * must not make a harness's JSON unparseable. */
  def jsonString(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
}
