package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 4, where ONE wedged query zeroed the whole gate
  * (the driver killed the run before oracle_sql.json was written →
  * CORRECTNESS_r04.json = {}):
  *   - oracle_sql.json is written FIRST, so every query that does get
  *     dumped is compared even if a later one hangs;
  *   - each query runs under a watchdog (SPARK_GRAFT_QUERY_CAP s,
  *     default 240 — ~3.5× the worst clean-run query under 30% steal,
  *     so a false cap is unlikely but a wedge still can't eat the run)
  *     that cancels its job group and moves on;
  *   - per-query wall time goes to stderr for timeline forensics;
  *   - all persistent RDDs (eager localCheckpoints from Tables.hot) and
  *     the SQL cache are dropped after every query — accumulated blocks
  *     from ~95 sequential queries otherwise grind the JVM down.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to these queries (local iteration);
    // the driver's two-arg invocation dumps everything
    val only = args.drop(2).toSet
    def keep(name: String) = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val queryCap = sys.env.getOrElse("SPARK_GRAFT_QUERY_CAP", "240").toLong
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val watchdog = new java.util.Timer("verify-watchdog", true)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1))
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobGroup(s"verify-$name", name,
          interruptOnCancel = true)
        val cancel = new java.util.TimerTask {
          def run(): Unit = {
            System.err.println(s"[verify] $name exceeded ${queryCap}s — cancelling")
            spark.sparkContext.cancelJobGroup(s"verify-$name")
          }
        }
        // repeating: cancelJobGroup only kills jobs running at that
        // instant; a multi-job query needs the re-fire
        watchdog.schedule(cancel, queryCap * 1000, 15000)
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(
            f"[verify] $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally {
          cancel.cancel()
          spark.sparkContext.clearJobGroup()
          // sequential queries must not accumulate storage; the
          // session-frozen artifacts are shared across queries by design
          Artifacts.releaseQueryState(spark)
        }
      }
    spark.stop()
  }
}
