package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: tools/run.sh graft.Verify <sfDir> <outDir> [query...] — the
  * two-arg form dumps every query; named ones restrict the dump (an unknown name fails before any session starts).
  *
  * Hardened after round 4, where ONE wedged query zeroed the whole gate
  * (the driver killed the run before oracle_sql.json was written →
  * CORRECTNESS_r04.json = {}):
  *   - oracle_sql.json is written FIRST, so every query that does get
  *     dumped is compared even if a later one hangs;
  *   - each query is one [[SparkEntry.run]] under a watchdog
  *     (SPARK_GRAFT_QUERY_CAP s, default 240 — ~3.5× the worst
  *     clean-run query under 30% steal, so a false cap is unlikely but a
  *     wedge still can't eat the run) and releases its blocks after;
  *   - per-query wall time or failure goes to stderr for timeline
  *     forensics.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.resolve(args.drop(2).toSeq).distinct
    val spark = SparkEntry.harnessSession()
    try dump(spark, args(0), args(1), names, SparkEntry.queryCap(240))
    finally spark.stop()
  }

  /** Writes `outDir/oracle_sql.json` for `names`, then each query's
    * result as one parquet file under `outDir/<name>`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String], capS: Long): Unit = {
    new java.io.File(outDir).mkdirs()
    val oracle = SparkEntry.oracleSql
    val json = names.filter(oracle.contains)
      .map(k => s"${SparkEntry.jsonString(k)}: ${SparkEntry.jsonString(oracle(k))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    names.foreach { name =>
      SparkEntry.run(spark, name, SparkEntry.queries(name)(spark, sfDir), capS) {
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
  }
}
