package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory carrying the engine's tuned
  * defaults — what Verify/Bench/specs use, packaged for library users.
  */
object GraftSession extends Logging {

  /** @param cores      local parallelism (also shuffle partitions —
    *                    on a real cluster set shuffle partitions to
    *                    2–3× total executor cores instead)
    */
  def local(cores: Int, extraConf: Map[String, String] = Map.empty): SparkSession = {
    // load Spark's INFO log4j defaults now, so they can't reset the level
    initializeLogIfNecessary(false, silent = true)
    Configurator.setRootLevel(Level.valueOf(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN")))
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events parquet carries TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // wide signature self-joins blow up constraint propagation
      // (re-run per AQE re-optimization); graft plans don't rely on
      // inferred constraints
      .config("spark.sql.constraintPropagation.enabled", "false")
      // native graft expressions available from SQL
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // The generated-code cache default (100 entries) thrashes under a
      // multi-query workload: a ~250-query suite holds well over 100
      // distinct codegen fragments, so every fragment is EVICTED before
      // its query runs again — the rerun re-compiles through Janino into
      // a FRESH class identity and HotSpot's C2 optimization starts from
      // zero, inflating allocation-heavy kernels 2-2.5× on every sample
      // (measured: a warmed 11 CPU-s query re-read 28.6 after 30
      // interleaved queries at the default, 10.1 at 5000 — BASELINE.md
      // round-16 note). 5000 entries ≈ a few hundred MB of retained
      // source+class at worst, and lets steady-state serving reuse both
      // the compiled class and its JIT-compiled machine code — exactly
      // what a long-lived production driver does. (Static conf: applies
      // to the first session in the JVM.)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
