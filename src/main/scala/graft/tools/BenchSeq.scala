package graft.tools

import graft.{Artifacts, GraftSession, SparkEntry}

/** Diagnostic sequential bench: runs the given queries IN ARGUMENT
  * ORDER, once each (repeat a name to re-run it), printing per-query
  * wall + process-CPU seconds. Unlike graft.Bench it never reshuffles,
  * never iterates, and never budget-gates — it exists to reproduce
  * order-dependent shared-JVM effects (the in-suite text-kernel
  * inflation: BASELINE.md round-15 caveat) under a controlled prefix.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default sf0.1)
  *   SPARK_GRAFT_CPUS     local cores (default 32)
  *
  * Pass JVM flags (e.g. -Dspark.sql.codegen.cache.maxEntries=1000)
  * through tools/run.sh to vary static confs between runs.
  */
object BenchSeq {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    var spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def exec(name: String): (Double, Double) = {
      val t0 = System.nanoTime()
      val c0 = osBean.getProcessCpuTime
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (osBean.getProcessCpuTime - c0) / 1e9
      Artifacts.releaseQueryState(spark)
      (dt, dc)
    }

    exec("q6_filter_agg") // warmup (discarded)
    args.foreach {
      // `--restart` tears the whole SparkSession/SparkContext down and
      // builds a fresh one: separates SESSION aging (BlockManager,
      // listener bus, accumulated broadcasts — reset by restart) from
      // JVM aging (JIT profiles, code cache — survives restart).
      case "--restart" =>
        spark.stop()
        org.apache.spark.sql.SparkSession.clearActiveSession()
        org.apache.spark.sql.SparkSession.clearDefaultSession()
        spark = GraftSession.local(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        println("[seq] --- session restarted ---")
        exec("q6_filter_agg") // re-warm the new session (discarded)
      case n =>
        val (w, c) = exec(n)
        println(f"[seq] $n%-28s wall $w%8.2f s  cpu $c%8.2f s")
    }
    spark.stop()
  }
}
