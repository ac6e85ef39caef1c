package graft.tools

import graft.SparkEntry

/** Diagnostic sequential bench: runs the given queries IN ARGUMENT
  * ORDER, once each (repeat a name to re-run it), printing one `[seq]`
  * line of wall + process-CPU seconds per query, or its failure. Unlike
  * graft.Bench it never reshuffles, never iterates, and never
  * budget-gates — it exists to reproduce order-dependent shared-JVM
  * effects (the in-suite text-kernel inflation: BASELINE.md round-15
  * caveat) under a controlled prefix. Each query is one
  * [[SparkEntry.run]] over SPARK_GRAFT_SF_DIR with Bench's query cap.
  *
  * `--restart` between names tears the SparkSession/SparkContext down
  * and builds a fresh one: it separates SESSION aging (BlockManager,
  * listener bus, accumulated broadcasts — reset by restart) from JVM
  * aging (JIT profiles, code cache — survives restart).
  *
  * Usage: tools/run.sh graft.tools.BenchSeq <query|--restart>...
  * Pass JVM flags (e.g. -Dspark.sql.codegen.cache.maxEntries=1000)
  * through tools/run.sh to vary static confs between runs.
  */
object BenchSeq {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val restart = "--restart"
    SparkEntry.resolve(args.toSeq.filter(_ != restart)) // fails on a typo first
    val cap = SparkEntry.queryCap(180)
    var spark = SparkEntry.harnessSession()
    def exec(name: String): SparkEntry.Run =
      SparkEntry.run(spark, name, SparkEntry.queries(name)(spark, sfDir), cap)(SparkEntry.noop)

    exec("q6_filter_agg") // warmup (discarded)
    args.foreach {
      case `restart` =>
        spark.stop()
        spark = SparkEntry.harnessSession()
        println("[seq] --- session restarted ---")
        exec("q6_filter_agg") // re-warm the new session (discarded)
      case n =>
        val r = exec(n)
        println(r.failure.fold(f"[seq] $n%-28s wall ${r.wallS}%8.2f s  cpu ${r.cpuS}%8.2f s")(
          e => s"[seq] $n FAILED: ${e.getMessage}"))
    }
    spark.stop()
  }
}
