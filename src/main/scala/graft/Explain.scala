package graft

/** Plan inspector: prints the formatted physical plan of named queries
  * (every registered query when none is named). Runs on the harness
  * session, so native graft functions (dsum128/qsum128/vec_dot/...)
  * resolve and the audited config matches what Verify/Bench execute.
  * Usage: tools/run.sh graft.Explain <sfDir> [query...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = SparkEntry.resolve(args.tail.toSeq)
    val spark = SparkEntry.harnessSession()
    names.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
