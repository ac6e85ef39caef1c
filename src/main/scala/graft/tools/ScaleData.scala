package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Build a FULL-COLUMN ~10× replica of an sf dir for scale BENCHING
  * (VERDICT r14 lead task: measure the fixed-cost-floor amortization
  * argument instead of arguing it). Unlike ScaleSmoke's minimal
  * projections, every table keeps its full schema so BOTH engines —
  * graft.Bench via SPARK_GRAFT_SF_DIR and the DuckDB oracle via
  * tools/baseline.py — run the registered queries unmodified at 10×.
  *
  * Replication contract:
  *  - keys shift by disjoint per-copy spans that clear each key range
  *    at sf ≤ 1, consistently across tables (l_orderkey ↔ o_orderkey,
  *    l_suppkey ↔ s_suppkey, o_custkey ↔ c_custkey), so every join
  *    relationship holds per copy and copies never cross-join;
  *  - document TEXT is token-salted per copy (`c3x` prefix on every
  *    token of copy 3): texts stay statistically alike (same token
  *    counts, lengths + a few chars, per-source/lang mix) but are
  *    DISTINCT across copies, so the corpus's duplicate/near-duplicate
  *    structure replicates linearly — naive replication would put 10
  *    identical docs in every dedup bucket and grow candidate pairs
  *    quadratically, a pathological input, not a bigger corpus;
  *  - region/nation (true dims) copy as-is.
  *
  * Usage: tools/run.sh graft.tools.ScaleData <srcDir> <outDir> [copies]
  */
object ScaleData {

  /** `copies` copies of `df`, numbered by a `_copy` column, with each
    * `shifts` key column moved by `_copy × span`. */
  def replicate(df: DataFrame, copies: Int,
                shifts: Map[String, Long]): DataFrame = {
    val base = df.withColumn("_copy",
      explode(sequence(lit(0L), lit(copies - 1L))))
    shifts.foldLeft(base) { case (d, (c, span)) =>
      d.withColumn(c, col(c) + col("_copy") * span)
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.SparkEntry.harnessSession()

    def write(name: String, df: DataFrame): Unit = {
      df.drop("_copy").write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scaledata] $name x$copies written")
    }

    write("lineitem", replicate(Tables.load(spark, srcDir, "lineitem"),
      copies, Map("l_orderkey" -> 100000000L, "l_partkey" -> 10000000L,
        "l_suppkey" -> 1000000L)))
    write("orders", replicate(Tables.load(spark, srcDir, "orders"),
      copies, Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L)))
    write("customer", replicate(Tables.load(spark, srcDir, "customer"),
      copies, Map("c_custkey" -> 10000000L)))
    write("supplier", replicate(Tables.load(spark, srcDir, "supplier"),
      copies, Map("s_suppkey" -> 1000000L)))
    write("part", replicate(Tables.load(spark, srcDir, "part"),
      copies, Map("p_partkey" -> 10000000L)))
    write("embeddings", replicate(Tables.load(spark, srcDir, "embeddings"),
      copies, Map("vec_id" -> 10000000L)))
    write("events", replicate(Tables.load(spark, srcDir, "events"),
      copies, Map("event_id" -> 1000000000L, "user_id" -> 10000000L)))

    // documents: shifted ids + per-copy token salt (copy 0 unsalted)
    val salted = replicate(Tables.load(spark, srcDir, "documents"),
      copies, Map("doc_id" -> 10000000L))
      .withColumn("text", when(col("_copy") === 0L, col("text"))
        .otherwise(concat_ws(" ", transform(split(col("text"), " "),
          t => concat(lit("c"), col("_copy").cast("string"), lit("x"),
            t)))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write("documents", salted)

    for (t <- Seq("region", "nation"))
      write(t, Tables.load(spark, srcDir, t))

    println(s"[scaledata] DONE: $outDir is a full-schema ${copies}x " +
      s"replica of $srcDir")
    spark.stop()
  }
}
