package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift canary: the driver regenerates the parquet test data
  * between rounds and has already shipped the events/orders timestamps
  * as INT64 nanos, TIMESTAMP, and TIMESTAMP_NTZ across vintages — the
  * round-5 drift silently took down the whole events family. This spec
  * fails loudly the moment a table stops loading or a timestamp column
  * stops normalizing, in EVERY sf dir the driver generates.
  *
  * Also the catalog contract: a table's schema is resolved once per
  * session, never served stale, and every load is a fresh Dataset.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs =
    Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")
      .filter(d => new java.io.File(d).isDirectory)

  test("every table in every sf dir loads and is non-empty") {
    assert(sfDirs.nonEmpty, "no testdata dirs found")
    for (dir <- sfDirs; name <- Tables.names) {
      val df = Tables.load(spark, dir, name)
      assert(df.limit(1).count() == 1L, s"$dir/$name is empty")
    }
  }

  test("events.ts normalizes to epoch-micros in every sf dir") {
    for (dir <- sfDirs) {
      val e = Tables.loadEventsUs(spark, dir)
      assert(e.schema("ts_us").dataType == LongType)
      val Array(lo, hi) = e.agg(min("ts_us"), max("ts_us")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      // plausibility window: years ~2000..2100 in epoch-microseconds;
      // a nanos-read-as-micros bug lands 1000x outside this band
      assert(lo > 946684800000000L && hi < 4102444800000000L,
        s"$dir events ts_us out of range: [$lo, $hi]")
    }
  }

  test("orders.o_orderdate normalizes to epoch-micros in every sf dir") {
    for (dir <- sfDirs) {
      val o = Tables.withMicros(
        Tables.load(spark, dir, "orders"), "o_orderdate", "o_us")
      val Array(lo, hi) = o.agg(min("o_us"), max("o_us")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      assert(lo > 631152000000000L && hi < 4102444800000000L,
        s"$dir o_orderdate o_us out of range: [$lo, $hi]")
    }
  }

  test("catalog: a second load of an unchanged table runs no Spark job") {
    Tables.load(spark, sfDir, "lineitem")
    assert(jobsDuring(Tables.load(spark, sfDir, "lineitem")).isEmpty)
  }

  test("catalog: every load is a fresh Dataset, so two loads self-join") {
    val a = Tables.load(spark, sfDir, "orders")
    val b = Tables.load(spark, sfDir, "orders")
    assert(a.queryExecution.analyzed.outputSet
      .intersect(b.queryExecution.analyzed.outputSet).isEmpty)
    val n = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_orderkey"), b("o_custkey")).count()
    assert(n == a.count())
  }

  test("catalog: a table overwritten in place loads with its new schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    try {
      spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
      assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
      spark.range(3).selectExpr("id AS b", "CAST(id AS STRING) AS c")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val t = Tables.load(spark, dir, "t")
      assert(t.columns.toSeq == Seq("b", "c"))
      assert(t.where("c = '2'").count() == 1L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("catalog: a second build of each relational_short query runs no job") {
    for (q <- Seq("q1_agg", "q3_join_topn", "q13_custdist",
                  "q14_promo_share", "q_funnel")) {
      SparkEntry.queries(q)(spark, sfDir)
      assert(jobsDuring(SparkEntry.queries(q)(spark, sfDir)).isEmpty, q)
    }
  }

  test("withMicros handles all four timestamp representations") {
    import spark.implicits._
    // long nanos
    val l = Seq(1700000000000000000L).toDF("t")
    assert(Tables.withMicros(l, "t", "us").head().getLong(1)
      == 1700000000000000L)
    // timestamp (UTC session)
    val ts = Seq("2023-11-14 22:13:20").toDF("s")
      .select(col("s").cast(TimestampType).as("t"))
    assert(Tables.withMicros(ts, "t", "us").head().getLong(1)
      == 1700000000000000L)
    // timestamp_ntz
    val ntz = Seq("2023-11-14 22:13:20").toDF("s")
      .select(col("s").cast(TimestampNTZType).as("t"))
    assert(Tables.withMicros(ntz, "t", "us").head().getLong(1)
      == 1700000000000000L)
    // date
    val d = Seq("2023-11-14").toDF("s")
      .select(col("s").cast(DateType).as("t"))
    assert(Tables.withMicros(d, "t", "us").head().getLong(1)
      == 1699920000000000L)
    // unsupported type throws with the column name in the message
    val bad = Seq("x").toDF("t")
    val err = intercept[IllegalStateException] {
      Tables.withMicros(bad, "t", "us")
    }
    assert(err.getMessage.contains("t:"))
  }
}
