package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Contract certs for the native `pair_codes` kernel: exact pair set,
  * LOUD null-element / pack-range / cap guards, and the 2-arg SQL form
  * actually threading its cap (the 1-arg registration used to drop a
  * second argument silently, leaving the kernel default in charge). */
class PairCodesSpec extends SparkSpec {

  test("pair_codes emits exactly the packed C(n,2) ordered pairs") {
    import spark.implicits._
    val got = Seq(Seq(2L, 5L, 9L)).toDF("a")
      .select(explode(call_function("pair_codes", col("a"))).as("c"))
      .as[Long].collect().toSet
    val want = Set((2L << 32) | 5L, (2L << 32) | 9L, (5L << 32) | 9L)
    assert(got == want)
    val empty = Seq(Seq(7L), Seq.empty[Long]).toDF("a")
      .select(explode(call_function("pair_codes", col("a"))).as("c"))
      .count()
    assert(empty == 0L, "singleton/empty baskets must emit no pairs")
  }

  test("pair_codes null element fails LOUDLY, never reads as 0") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(Seq[java.lang.Long](1L, null, 3L)).toDF("a")
        .select(call_function("pair_codes", col("a"))).collect()
    }
    assert(e.getMessage.contains("null element") ||
      Option(e.getCause).exists(_.getMessage.contains("null element")),
      s"wrong failure: ${e.getMessage}")
  }

  test("pair_codes 2-arg SQL form threads the cap; bad arity rejected") {
    import spark.implicits._
    val df = Seq(Seq(1L, 2L, 3L, 4L)).toDF("a")
    // cap 3 < basket 4 must trip the in-kernel guard — proof the SQL
    // argument reaches the kernel instead of the default 1000
    val e = intercept[Exception] {
      df.select(call_function("pair_codes", col("a"), lit(3))).collect()
    }
    assert(e.getMessage.contains("pair cap") ||
      Option(e.getCause).exists(_.getMessage.contains("pair cap")))
    // 2-arg under-cap answers identically to 1-arg
    val a1 = df.select(explode(call_function("pair_codes", col("a"))))
      .collect().map(_.getLong(0)).sorted.toSeq
    val a2 = df.select(explode(
        call_function("pair_codes", col("a"), lit(10))))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a1 == a2)
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("pair_codes", col("a"), lit(3), lit(4)))
        .collect()
    }
    assert(bad.getCondition.startsWith("WRONG_NUM_ARGS"), bad.getMessage)
  }
}
