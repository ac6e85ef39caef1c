package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QSum128Spec extends SparkSpec {
  import spark.implicits._

  private def q128(c: org.apache.spark.sql.Column, s: Int) =
    call_function("qsum128", c, lit(s))

  /** The reference semantics: Σ floor(x·10^s + 0.5) as exact longs,
    * reconstructed double(Σ)/10^s — viable here because the test sums
    * stay far below 2^63. */
  private def refSum(c: org.apache.spark.sql.Column, s: Int) =
    sum(floor(c * math.pow(10, s) + lit(0.5)).cast("long"))
      .cast("double") / math.pow(10, s)

  test("qsum128 equals the floor-quantized long sum on continuous data") {
    // continuous doubles (products of prices) — exactly the inputs the
    // dsum128 digit guard rejects and qsum128 exists for
    val l = graft.Tables.load(spark, sfDir, "lineitem")
    val cont = col("l_extendedprice") * col("l_discount") * lit(0.997)
    for (s <- Seq(4, 6)) { // |cont| ~ 1e4: scale 12 would trip the guard
      val a = l.groupBy("l_returnflag").agg(refSum(cont, s).as("x"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val b = l.groupBy("l_returnflag").agg(q128(cont, s).as("x"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(a == b, s"scale $s")
    }
    // scale 12 (the PCA-family setting) on unit-magnitude values
    val unit = col("l_discount") * col("l_tax") * lit(math.E)
    val a12 = l.groupBy("l_returnflag").agg(refSum(unit, 12).as("x"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b12 = l.groupBy("l_returnflag").agg(q128(unit, 12).as("x"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a12 == b12, "scale 12")
  }

  test("qsum128: negatives, nulls, empty groups, partial merges") {
    val rows = (1 to 100000).map { i =>
      val v = if (i % 97 == 0) null
        else java.lang.Double.valueOf((i % 2001 - 1000) * math.Pi / 7)
      (i % 7, v)
    }
    val df = rows.toDF("g", "v").repartition(16)
    val a = df.groupBy("g").agg(refSum(col("v"), 6).as("x")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val b = df.groupBy("g").agg(q128(col("v"), 6).as("x")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(a == b)
    val nulls = Seq((1, null: java.lang.Double), (1, null: java.lang.Double))
      .toDF("g", "v")
    assert(nulls.groupBy("g").agg(q128(col("v"), 6)).head.isNullAt(1))
    // floor(x+0.5) is half-UP toward +inf for negatives too: -0.5 → 0
    val negTie = Seq((1, -0.0000005), (1, 0.0)).toDF("g", "v")
    assert(negTie.groupBy("g").agg(q128(col("v"), 6)).head.getDouble(1)
      == 0.0)
  }

  test("qsum128 exceeds the long-sum range without wrapping") {
    // 5M rows of 1e3 at scale 12 → Σ quantized = 5e21 ≫ 2^63: a plain
    // long sum wraps silently; the 128-bit accumulator must not
    val big = spark.range(5000000)
      .select((lit(1000.0) + (col("id") % 2) * 1e-12).as("v"))
    val got = big.agg(q128(col("v"), 12)).head.getDouble(0)
    val expect = (BigDecimal(5000000L) * 1000 + BigDecimal(2500000) * 1e-12)
    assert(math.abs(got - expect.toDouble) / expect.toDouble < 1e-15, got)
  }

  test("qsum128 fails loudly past the 2^51 quantization envelope") {
    val big = Seq((1, 1e13)).toDF("g", "v") // 1e13 * 1e4 > 2^51
    val e = intercept[Exception] {
      big.groupBy("g").agg(q128(col("v"), 4)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("qsum128")))
  }
}
