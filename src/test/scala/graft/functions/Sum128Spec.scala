package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

class Sum128Spec extends SparkSpec {
  import spark.implicits._

  private def d128(c: org.apache.spark.sql.Column, s: Int) =
    call_function("dsum128", c, lit(s))
  private def dec(c: org.apache.spark.sql.Column, s: Int) =
    sum(c.cast(DecimalType(18, s))).cast("double")

  test("dsum128 equals the decimal sum bit-for-bit on real data") {
    val l = graft.Tables.load(spark, sfDir, "lineitem")
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    // the dsum contract: scale >= the value's true decimal digits
    // (price is 2 dp; disc = 2 dp x 2 dp = 4 dp). At a SMALLER scale
    // the decimal cast genuinely rounds, where half-up-on-shortest-repr
    // diverges from binary rint at .5 boundaries — the CLAUDE.md ROUND
    // rule — so dsum128 (like dsum itself) is only exact within scale.
    for (s <- Seq(2, 4, 6)) {
      val a = l.groupBy("l_returnflag").agg(
        dec(col("l_extendedprice"), s).as("x")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val b = l.groupBy("l_returnflag").agg(
        d128(col("l_extendedprice"), s).as("x")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(a == b, s"price scale $s")
    }
    for (s <- Seq(4, 6)) {
      val a = l.groupBy("l_returnflag").agg(dec(disc, s).as("x")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val b = l.groupBy("l_returnflag").agg(d128(disc, s).as("x")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(a == b, s"disc scale $s")
    }
  }

  test("dsum128: negatives, nulls, empty groups, partial merges") {
    // many partitions force real partial/merge paths; negative values
    // exercise the sign-extended 128-bit carry; nulls contribute nothing
    val rows = (1 to 100000).map { i =>
      val v = if (i % 97 == 0) null
        else java.lang.Double.valueOf((i % 2001 - 1000) * 1.37 + 0.005)
      (i % 7, v)
    }
    val df = rows.toDF("g", "v").repartition(16)
    val a = df.groupBy("g").agg(dec(col("v"), 4).as("x")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val b = df.groupBy("g").agg(d128(col("v"), 4).as("x")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(a == b)
    // all-null group sums to NULL (SUM semantics), not 0
    val nulls = Seq((1, null: java.lang.Double), (1, null: java.lang.Double))
      .toDF("g", "v")
    val r = nulls.groupBy("g").agg(d128(col("v"), 4).as("x")).head
    assert(r.isNullAt(1))
    // a negative running total crosses the lo-limb boundary repeatedly
    val neg = (1 to 1000).map(i => (1, -1e9 - i)).toDF("g", "v")
    val exact = neg.groupBy("g").agg(dec(col("v"), 2).as("x")).head.getDouble(1)
    assert(neg.groupBy("g").agg(d128(col("v"), 2).as("x"))
      .head.getDouble(1) == exact)
  }

  test("dsum128 fails loudly outside the 2^51 exactness envelope") {
    val big = Seq((1, 1e13)).toDF("g", "v") // 1e13 * 1e4 > 2^51
    val e = intercept[Exception] {
      big.groupBy("g").agg(d128(col("v"), 4)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("dsum128")))
  }

  test("dsum128 fails loudly when a value has more digits than scale") {
    // 0.00005 has 5 true decimal digits; at scale 4 its product lands
    // exactly on the .5 rounding boundary where half-even rint and the
    // decimal cast's half-up diverge — the digit-precondition guard
    // must raise rather than silently drift from dsumDec
    val tie = Seq((1, 0.00005), (1, 1.0)).toDF("g", "v")
    val e = intercept[Exception] {
      tie.groupBy("g").agg(d128(col("v"), 4)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(m =>
      m.contains("dsum128") && m.contains("decimal")))
    // and values WITHIN the contract still evaluate (frac stays tiny)
    val ok = Seq((1, 0.0005), (1, 1.25)).toDF("g", "v")
    assert(ok.groupBy("g").agg(d128(col("v"), 4)).head.getDouble(1)
      == 1.2505)
  }
}
