package graft.geo

import graft.SparkSpec
import graft.ops.{GeoQueries, Relational8}
import graft.Tables
import org.apache.spark.sql.functions._

class RasterizeSpec extends SparkSpec {

  test("gridCover: hand-checked right triangle") {
    import spark.implicits._
    // (0,0)-(110,0)-(0,110): G=50 centers (25,25) (75,25) (25,75) are
    // inside (x+y<110); (75,75) is out; ix/iy range is bbox-derived 0..2
    val tri = Seq((1L, Seq(0.0, 110.0, 0.0), Seq(0.0, 0.0, 110.0)))
      .toDF("poly_id", "xs", "ys")
    val r = GeoQueries.gridCover(tri, 50.0).collect()(0)
    assert(r.getLong(1) == 3L, s"expected 3 covered cells, got ${r.getLong(1)}")
    assert(r.getLong(2) == 0L && r.getLong(3) == 1L, "ix range 0..1")
    assert(r.getLong(4) == 0L && r.getLong(5) == 1L, "iy range 0..1")
  }

  test("geo_rasterize: coverage is bbox-bounded and non-degenerate") {
    val rows = GeoQueries.rasterize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ixm, ixx, iym, iyx) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n >= 1)
      assert(ixm <= ixx && iym <= iyx)
      assert(n <= (ixx - ixm + 1) * (iyx - iym + 1),
        "covered cells cannot exceed the reported cell-range box")
    }
  }

  test("geo_overlay: ratios are cell-count fractions in (0, 1]") {
    val rows = GeoQueries.overlay(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, ratio) = (r.getLong(2), r.getDouble(3))
      assert(n >= 1 && ratio > 0.0 && ratio <= 1.0 + 1e-12)
      assert(r.getLong(1) >= 0 && r.getLong(1) < 5, "code domain")
    }
    // per OA polygon, summed per-code cells can exceed its own cell
    // count only through multi-code coverage of the same cell — each
    // single code's count cannot
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val maxRatio = rs.map(_.getDouble(3)).max
      assert(maxRatio <= 1.0 + 1e-12)
    }
  }

  test("geo_line_density conserves total segment length across cells") {
    val cells = GeoQueries.lineDensity(spark, sfDir)
      .agg(sum("total_len")).collect()(0).getDouble(0)
    val segTotal = Derive.segments(spark, sfDir)
      .select(sqrt((col("x2") - col("x1")) * (col("x2") - col("x1")) +
        (col("y2") - col("y1")) * (col("y2") - col("y1"))).as("l"))
      .agg(sum("l")).collect()(0).getDouble(0)
    // cell t-intervals tile [0,1] per segment, so the rasterized total
    // must equal the true total up to the 1e-9 per-term quantization
    assert(math.abs(cells - segTotal) < 1e-4,
      s"length not conserved: cells=$cells segments=$segTotal")
  }

  test("q_sliding_distinct equals the per-day brute force") {
    val day = 86400000000L
    val du = Tables.loadEventsUs(spark, sfDir)
      .select((col("ts_us") - (col("ts_us") % day)).as("day_us"),
        col("user_id"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = du.map(_._1).distinct.sorted.map { d =>
      d -> du.filter { case (dd, _) => dd >= d - 6 * day && dd <= d }
        .map(_._2).distinct.length.toLong
    }
    val got = Relational8.qSlidingDistinct(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq == expected.toSeq)
  }
}
