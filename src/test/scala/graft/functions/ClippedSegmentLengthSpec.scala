package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClippedSegmentLengthSpec extends SparkSpec {

  test("geometric fixtures via the SQL surface") {
    def clip(cx: Double, cy: Double, r: Double,
             x1: Double, y1: Double, x2: Double, y2: Double): Double =
      spark.sql(
        s"SELECT clipped_segment_length(${cx}D, ${cy}D, ${r}D, ${x1}D, ${y1}D, ${x2}D, ${y2}D) AS v")
        .head().getDouble(0)

    // chord through the center: full diameter
    assert(math.abs(clip(0, 0, 10, -20, 0, 20, 0) - 20.0) < 1e-12)
    // fully inside: whole segment length
    assert(math.abs(clip(0, 0, 10, -3, 0, 4, 0) - 7.0) < 1e-12)
    // fully outside: zero
    assert(clip(0, 0, 1, 5, 5, 6, 5) == 0.0)
    // half-in: from x=0 to x=10, circle r=5 at origin → 5 inside
    assert(math.abs(clip(0, 0, 5, 0, 0, 10, 0) - 5.0) < 1e-12)
    // tangent line: zero
    assert(clip(0, 0, 5, -10, 5, 10, 5) == 0.0)
    // degenerate point segment: zero
    assert(clip(0, 0, 5, 1, 1, 1, 1) == 0.0)
    // vertical chord at x=3, r=5 → 2*sqrt(25-9) = 8
    assert(math.abs(clip(0, 0, 5, 3, -10, 3, 10) - 8.0) < 1e-12)
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val df = (1 to 100).map { i =>
      (i.toDouble % 7, i.toDouble % 11, 3.0 + i % 5,
        i.toDouble % 13 - 6, i.toDouble % 17 - 8,
        i.toDouble % 19 - 9, i.toDouble % 23 - 11)
    }.toDF("cx", "cy", "r", "x1", "y1", "x2", "y2")
    val viaSql = df.selectExpr(
      "clipped_segment_length(cx, cy, r, x1, y1, x2, y2) AS v")
      .collect().map(_.getDouble(0))
    val viaKernel = df.collect().map(r =>
      GeoMath.clippedSegmentLength(r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6)))
    viaSql.zip(viaKernel).foreach { case (a, b) => assert(a == b) }
  }
}
