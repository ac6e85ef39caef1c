package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The wkt_*_text kernels must be BIT-IDENTICAL to the zip_with /
  * concat_ws cast chains they replace — including the shortest
  * round-trip double formatting (StringBuilder.append(double) and the
  * cast both bottom out in Double.toString) and the textual ring
  * closing via the first vertex. Pinned on the real Derive geometry
  * distributions (every registered WKT query's actual input) plus
  * adversarial doubles (negatives, exponents, sub-ulp neighbours,
  * integral values). */
class WktTextSpec extends SparkSpec {

  // the round-16 column chains, verbatim
  private def chainVerts(xs: Column, ys: Column): Column =
    zip_with(xs, ys,
      (vx, vy) => concat(vx.cast("string"), lit(" "), vy.cast("string")))
  private def chainPoint(x: Column, y: Column): Column =
    concat(lit("POINT ("), x.cast("string"), lit(" "),
      y.cast("string"), lit(")"))
  private def chainLine(xs: Column, ys: Column): Column =
    concat(lit("LINESTRING ("), concat_ws(", ", chainVerts(xs, ys)), lit(")"))
  private def chainPoly(xs: Column, ys: Column): Column = {
    val verts = chainVerts(xs, ys)
    concat(lit("POLYGON (("), concat_ws(", ", verts), lit(", "),
      element_at(verts, 1), lit("))"))
  }
  private def chainRingText(xs: Column, ys: Column): Column = {
    val verts = chainVerts(xs, ys)
    concat(lit("("), concat_ws(", ", verts), lit(", "),
      element_at(verts, 1), lit(")"))
  }
  private def chainRings(rxs: Column, rys: Column): Column =
    concat(lit("POLYGON ("),
      concat_ws(", ", zip_with(rxs, rys, chainRingText)), lit(")"))
  private def chainMulti(parts: Column): Column =
    concat(lit("MULTIPOLYGON ("),
      concat_ws(", ", transform(parts, p =>
        concat(lit("("), concat_ws(", ",
          zip_with(p.getField("rxs"), p.getField("rys"), chainRingText)),
          lit(")")))),
      lit(")"))

  private def assertSame(df: org.apache.spark.sql.DataFrame): Unit = {
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"kernel='${r.getString(0)}' chain='${r.getString(1)}'")
    }
  }

  test("kernels match the cast chains on adversarial doubles") {
    val rnd = new scala.util.Random(17)
    def d(): Double = rnd.nextInt(6) match {
      case 0 => rnd.nextDouble() * 2e5 - 1e5
      case 1 => (rnd.nextInt(2000) - 1000).toDouble // integral → "x.0"
      case 2 => rnd.nextDouble() * 1e12              // E notation
      case 3 => rnd.nextDouble() * 1e-7              // small E notation
      case 4 => java.lang.Double.longBitsToDouble(rnd.nextLong()) match {
        case v if v.isNaN || v.isInfinite => 0.5
        case v => v
      }
      case _ => math.rint(rnd.nextDouble() * 1e7) / 1e3
    }
    val rows = (1 to 400).map { _ =>
      val n = 2 + rnd.nextInt(6)
      (Seq.fill(n)(d()), Seq.fill(n)(d()))
    }
    import spark.implicits._
    graft.GraftFunctions.register(spark)
    val df = rows.toDF("xs", "ys")
    assertSame(df.select(
      call_function("wkt_line_text", col("xs"), col("ys")),
      chainLine(col("xs"), col("ys"))))
    assertSame(df.select(
      call_function("wkt_poly_text", col("xs"), col("ys")),
      chainPoly(col("xs"), col("ys"))))
    assertSame(df.select(
      call_function("wkt_point_text", element_at(col("xs"), 1),
        element_at(col("ys"), 1)),
      chainPoint(element_at(col("xs"), 1), element_at(col("ys"), 1))))
    // nested rings + multipolygon parts from the same vertex pools
    val nested = df.select(
      array(col("xs"), col("xs")).as("rxs"),
      array(col("ys"), col("ys")).as("rys"))
    assertSame(nested.select(
      call_function("wkt_rings_text", col("rxs"), col("rys")),
      chainRings(col("rxs"), col("rys"))))
    val parts = nested.select(array(
      struct(col("rxs"), col("rys")),
      struct(col("rxs"), col("rys"))).as("parts"))
    assertSame(parts.select(
      call_function("wkt_multi_text", col("parts")),
      chainMulti(col("parts"))))
  }

  test("wkt_multi_text rejects non-double ring arrays at analysis") {
    graft.GraftFunctions.register(spark)
    val xs = array(array(lit(1.0), lit(2.0)))
    val ints = array(array(lit(1), lit(2)))
    // both fields wrong, then only the second (the one never checked
    // before): analysis must fail by name, not a ClassCastException
    // inside the kernel at run time
    for ((rxs, rys) <- Seq((ints, ints), (xs, ints))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.range(1).select(call_function("wkt_multi_text",
          array(struct(rxs.as("rxs"), rys.as("rys"))))).collect()
      }
      assert(e.getMessage.contains("wkt_multi_text expects"), e.getMessage)
    }
  }

  test("kernels match the cast chains on the Derive geometries") {
    graft.GraftFunctions.register(spark)
    import graft.geo.Derive
    val tri = Derive.triangles(spark, sfDir)
    assertSame(tri.select(
      call_function("wkt_poly_text", col("xs"), col("ys")),
      chainPoly(col("xs"), col("ys"))))
    val lines = Derive.polylines(spark, sfDir)
    assertSame(lines.select(
      call_function("wkt_line_text", col("xs"), col("ys")),
      chainLine(col("xs"), col("ys"))))
    val holed = Derive.holedTriangles(spark, sfDir)
    assertSame(holed.select(
      call_function("wkt_rings_text", col("rxs"), col("rys")),
      chainRings(col("rxs"), col("rys"))))
    val pts = Derive.points(spark, sfDir)
    assertSame(pts.select(
      call_function("wkt_point_text", col("x"), col("y")),
      chainPoint(col("x"), col("y"))))
  }
}
