package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PointInPolygonSpec extends SparkSpec {
  import spark.implicits._

  test("unit-square and concave fixtures via SQL surface") {
    val square = "array(0D,1D,1D,0D), array(0D,0D,1D,1D)"
    def in(px: Double, py: Double, poly: String): Boolean =
      spark.sql(s"SELECT point_in_polygon(${px}D, ${py}D, $poly)").head().getBoolean(0)
    assert(in(0.5, 0.5, square))
    assert(!in(1.5, 0.5, square))
    assert(!in(-0.1, 0.5, square))
    // concave "U" shape: (0,0)(4,0)(4,3)(3,3)(3,1)(1,1)(1,3)(0,3)
    val u = "array(0D,4D,4D,3D,3D,1D,1D,0D), array(0D,0D,3D,3D,1D,1D,3D,3D)"
    assert(in(0.5, 2.0, u))    // left arm
    assert(in(3.5, 2.0, u))    // right arm
    assert(!in(2.0, 2.0, u))   // the notch
    assert(in(2.0, 0.5, u))    // the base
  }

  test("ring-set containment: holes exclude, islands-in-holes re-include") {
    // outer 10x10 square, hole 4..6 square, island 4.5..5.5 square
    val rings = Seq((
      Seq(Seq(0.0, 10.0, 10.0, 0.0), Seq(4.0, 6.0, 6.0, 4.0),
        Seq(4.5, 5.5, 5.5, 4.5)),
      Seq(Seq(0.0, 0.0, 10.0, 10.0), Seq(4.0, 4.0, 6.0, 6.0),
        Seq(4.5, 4.5, 5.5, 5.5))))
      .toDF("rxs", "rys")
    def in(px: Double, py: Double): Boolean =
      rings.select(graft.geo.Polygons.containsRings(
        lit(px), lit(py), col("rxs"), col("rys"))).head().getBoolean(0)
    assert(in(1.0, 1.0))      // between outer and hole
    assert(!in(4.2, 5.0))     // inside the hole, outside the island
    assert(in(5.0, 5.0))      // inside the island (odd ring count)
    assert(!in(11.0, 5.0))    // outside everything
    // single-ring set degenerates to the plain ray-cast
    val one = Seq((Seq(Seq(0.0, 10.0, 0.0)), Seq(Seq(0.0, 0.0, 10.0))))
      .toDF("rxs", "rys")
    assert(one.select(graft.geo.Polygons.containsRings(
      lit(1.0), lit(1.0), col("rxs"), col("rys"))).head().getBoolean(0))
  }

  test("polygon containment join: points to derived triangles") {
    // triangles keyed by cell, joined to points — the polygon analogue
    // of the landuse intersect (each point tagged with containing poly)
    val polys = Seq(
      (1L, Seq(0.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0)),
      (2L, Seq(10.0, 20.0, 20.0), Seq(10.0, 0.0, 10.0)))
      .toDF("poly_id", "xs", "ys")
    val pts = Seq((1L, 2.0, 2.0), (2L, 18.0, 8.0), (3L, 15.0, 15.0))
      .toDF("pid", "px", "py")
    val out = pts.join(polys,
        expr("point_in_polygon(px, py, xs, ys)"), "left")
      .select(col("pid"), col("poly_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(1L))
    assert(out(2L) == Some(2L))
    assert(out(3L) == None)
  }
}
