package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row

class ClippedPolygonAreaSpec extends SparkSpec {

  private def area(cx: Double, cy: Double, r: Double,
                   xs: Seq[Double], ys: Seq[Double]): Double = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    GeoMath.circlePolyArea(cx, cy, r,
      ArrayData.toArrayData(xs.toArray), ArrayData.toArrayData(ys.toArray))
  }

  private val big = 1e6 // a square far larger than any test circle
  private val sqXs = Seq(-big, big, big, -big)
  private val sqYs = Seq(-big, -big, big, big)

  test("circle fully inside polygon → π r²") {
    val a = area(0, 0, 100, sqXs, sqYs)
    assert(math.abs(a - math.Pi * 1e4) < 1e-6)
  }

  test("polygon fully inside circle → polygon area") {
    val a = area(0, 0, 1000, Seq(0, 30, 0), Seq(0, 0, 40))
    assert(math.abs(a - 600.0) < 1e-9)
    // orientation-independent (ST_Area semantics)
    val b = area(0, 0, 1000, Seq(0, 0, 30), Seq(0, 40, 0))
    assert(math.abs(b - 600.0) < 1e-9)
  }

  test("circle centered on polygon corner → quarter disk") {
    val a = area(-big, -big, 50, sqXs, sqYs)
    assert(math.abs(a - math.Pi * 2500 / 4) < 1e-6)
  }

  test("circle centered on polygon edge → half disk") {
    val a = area(0, -big, 80, sqXs, sqYs)
    assert(math.abs(a - math.Pi * 6400 / 2) < 1e-6)
  }

  test("disjoint circle and polygon → 0") {
    val a = area(0, 0, 10, Seq(100, 130, 100), Seq(100, 100, 140))
    assert(math.abs(a) < 1e-9)
  }

  test("chord case: circle overlapping one edge matches the segment formula") {
    // disk center (0, d) above the top edge y=0 of a huge square below:
    // intersection = circular segment below the line y=0.
    val d = 30.0; val r = 50.0
    val xs = Seq(-big, big, big, -big)
    val ys = Seq(0.0, 0.0, -big, -big)
    val a = area(0, d, r, xs, ys)
    // segment area for half-angle θ = acos(d/r)
    val th = math.acos(d / r)
    val expect = r * r * th - d * r * math.sin(th)
    assert(math.abs(a - expect) < 1e-6, s"$a vs $expect")
  }

  test("ring-set clipped area: outer minus holes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // outer 100x100 square with a 20x20 hole at its center
    val rings = Seq((
      Seq(Seq(0.0, 100.0, 100.0, 0.0), Seq(40.0, 60.0, 60.0, 40.0)),
      Seq(Seq(0.0, 0.0, 100.0, 100.0), Seq(40.0, 40.0, 60.0, 60.0))))
      .toDF("rxs", "rys")
    def clipped(cx: Double, cy: Double, r: Double): Double =
      rings.select(graft.geo.Polygons.clippedAreaRings(
        lit(cx), lit(cy), lit(r), col("rxs"), col("rys")))
        .head().getDouble(0)
    // circle containing the whole polygon: area = outer - hole
    assert(math.abs(clipped(50, 50, 1000) - (10000.0 - 400.0)) < 1e-6)
    // circle fully inside the hole: nothing of the polygon is covered
    assert(math.abs(clipped(50, 50, 8)) < 1e-6)
    // circle inside the solid part (between hole and outer): pi r^2
    assert(math.abs(clipped(15, 15, 10) - math.Pi * 100) < 1e-6)
    // circle centered at hole center, radius past the hole: pi r^2 - hole
    assert(math.abs(clipped(50, 50, 30) - (math.Pi * 900 - 400.0)) < 1e-6)
    // no holes: degenerates to the plain clipped area
    val solo = Seq((Seq(Seq(0.0, 100.0, 100.0, 0.0)),
      Seq(Seq(0.0, 0.0, 100.0, 100.0)))).toDF("rxs", "rys")
    val a = solo.select(graft.geo.Polygons.clippedAreaRings(
      lit(50), lit(50), lit(10), col("rxs"), col("rys")))
      .head().getDouble(0)
    assert(math.abs(a - math.Pi * 100) < 1e-6)
  }

  test("Monte-Carlo cross-check on random triangles and circles") {
    val rnd = new scala.util.Random(20260812)
    val samples = 200000
    (1 to 20).foreach { _ =>
      val xs = Seq.fill(3)(rnd.nextDouble() * 200 - 100)
      val ys = Seq.fill(3)(rnd.nextDouble() * 200 - 100)
      val cx = rnd.nextDouble() * 200 - 100
      val cy = rnd.nextDouble() * 200 - 100
      val r = rnd.nextDouble() * 80 + 5
      val exact = area(cx, cy, r, xs, ys)
      // sample the circle's bounding square; estimate disk∩triangle
      var hits = 0
      var i = 0
      while (i < samples) {
        val px = cx + (rnd.nextDouble() * 2 - 1) * r
        val py = cy + (rnd.nextDouble() * 2 - 1) * r
        val inCircle = (px - cx) * (px - cx) + (py - cy) * (py - cy) <= r * r
        if (inCircle && triContains(xs, ys, px, py)) hits += 1
        i += 1
      }
      val boxArea = 4.0 * r * r
      val est = boxArea * hits / samples
      val p = est / boxArea
      val sigma = boxArea * math.sqrt(p * (1 - p) / samples)
      // floor covers sliver intersections the sampler can miss
      // entirely (≲5 expected hits ⇒ Poisson, not normal)
      val floor = boxArea * 5.0 / samples
      assert(math.abs(exact - est) < 5 * sigma + floor,
        s"exact=$exact est=$est sigma=$sigma circle=($cx,$cy,$r) xs=$xs ys=$ys")
    }
  }

  private def triContains(xs: Seq[Double], ys: Seq[Double],
                          px: Double, py: Double): Boolean = {
    def cross(ax: Double, ay: Double, bx: Double, by: Double) =
      (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    val d1 = cross(xs(0), ys(0), xs(1), ys(1))
    val d2 = cross(xs(1), ys(1), xs(2), ys(2))
    val d3 = cross(xs(2), ys(2), xs(0), ys(0))
    (d1 >= 0 && d2 >= 0 && d3 >= 0) || (d1 <= 0 && d2 <= 0 && d3 <= 0)
  }

  test("SQL surface with mistyped (integer) literals casts implicitly") {
    val rows = spark.sql(
      """SELECT clipped_polygon_area(0, 0, 1000, array(0.0, 30.0, 0.0),
        |                            array(0.0, 0.0, 40.0)) AS a,
        |       clipped_segment_length(0, 0, 10, -100, 0, 100, 0) AS l,
        |       hilbert_index(3, 4, 10) AS h,
        |       point_in_polygon(1, 1, array(0.0, 4.0, 0.0),
        |                        array(0.0, 0.0, 4.0)) AS inside,
        |       normalize_text(12345) AS t
        |""".stripMargin).collect()
    val Row(a: Double, l: Double, h: Long, inside: Boolean, t: String) = rows(0)
    assert(math.abs(a - 600.0) < 1e-9)
    assert(math.abs(l - 20.0) < 1e-12)
    assert(h == HilbertMath.xy2d(10, 3, 4))
    assert(inside)
    assert(t == "12345")
  }
}
