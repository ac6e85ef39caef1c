package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Polygon coordinate modes — the reference CoordinateCalculator's
  * centroid / point-on-surface outputs for polygon inputs
  * (duckpipe/calculator/CoordinateCalculator.py:13-14: ST_Centroid,
  * ST_PointOnSurface). Vertex-array polygons (xs, ys), plain column
  * arithmetic in whole-stage codegen.
  */
object Polygons {

  /** Signed double area (shoelace) of an n-gon given as coordinate
    * array columns; terms in ring order so the oracle can mirror the
    * exact operation sequence. */
  def signedArea2(xs: Column, ys: Column, n: Int): Column =
    (0 until n).map { i =>
      val j = (i + 1) % n
      xs(i) * ys(j) - xs(j) * ys(i)
    }.reduce(_ + _)

  /** Area-weighted centroid of an n-gon (exact shoelace formula);
    * orientation-independent (the signed area cancels). Returns
    * struct(cx, cy). */
  def centroid(xs: Column, ys: Column, n: Int): Column = {
    val a2 = signedArea2(xs, ys, n)
    def weighted(v: Column): Column =
      (0 until n).map { i =>
        val j = (i + 1) % n
        (v(i) + v(j)) * (xs(i) * ys(j) - xs(j) * ys(i))
      }.reduce(_ + _) / (lit(3.0) * a2)
    struct(weighted(xs).as("cx"), weighted(ys).as("cy"))
  }

  /** Even-odd containment over a RING SET (outer + holes, the real
    * landuse/OA shape — duckpipe/calculator/LanduseCalculator.py:99-157
    * polygons routinely carry interior rings): a point is inside when
    * an odd number of rings contain it, which is exactly the even-odd
    * rule extended ring-wise (inside outer, outside holes; islands in
    * holes compose for free). rxs/rys are ARRAY<ARRAY<DOUBLE>> with
    * ring 1 = outer; pure HOF composition over the native ray-cast
    * expression — no new kernel. Session needs GraftFunctions. */
  def containsRings(px: Column, py: Column, rxs: Column, rys: Column): Column =
    size(filter(zip_with(rxs, rys, (xa, ya) =>
      call_function("point_in_polygon", px, py, xa, ya)), b => b)) % 2 === 1

  /** Exact circle∩(outer − holes) area: the clipped outer minus every
    * clipped hole (valid for holes inside the outer ring, the WKT
    * contract). Composes the native clipped_polygon_area expression
    * over the ring set. */
  def clippedAreaRings(cx: Column, cy: Column, r: Column,
                       rxs: Column, rys: Column): Column = {
    val outer = call_function("clipped_polygon_area", cx, cy, r,
      element_at(rxs, 1), element_at(rys, 1))
    val holes = zip_with(
      slice(rxs, lit(2), size(rxs) - 1), slice(rys, lit(2), size(rys) - 1),
      (hx, hy) => call_function("clipped_polygon_area", cx, cy, r, hx, hy))
    outer - aggregate(holes, lit(0.0), (acc, a) => acc + a)
  }

  /** Point-on-surface: the centroid when it falls inside (always, for
    * convex rings), else the first vertex — a guaranteed-on-boundary
    * fallback mirroring the spirit of ST_PointOnSurface's "some point
    * of the geometry". Uses the native point_in_polygon expression. */
  def pointOnSurface(df: DataFrame, xsCol: String, ysCol: String,
                     n: Int): DataFrame = {
    val c = centroid(col(xsCol), col(ysCol), n)
    df.withColumn("_c", c)
      .withColumn("_in", call_function("point_in_polygon",
        col("_c.cx"), col("_c.cy"), col(xsCol), col(ysCol)))
      .withColumn("pos_x", when(col("_in"), col("_c.cx"))
        .otherwise(col(xsCol)(0)))
      .withColumn("pos_y", when(col("_in"), col("_c.cy"))
        .otherwise(col(ysCol)(0)))
      .drop("_c")
  }
}
