package graft.geo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact buffer∩polygon area statistics — the precise geometry of the
  * reference's Landuse / IntersectingOA calculators
  * (ST_Area(ST_Intersection(polygon, ST_Buffer(point, r))), reference
  * duckpipe/calculator/LanduseCalculator.py:116-117), computed by the
  * native ClippedPolygonArea expression instead of the cell-area
  * approximation in BufferStats.
  *
  * Polygons: (poly_id, xs, ys) vertex-array rings, bucketed by their
  * first vertex into cells of (maxRadius + maxVertexDist) so the 3×3
  * neighborhood provably covers every polygon whose disk intersection
  * can be non-empty (`maxVertexDist` bounds the distance from the
  * anchor vertex to any other vertex).
  */
object AreaClip {

  def areaExact(points: DataFrame, polys: DataFrame,
                radii: Seq[Double], maxVertexDist: Double): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cell = radii.max + maxVertexDist
    val offsets = Seq(-1L, 0L, 1L)
      .flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy))).toDF("dx", "dy")
    val ps = polys
      .withColumn("ck", Geo.cellKey(
        Geo.cellOf(col("xs")(0), cell), Geo.cellOf(col("ys")(0), cell)))
    val joined = Geo.fanout(points)
      .join(broadcast(offsets))
      .withColumn("ck", Geo.cellKey(
        Geo.cellOf(col("x"), cell) + col("dx"),
        Geo.cellOf(col("y"), cell) + col("dy")))
      .join(ps, Seq("ck"))
      // cheap exact prefilters before the trig-heavy expression:
      // (1) anchor vertex within cell = maxRadius + maxVertexDist
      // (the 3×3 cell box keeps ~3× more);
      .filter(Geo.dist2(col("x"), col("y"), col("xs")(0), col("ys")(0))
        < lit(cell * cell))
      // (2) circle-vs-bbox: the disk can only intersect the polygon if
      // it reaches the polygon's bounding box — pairs failing this
      // contribute exactly 0 to every radius's sum, so dropping them
      // is exact and removes ~2/3 of the expression evaluations
      .filter {
        val r = radii.max
        val dx = greatest(array_min(col("xs")) - col("x"),
          col("x") - array_max(col("xs")), lit(0.0))
        val dy = greatest(array_min(col("ys")) - col("y"),
          col("y") - array_max(col("ys")), lit(0.0))
        dx * dx + dy * dy < lit(r * r)
      }
    val aggs = radii.map { r =>
      val area = call_function("clipped_polygon_area",
        col("x"), col("y"), lit(r), col("xs"), col("ys"))
      // decimal-routed sum at cm² granularity: the per-pair areas carry
      // ulp-level cross-engine trig differences (atan2), which the
      // 1e-2 quantization absorbs; summation order is then moot
      sum(area.cast(DecimalType(18, 2))).cast("double").as(s"A_${r.toInt}")
    }
    val agged = joined.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val perRadius = radii.map(r =>
      struct(lit(r).as("radius"),
        coalesce(col(s"A_${r.toInt}"), lit(0.0)).as("A")))
    points.select("id")
      .join(agged, Seq("id"), "left")
      .select(col("id"), explode(array(perRadius: _*)).as("s"))
      .select(col("id"), col("s.radius").as("radius"), col("s.A").as("A"))
  }
}
