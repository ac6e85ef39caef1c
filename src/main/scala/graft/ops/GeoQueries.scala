package graft.ops

import graft.{QueryDef, Tables}
import graft.geo._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked bindings of the geo operator library (SURVEY.md §2,
  * "Core pipeline" rows) to the deterministic derived geometries.
  * Every double that reaches the oracle boundary is either exact
  * (integer-valued sums, min of identical expressions) or a single
  * deterministic IEEE operation — no rounding needed anywhere.
  */
object GeoQueries {

  private val pts = s"pts AS (${Derive.pointsSql})"
  private val st = s"st AS (${Derive.sitesSql})"
  private val f = s"f AS (${Derive.featsSql})"
  private def d2(p: String, q: String) =
    s"(($p.x-$q.x)*($p.x-$q.x)+($p.y-$q.y)*($p.y-$q.y))"

  // ---- nearest distance (broadcast strategy) -------------------------
  def nearest(s: SparkSession, dir: String): DataFrame =
    NearestDistance.broadcastNearest(Derive.points(s, dir), Derive.sites(s, dir))
      .orderBy("id")

  val nearestSql: String = s"""
    WITH $pts, $st
    SELECT p.id, MIN(sqrt(${d2("p", "s")})) AS distance
    FROM pts p CROSS JOIN st s
    GROUP BY p.id ORDER BY p.id"""

  // ---- fused multi-class nearest distance ----------------------------
  /** The reference runs one *DistanceCalculator per feature table — ten
    * separate passes over the points (airport/bus/coastline/…; e.g.
    * reference duckpipe/calculator/AirportDistanceCalculator.py:38-57,
    * same template per class). graft fuses the family: tag each feature
    * with its class, broadcast the union once, and resolve EVERY
    * nearest-distance variable in a single scan — one conditional min
    * per class inside one map-side-combined hash aggregate. At 100 TB
    * that is 1 pass over the point table instead of 10. */
  def nearestAll(s: SparkSession, dir: String): DataFrame = {
    val st = broadcast(Derive.sites(s, dir)
      .select((col("id") % 5).as("cls"),
        col("x").as("fx"), col("y").as("fy")))
    val dist = Geo.dist(col("x"), col("y"), col("fx"), col("fy"))
    def cmin(k: Int) = min(when(col("cls") === k, dist))
    Derive.points(s, dir).join(st)
      .groupBy("id")
      .agg(cmin(0).as("d_airport"), cmin(1).as("d_bus"),
        cmin(2).as("d_port"), cmin(3).as("d_rail"), cmin(4).as("d_road"))
      .orderBy("id")
  }

  val nearestAllSql: String = s"""
    WITH $pts, $st
    SELECT p.id,
           MIN(CASE WHEN s.id % 5 = 0 THEN sqrt(${d2("p", "s")}) END) AS d_airport,
           MIN(CASE WHEN s.id % 5 = 1 THEN sqrt(${d2("p", "s")}) END) AS d_bus,
           MIN(CASE WHEN s.id % 5 = 2 THEN sqrt(${d2("p", "s")}) END) AS d_port,
           MIN(CASE WHEN s.id % 5 = 3 THEN sqrt(${d2("p", "s")}) END) AS d_rail,
           MIN(CASE WHEN s.id % 5 = 4 THEN sqrt(${d2("p", "s")}) END) AS d_road
    FROM pts p CROSS JOIN st s
    GROUP BY p.id ORDER BY p.id"""

  // ---- per-year nearest distance -------------------------------------
  /** The reference loops calculator × year — each year is a separate
    * DuckDB pass over every chunk (e.g. AirportDistanceCalculator.py
    * iterates its year list, re-querying the feature table per year).
    * graft makes `year` a GROUPING COLUMN (SURVEY §3): sites carry
    * their survey year, and one broadcast pass resolves the minimum
    * distance for every (id, year) cell — N years cost one scan of
    * the point table, not N. */
  def nearestYear(s: SparkSession, dir: String): DataFrame = {
    val st = broadcast(Derive.sites(s, dir)
      .select((col("id") % 3 + 2019).as("year"),
        col("x").as("fx"), col("y").as("fy")))
    // fanout FIRST: the points scan of a small parquet arrives as ONE
    // partition, and without it the broadcast pair explosion + partial
    // aggregate run on a single task — invisible at sf0.1 (1.8 CPU-s)
    // but 88 s wall ≈ 95 s CPU at the 10× scale bench (round-16 find)
    Tables.fanout(Derive.points(s, dir)).join(st)
      .groupBy("id", "year")
      .agg(min(Geo.dist(col("x"), col("y"), col("fx"), col("fy")))
        .as("distance"))
      .orderBy("id", "year")
  }

  val nearestYearSql: String = s"""
    WITH $pts, $st
    SELECT p.id, s.id % 3 + 2019 AS year,
           MIN(sqrt(${d2("p", "s")})) AS distance
    FROM pts p CROSS JOIN st s
    GROUP BY 1, 2 ORDER BY p.id, year"""

  // ---- bearing to nearest feature ------------------------------------
  /** Direction-to-nearest: each point's nearest site plus the compass
    * bearing toward it — exposure models use direction-to-road /
    * direction-to-source alongside plain distance. The argmin is ONE
    * hash aggregate over a PRIMITIVE packed long (d² quantized to the
    * 0.1 m² grid, ×2²¹, + site id — a struct min here regressed to
    * SortAggregate sorting the whole point×site candidate space, the
    * dedup_keep_best trap; ties at equal quantized distance break on
    * site id, mirrored exactly in the oracle). The winning site's
    * coordinates come back via a second broadcast of the tiny site
    * table, and the single atan2 rounds at 4 dp to absorb cross-engine
    * libm ulps (the geo_coordinate precedent). The points side is
    * fanned out BEFORE the broadcast join (the CLAUDE.md rule: a
    * small-file scan arrives as one partition, and the 15M-pair BNLJ +
    * partial aggregate would otherwise run on ~1 task), and the packed
    * key carries a loud range guard: sid must fit 21 bits and the
    * quantized d² must fit the remaining 42 (d ≤ ~6,600 km) — outside
    * that the argmin would silently mis-rank (DedupCluster precedent). */
  private[graft] val bearingPackedSql: String = {
    val ddSql = "((x - fx) * (x - fx) + (y - fy) * (y - fy))"
    s"""CASE WHEN sid >= 0 AND sid < 2097152
             AND round($ddSql * 100.0) < 4398046511104
        THEN CAST(round($ddSql * 100.0) AS BIGINT) * 2097152 + sid
        ELSE raise_error(concat(
          'geo_bearing: sid/d2 outside packable range: sid=',
          CAST(sid AS STRING))) END"""
  }

  def bearingNearest(s: SparkSession, dir: String): DataFrame = {
    val st = broadcast(Derive.sites(s, dir)
      .select(col("id").as("sid"), col("x").as("fx"), col("y").as("fy")))
    val packed = expr(bearingPackedSql)
    Tables.fanout(Derive.points(s, dir)).join(st)
      .groupBy("id")
      .agg(min(packed).as("p"),
        first("x").as("x"), first("y").as("y"))
      .select(col("id"), expr("p % 2097152").as("nearest_site"),
        col("x"), col("y"))
      .join(st, col("nearest_site") === col("sid"))
      .select(col("id"), col("nearest_site"),
        round(sqrt((col("x") - col("fx")) * (col("x") - col("fx")) +
          (col("y") - col("fy")) * (col("y") - col("fy"))), 4)
          .as("distance"),
        round(atan2(col("fy") - col("y"), col("fx") - col("x"))
          * lit(180.0) / lit(math.Pi), 4).as("bearing_deg"))
      .orderBy("id")
  }

  val bearingNearestSql: String = s"""
    WITH $pts, $st,
    r AS (
      SELECT p.id, p.x, p.y, s.id AS sid, s.x AS fx, s.y AS fy,
             ${d2("p", "s")} AS dd,
             ROW_NUMBER() OVER (PARTITION BY p.id
               ORDER BY CAST(round(${d2("p", "s")} * 100.0) AS BIGINT)
                          * 2097152 + s.id) AS rn
      FROM pts p CROSS JOIN st s)
    SELECT id, sid AS nearest_site,
           ROUND(sqrt(dd), 4) AS distance,
           ROUND(atan2(fy - y, fx - x) * 180.0 / pi(), 4) AS bearing_deg
    FROM r WHERE rn = 1 ORDER BY id"""

  // ---- inverse-distance-weighted interpolation -----------------------
  /** IDW surface interpolation — the air-quality-domain operation the
    * reference's exposure models feed (estimate a field value at every
    * point from monitoring-site readings): regularized weights
    * w = 1/(d² + 1) over sites within 1 km (the +1 removes the
    * coincident-point pole without a branch), value = Σwv / Σw.
    * Broadcast the (small) site table, one map-side-combined hash
    * aggregate; per-term DECIMAL(28,12) quantization makes both the
    * numerator and denominator sums accumulation-order-proof, and the
    * final ratio is a single IEEE division — hash-exact. Points with
    * no site in range drop out (no fabricated values). Points are
    * fanned out before the broadcast join so the per-pair weight math
    * and the partial aggregate parallelize (see bearingNearest). */
  def idw(s: SparkSession, dir: String): DataFrame = {
    val st = broadcast(Derive.sites(s, dir)
      .select(col("x").as("fx"), col("y").as("fy"),
        ((col("id") % 97) + 1).cast("double").as("fv")))
    val dd = (col("x") - col("fx")) * (col("x") - col("fx")) +
      (col("y") - col("fy")) * (col("y") - col("fy"))
    val w = lit(1.0) / (dd + lit(1.0))
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    Tables.fanout(Derive.points(s, dir)).join(st)
      .filter(dd < lit(1000.0 * 1000.0))
      .select(col("id"), (w * col("fv")).as("wv"), w.as("w"))
      .groupBy("id")
      .agg(sum(col("wv").cast(dec)).cast("double").as("num"),
        sum(col("w").cast(dec)).cast("double").as("den"),
        count(lit(1)).as("n_sites"))
      .select(col("id"), col("n_sites"),
        round(col("num") / col("den"), 6).as("idw_value"))
      .orderBy("id")
  }

  val idwSql: String = s"""
    WITH $pts, $st,
    j AS (
      SELECT p.id,
             1.0 / (${d2("p", "s")} + 1.0) AS w,
             CAST(s.id % 97 + 1 AS DOUBLE) AS fv,
             ${d2("p", "s")} AS dd
      FROM pts p CROSS JOIN st s)
    SELECT id, COUNT(*) AS n_sites,
           ROUND(CAST(SUM(CAST(w * fv AS DECIMAL(28,12))) AS DOUBLE)
                 / CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE), 6)
             AS idw_value
    FROM j WHERE dd < 1000000.0
    GROUP BY id ORDER BY id"""

  // ---- point density raster ------------------------------------------
  /** Point-density raster — the point leg of the raster trio
    * (geo_rasterize = polygons, geo_line_density = lines): per G×G
    * cell, how many points fall inside and their centroid. One
    * integer floor-division per coordinate and ONE hash aggregate —
    * the cheapest possible raster product, and the primitive heat-map
    * layers are built from. Centroid components stay decimal-exact
    * (coordinates are 0.1 m-grid rationals, scale-1 decimal sums are
    * lossless). */
  def pointDensity(s: SparkSession, dir: String): DataFrame = {
    val g = 50.0
    val dec = org.apache.spark.sql.types.DecimalType(18, 1)
    Derive.points(s, dir)
      .groupBy(floor(col("x") / g).cast("long").as("ix"),
        floor(col("y") / g).cast("long").as("iy"))
      .agg(count(lit(1)).as("n_points"),
        (sum(col("x").cast(dec)).cast("double") / count(lit(1)))
          .as("cx"),
        (sum(col("y").cast(dec)).cast("double") / count(lit(1)))
          .as("cy"))
      .orderBy("ix", "iy")
  }

  val pointDensitySql: String = s"""
    WITH $pts
    SELECT CAST(floor(x / 50.0) AS BIGINT) AS ix,
           CAST(floor(y / 50.0) AS BIGINT) AS iy,
           COUNT(*) AS n_points,
           CAST(SUM(CAST(x AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS cx,
           CAST(SUM(CAST(y AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS cy
    FROM pts GROUP BY 1, 2 ORDER BY ix, iy"""

  // ---- nearest distance (grid strategy, same semantics) --------------
  def nearestGrid(s: SparkSession, dir: String): DataFrame =
    NearestDistance.gridNearest(
      Derive.points(s, dir),
      Derive.feats(s, dir).select("x", "y"), cellSize = 500.0)
      .orderBy("id")

  val nearestGridSql: String = s"""
    WITH $pts, $f
    SELECT p.id, MIN(sqrt(${d2("p", "f")})) AS distance
    FROM pts p CROSS JOIN f
    GROUP BY p.id ORDER BY p.id"""

  // ---- k nearest neighbors (duckpipe-plus) ---------------------------
  /** Grid-pruned: candidates from the expanding cell ring, so the
    * per-point window ranks a handful of rows instead of the
    * |points|×|sites| cross product (the 100 TB-safe plan). */
  def knn(s: SparkSession, dir: String): DataFrame =
    NearestDistance.gridKnn(Derive.points(s, dir), Derive.sites(s, dir),
      k = 3, cellSize = 500.0)
      .orderBy("id", "rank")

  val knnSql: String = s"""
    WITH $pts, $st,
    ranked AS (
      SELECT p.id, s.id AS fid, sqrt(${d2("p", "s")}) AS distance,
        ROW_NUMBER() OVER (PARTITION BY p.id
                           ORDER BY sqrt(${d2("p", "s")}), s.id) AS rank
      FROM pts p CROSS JOIN st s)
    SELECT id, rank, fid, distance
    FROM ranked WHERE rank <= 3 ORDER BY id, rank"""

  // ---- nearest LINESTRING distance (grid over segment bboxes) --------
  /** Point-to-LINE nearest distance — the reference's heaviest
    * calculator family (road/river/coastline/MDL distances are
    * `MIN(ST_Distance(point, line_geometry))` against LINE features,
    * reference duckpipe/calculator/RoadDistanceCalculator.py:46-60).
    * Distance to the GEOMETRY via the clamped projection
    * (`Geo.segDist`), not to its vertices — vertex distance OVERSTATES
    * whenever the foot of the perpendicular falls inside a segment.
    * Grid-pruned over segment bboxes (`gridNearestSegments`); oracle =
    * exhaustive cross join of the identical IEEE formula. */
  def nearestLine(s: SparkSession, dir: String): DataFrame =
    NearestDistance.gridNearestSegments(
      Derive.points(s, dir), Derive.segments(s, dir), cellSize = 500.0)
      .orderBy("id")

  /** Exhaustive clamped-projection oracle tail over any (x1,y1,x2,y2)
    * segment CTE — shared by the derived-segment and WKT-ingest
    * bindings (identical IEEE order to `Geo.segDist`). */
  private def segNearestSqlTail(segCte: String): String = s"""
    j AS (
      SELECT p.id, p.x, p.y, s.x1, s.y1,
             s.x2 - s.x1 AS dx, s.y2 - s.y1 AS dy
      FROM pts p CROSS JOIN ($segCte) s),
    k AS (
      SELECT id, x, y, x1, y1, dx, dy,
             CASE WHEN dx*dx + dy*dy = 0.0 THEN 0.0
                  ELSE GREATEST(0.0, LEAST(1.0,
                    ((x-x1)*dx + (y-y1)*dy) / (dx*dx + dy*dy))) END AS tc
      FROM j)
    SELECT id,
           MIN(sqrt((x-(x1+tc*dx))*(x-(x1+tc*dx))
                  + (y-(y1+tc*dy))*(y-(y1+tc*dy)))) AS distance
    FROM k GROUP BY id ORDER BY id"""

  val nearestLineSql: String = s"""
    WITH $pts, seg AS (${Derive.segmentsSql}),
    ${segNearestSqlTail("SELECT * FROM seg")}"""

  /** The same nearest-LINE distance with the line features entering as
    * LINESTRING WKT end-to-end (the geo_pipeline_wkt precedent): the
    * polyline table serializes to `LINESTRING (…)` text, re-ingests
    * through `Wkt.lines` (shortest-round-trip doubles — parse∘format
    * is bit-exact), explodes to consecutive-vertex segments
    * (`Wkt.lineSegments`, the road-geometry ingest of
    * RoadLLWCalculator.py:73-80), and feeds the identical grid
    * ring-ladder — certifying the segment-distance operator INSIDE the
    * composed WKT pipeline. */
  def nearestLineWkt(s: SparkSession, dir: String): DataFrame = {
    val asWkt = Tables.fanout(Derive.polylines(s, dir)).select(col("fid"),
      Wkt.toWktLineString(col("xs"), col("ys")).as("wkt"))
    val segs = Wkt.lineSegments(Wkt.lines(asWkt, "wkt"))
      .select("x1", "y1", "x2", "y2")
    NearestDistance.gridNearestSegments(
      Derive.points(s, dir), segs, cellSize = 500.0)
      .orderBy("id")
  }

  val nearestLineWktSql: String = s"""
    WITH $pts, pl AS (${Derive.polylinesSql}),
    idx AS (
      SELECT fid, xs, ys, unnest(generate_series(1, len(xs) - 1)) AS i
      FROM pl),
    ${segNearestSqlTail(
      "SELECT xs[i] AS x1, ys[i] AS y1, xs[i+1] AS x2, ys[i+1] AS y2 FROM idx")}"""

  // ---- feature counts within buffers ---------------------------------
  /** The reference checklist's "Bus Stop Count / Hospital Count /
    * Population Count" family (reference checklist.md) — count-within-
    * radius is lineStats with unit weight. */
  def bufferCount(s: SparkSession, dir: String): DataFrame =
    BufferStats.lineStats(
      Derive.points(s, dir), Derive.feats(s, dir), Seq(500.0, 1500.0),
      Seq("n_sites" -> lit(1.0)))
      .orderBy("id", "radius")

  val bufferCountSql: String = s"""
    WITH $pts, $f,
    radii AS (SELECT * FROM (VALUES (500.0), (1500.0)) t(radius))
    SELECT p.id, r.radius,
      SUM(CASE WHEN ${d2("p", "f")} < r.radius*r.radius THEN 1.0 ELSE 0.0 END) AS n_sites
    FROM pts p CROSS JOIN radii r CROSS JOIN f
    GROUP BY p.id, r.radius ORDER BY p.id, r.radius"""

  // ---- buffer line stats (Road L/LL/LLW) -----------------------------
  def bufferLine(s: SparkSession, dir: String): DataFrame =
    BufferStats.lineStats(
      Derive.points(s, dir), Derive.feats(s, dir), Seq(500.0, 1500.0),
      Seq("L" -> col("weight"),
          "LL" -> (col("weight") * col("lanes")),
          "LLW" -> (col("weight") * col("lanes") * col("width"))))
      .orderBy("id", "radius")

  val bufferLineSql: String = s"""
    WITH $pts, $f,
    radii AS (SELECT * FROM (VALUES (500.0), (1500.0)) t(radius))
    SELECT p.id, r.radius,
      SUM(CASE WHEN ${d2("p", "f")} < r.radius*r.radius THEN f.weight ELSE 0.0 END) AS L,
      SUM(CASE WHEN ${d2("p", "f")} < r.radius*r.radius THEN f.weight*f.lanes ELSE 0.0 END) AS LL,
      SUM(CASE WHEN ${d2("p", "f")} < r.radius*r.radius THEN f.weight*f.lanes*f.width ELSE 0.0 END) AS LLW
    FROM pts p CROSS JOIN radii r CROSS JOIN f
    GROUP BY p.id, r.radius ORDER BY p.id, r.radius"""

  // ---- landuse area/proportion per code ------------------------------
  def areaRatio(s: SparkSession, dir: String): DataFrame =
    BufferStats.areaRatio(
      Derive.points(s, dir), Derive.feats(s, dir), Seq(500.0, 1500.0))
      .orderBy("id", "code", "radius")

  val areaRatioSql: String = s"""
    WITH $pts, $f,
    radii AS (SELECT * FROM (VALUES (500.0), (1500.0)) t(radius))
    SELECT p.id, f.code, r.radius,
      SUM(CASE WHEN ${d2("p", "f")} < r.radius*r.radius THEN f.area ELSE 0.0 END) AS a,
      SUM(CASE WHEN ${d2("p", "f")} < r.radius*r.radius THEN f.area ELSE 0.0 END)
        / (pi() * r.radius * r.radius) AS p
    FROM pts p CROSS JOIN radii r CROSS JOIN f
    GROUP BY p.id, f.code, r.radius ORDER BY p.id, f.code, r.radius"""

  // ---- output-area intersection ratio --------------------------------
  def intersectOa(s: SparkSession, dir: String): DataFrame =
    BufferStats.intersectRatio(
      Derive.points(s, dir), Derive.feats(s, dir), Seq(800.0))
      .orderBy("id", "key", "radius")

  val intersectOaSql: String = s"""
    WITH $pts, $f,
    radii AS (SELECT * FROM (VALUES (800.0)) t(radius)),
    pairs AS (
      SELECT p.id, f.key, r.radius,
        SUM(CASE WHEN ${d2("p", "f")} < r.radius*r.radius THEN f.area ELSE 0.0 END) AS a
      FROM pts p CROSS JOIN radii r CROSS JOIN f
      GROUP BY p.id, f.key, r.radius),
    tot AS (SELECT key, SUM(area) AS total_area FROM f GROUP BY key)
    SELECT pairs.id, pairs.key, pairs.radius, pairs.a / tot.total_area AS ratio
    FROM pairs JOIN tot ON pairs.key = tot.key
    WHERE pairs.a > 0
    ORDER BY pairs.id, pairs.key, pairs.radius"""

  // ---- relative elevation (donut rings) ------------------------------
  def relElev(s: SparkSession, dir: String): DataFrame =
    RelativeElevation.compute(
      Derive.points(s, dir),
      Derive.feats(s, dir).select("x", "y", "elev"),
      refRadius = 600.0, radii = Seq(1000.0), thickness = 300.0)
      .orderBy("id")

  val relElevSql: String = s"""
    WITH $pts, $f,
    cj AS (
      SELECT p.id, f.elev, ${d2("p", "f")} AS dd
      FROM pts p CROSS JOIN f),
    ref AS (
      SELECT id, SUM(elev)/COUNT(*) AS ref_elev
      FROM cj WHERE dd < 360000.0 GROUP BY id)
    SELECT cj.id,
      SUM(CASE WHEN dd >= 1000000.0 AND dd < 1690000.0 AND elev - ref_elev > 20.0 THEN 1 ELSE 0 END)
        / NULLIF(SUM(CASE WHEN dd >= 1000000.0 AND dd < 1690000.0 THEN 1 ELSE 0 END), 0) AS above20_1000,
      SUM(CASE WHEN dd >= 1000000.0 AND dd < 1690000.0 AND elev - ref_elev < -20.0 THEN 1 ELSE 0 END)
        / NULLIF(SUM(CASE WHEN dd >= 1000000.0 AND dd < 1690000.0 THEN 1 ELSE 0 END), 0) AS below20_1000,
      SUM(CASE WHEN dd >= 1000000.0 AND dd < 1690000.0 AND elev - ref_elev > 50.0 THEN 1 ELSE 0 END)
        / NULLIF(SUM(CASE WHEN dd >= 1000000.0 AND dd < 1690000.0 THEN 1 ELSE 0 END), 0) AS above50_1000,
      SUM(CASE WHEN dd >= 1000000.0 AND dd < 1690000.0 AND elev - ref_elev < -50.0 THEN 1 ELSE 0 END)
        / NULLIF(SUM(CASE WHEN dd >= 1000000.0 AND dd < 1690000.0 THEN 1 ELSE 0 END), 0) AS below50_1000,
      FIRST(ref_elev) AS ref_elev
    FROM cj JOIN ref ON cj.id = ref.id
    GROUP BY cj.id ORDER BY cj.id"""

  // ---- raster value at point (DEM/DSM Raster Value) ------------------
  /** The reference checklist's "DEM Raster Value / DSM Raster Value"
    * rows: the value at each point = mean of the raster cells whose
    * envelope contains the point (duckpipe's ref_elevation join —
    * RelativeElevationCalculator.py:91-98 — is point-vs-cell-envelope
    * ST_Intersects; overlapping cells average). Cells here are box
    * envelopes of half-size 300 m around the feat centers. The grid
    * join's ±k cell ring covers the Chebyshev ball of the reach, so
    * the box test is a filter over the same one-join candidates the
    * circular operators use — no new join strategy needed. */
  def rasterValue(s: SparkSession, dir: String): DataFrame = {
    val h = 300.0
    val agged = BufferStats.neighborJoin(
        Derive.points(s, dir),
        Derive.feats(s, dir).select("x", "y", "elev"), reach = h)
      .filter(abs(col("x") - col("fx")) <= h && abs(col("y") - col("fy")) <= h)
      .groupBy("id")
      // count(elev), not count(*): the oracle's COUNT(f.elev) skips
      // NULL elevations — mirror it so a NULL cell can't diverge us
      .agg((sum(col("elev")) / count(col("elev"))).as("raster_value"),
        count(col("elev")).as("n_cells"))
    Derive.points(s, dir).select("id")
      .join(agged, Seq("id"), "left")
      .select(col("id"), col("raster_value"),
        coalesce(col("n_cells"), lit(0L)).as("n_cells"))
      .orderBy("id")
  }

  val rasterValueSql: String = s"""
    WITH $pts, $f
    SELECT p.id,
      SUM(f.elev) / COUNT(f.elev) AS raster_value,
      COUNT(f.elev) AS n_cells
    FROM pts p LEFT JOIN f
      ON abs(p.x - f.x) <= 300.0 AND abs(p.y - f.y) <= 300.0
    GROUP BY p.id ORDER BY p.id"""

  // ---- zonal raster statistics (NDVI Statistics checklist row) -------
  /** The reference checklist's "NDVI Statistics" row
    * (checklist.md:23): zonal min/max/mean/stddev of raster cells
    * within each point's buffer — the stats beyond the point-cell mean
    * `geo_raster_value` covers. Same one-grid-join candidate set as the
    * circular buffer family. Stddev derives from (n, Σz, Σz²): the
    * cell values are integer-valued doubles, so the sums are exact
    * (associative below 2^53) and the final doubles are IEEE-identical
    * cross-engine — the hash gate holds without rounding. The
    * `greatest(0, ·)` clamp kills the −ε a zero-variance group can
    * produce in floating point; both engines clamp identically. */
  def rasterZonal(s: SparkSession, dir: String): DataFrame = {
    val r = 500.0
    val agged = BufferStats.neighborJoin(
        Derive.points(s, dir),
        Derive.feats(s, dir).select("x", "y", "elev"), reach = r)
      .filter(col("_d2") < r * r)
      .groupBy("id")
      .agg(count(col("elev")).as("n_cells"),
        min(col("elev")).as("z_min"),
        max(col("elev")).as("z_max"),
        sum(col("elev")).as("zs"),
        sum(col("elev") * col("elev")).as("zss"))
    Derive.points(s, dir).select("id")
      .join(agged, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_cells"), lit(0L)).as("n_cells"),
        col("z_min"), col("z_max"),
        (col("zs") / col("n_cells")).as("z_mean"),
        when(col("n_cells") > 1,
          sqrt(greatest(lit(0.0),
            (col("zss") - col("zs") * col("zs") / col("n_cells"))
              / (col("n_cells") - 1)))).as("z_std"))
      .orderBy("id")
  }

  val rasterZonalSql: String = s"""
    WITH $pts, $f,
    cj AS (
      SELECT p.id, f.elev FROM pts p JOIN f ON ${d2("p", "f")} < 250000.0),
    agg AS (
      SELECT id, COUNT(elev) AS n_cells, MIN(elev) AS z_min,
             MAX(elev) AS z_max, SUM(elev) AS zs, SUM(elev * elev) AS zss
      FROM cj GROUP BY id)
    SELECT p.id, COALESCE(a.n_cells, 0) AS n_cells, a.z_min, a.z_max,
      a.zs / a.n_cells AS z_mean,
      CASE WHEN a.n_cells > 1 THEN
        sqrt(GREATEST(0.0, (a.zss - a.zs * a.zs / a.n_cells)
                             / (a.n_cells - 1)))
      END AS z_std
    FROM pts p LEFT JOIN agg a ON p.id = a.id
    ORDER BY p.id"""

  // ---- Z-order key (chunking replacement) ----------------------------
  def zorder(s: SparkSession, dir: String): DataFrame = {
    val c = graft.Tables.load(s, dir, "customer")
    c.select(col("c_custkey").as("id"),
        SpatialCurve.zKey(
          ((col("c_custkey") * 7919) % 100000) % 1024,
          ((col("c_custkey") * 104729) % 100000) % 1024).as("zkey"))
      .orderBy("id")
  }

  val zorderSql: String = """
    WITH base AS (
      SELECT c_custkey AS id,
             ((c_custkey * 7919) % 100000) % 1024 AS ix,
             ((c_custkey * 104729) % 100000) % 1024 AS iy
      FROM customer),
    s1 AS (SELECT id, ((ix | (ix << 8)) & 16711935) AS ax,
                      ((iy | (iy << 8)) & 16711935) AS ay FROM base),
    s2 AS (SELECT id, ((ax | (ax << 4)) & 252645135) AS ax,
                      ((ay | (ay << 4)) & 252645135) AS ay FROM s1),
    s3 AS (SELECT id, ((ax | (ax << 2)) & 858993459) AS ax,
                      ((ay | (ay << 2)) & 858993459) AS ay FROM s2),
    s4 AS (SELECT id, ((ax | (ax << 1)) & 1431655765) AS ax,
                      ((ay | (ay << 1)) & 1431655765) AS ay FROM s3)
    SELECT id, (ax | (ay << 1)) AS zkey FROM s4 ORDER BY id"""

  // ---- spatial clustering (chunk_by_centroid analog) -----------------
  /** Distributed stand-in for the reference's chunk_by_centroid
    * (scipy complete-linkage with a distance threshold,
    * Clustering.py:54-125): snap points to grid cells of the threshold
    * width — every point pair in a cluster is within √2·threshold,
    * the same coherence contract, with no driver-side linkage matrix.
    * Emits per-cluster membership counts + centroid.
    */
  def cluster(s: SparkSession, dir: String): DataFrame =
    Derive.points(s, dir)
      .withColumn("cluster",
        Geo.cellKey(Geo.cellOf(col("x"), 2000.0), Geo.cellOf(col("y"), 2000.0)))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        // coordinates are exact tenths — decimal-route the mean
        (sum(col("x").cast("decimal(18,1)")).cast("double") / count(lit(1)))
          .as("cx"),
        (sum(col("y").cast("decimal(18,1)")).cast("double") / count(lit(1)))
          .as("cy"))
      .orderBy("cluster")

  val clusterSql: String = s"""
    WITH $pts
    SELECT (CAST(floor(x / 2000.0) AS BIGINT) + 1048576) * 2097152
             + (CAST(floor(y / 2000.0) AS BIGINT) + 1048576) AS cluster,
           COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS cx,
           CAST(SUM(CAST(y AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS cy
    FROM pts
    GROUP BY 1 ORDER BY 1"""

  // ---- size-capped spatial clustering ---------------------------------
  /** The reference's chunk_by_centroid(max_cluster_size=…) semantics
    * (Clustering.py:54-125: linkage clusters over the distance
    * threshold cap are split into consecutive index chunks): grid cell
    * = the coherence contract (every pair within √2·threshold), then
    * consecutive id-ordered chunks of ≤ maxSize within each cell = the
    * cap. One window + one aggregation — no driver linkage matrix, and
    * the window partitions by cell so no global sort exists anywhere.
    */
  def clusterCapped(s: SparkSession, dir: String): DataFrame = {
    val maxSize = 10
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy("id")
    Derive.points(s, dir)
      .withColumn("cluster",
        Geo.cellKey(Geo.cellOf(col("x"), 2000.0), Geo.cellOf(col("y"), 2000.0)))
      .withColumn("chunk",
        floor((row_number().over(w) - 1) / maxSize).cast("long"))
      .groupBy("cluster", "chunk")
      .agg(count(lit(1)).as("n"),
        (sum(col("x").cast("decimal(18,1)")).cast("double") / count(lit(1)))
          .as("cx"),
        (sum(col("y").cast("decimal(18,1)")).cast("double") / count(lit(1)))
          .as("cy"))
      .orderBy("cluster", "chunk")
  }

  val clusterCappedSql: String = s"""
    WITH $pts,
    cells AS (
      SELECT id, x, y,
        (CAST(floor(x / 2000.0) AS BIGINT) + 1048576) * 2097152
          + (CAST(floor(y / 2000.0) AS BIGINT) + 1048576) AS cluster
      FROM pts),
    chunked AS (
      SELECT *, CAST((ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY id) - 1)
                     // 10 AS BIGINT) AS chunk
      FROM cells)
    SELECT cluster, chunk, COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS cx,
           CAST(SUM(CAST(y AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS cy
    FROM chunked
    GROUP BY cluster, chunk ORDER BY cluster, chunk"""

  /** The reference's chunk_by_order(max_cluster_size=…) twin
    * (Clustering.py:128-154): features in ORIGINAL (id) order, sliced
    * into consecutive chunks of ≤ maxSize; reported per chunk as size,
    * id range and centroid. A naive global ROW_NUMBER is a
    * single-partition sort — the distributed shape derives the global
    * rank from DETERMINISTIC id-range buckets (id DIV 4096): per-bucket
    * counts (one tiny aggregate) running-sum into bucket offsets,
    * broadcast back, and the rank window partitions BY BUCKET — the
    * only global state at any scale is one row per bucket, and the
    * offset window sorts that tiny table, never the data. */
  def chunkOrder(s: SparkSession, dir: String): DataFrame = {
    val maxSize = 10
    val pts = graft.Tables.fanout(Derive.points(s, dir))
      .withColumn("bkt", expr("id DIV 4096"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy("bkt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = pts.groupBy("bkt").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select("bkt", "off")
    val wRk = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy("id")
    pts.join(broadcast(offsets), "bkt")
      .withColumn("rk", row_number().over(wRk) + col("off"))
      .withColumn("chunk", expr(s"(rk - 1) DIV $maxSize"))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n"),
        min(col("id")).as("id_lo"), max(col("id")).as("id_hi"),
        (sum(col("x").cast("decimal(18,1)")).cast("double") / count(lit(1)))
          .as("cx"),
        (sum(col("y").cast("decimal(18,1)")).cast("double") / count(lit(1)))
          .as("cy"))
      .orderBy("chunk")
  }

  val chunkOrderSql: String = s"""
    WITH $pts,
    chunked AS (
      SELECT id, x, y,
        CAST((ROW_NUMBER() OVER (ORDER BY id) - 1) // 10 AS BIGINT) AS chunk
      FROM pts)
    SELECT chunk, COUNT(*) AS n,
           CAST(MIN(id) AS BIGINT) AS id_lo, CAST(MAX(id) AS BIGINT) AS id_hi,
           CAST(SUM(CAST(x AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS cx,
           CAST(SUM(CAST(y AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS cy
    FROM chunked GROUP BY chunk ORDER BY chunk"""

  // ---- Hilbert-curve key (native expression; reference hilbert chunking)
  def hilbert(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("id"),
        call_function("hilbert_index",
          ((col("c_custkey") * 7919) % 100000) % 1024,
          ((col("c_custkey") * 104729) % 100000) % 1024,
          lit(10L)).as("hkey"))
      .orderBy("id")
  }

  /** Unrolled 10-step rot/reflect walk, mirroring HilbertMath.xy2d. */
  val hilbertSql: String = {
    val steps = (9 to 0 by -1).map { k =>
      val sv = 1L << k
      s"""SELECT id, d + ${sv * sv} * xor(3 * (CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END),
                                          (CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END)) AS d,
        CASE WHEN (y & $sv) = 0 THEN
          (CASE WHEN (x & $sv) > 0 THEN $sv - 1 - y ELSE y END)
        ELSE x END AS x,
        CASE WHEN (y & $sv) = 0 THEN
          (CASE WHEN (x & $sv) > 0 THEN $sv - 1 - x ELSE x END)
        ELSE y END AS y"""
    }
    val ctes = steps.zipWithIndex.map { case (sel, i) =>
      val src = if (i == 0) "base" else s"h${i - 1}"
      s"h$i AS ($sel FROM $src)"
    }.mkString(",\n    ")
    s"""
    WITH base AS (
      SELECT c_custkey AS id,
             ((c_custkey * 7919) % 100000) % 1024 AS x,
             ((c_custkey * 104729) % 100000) % 1024 AS y,
             CAST(0 AS BIGINT) AS d
      FROM customer),
    $ctes
    SELECT id, d AS hkey FROM h9 ORDER BY id"""
  }

  // ---- polygon containment tagging (native ray-cast expression) ------
  /** Count of triangles containing each point. The ray-cast runs as the
    * native point_in_polygon expression; candidate pruning uses the
    * same grid cells as every other buffer operator (polygons bucketed
    * by first vertex; triangles span ≤ 600×400 m from their anchor (diag ≈ 721), reach 800 covers).
    */
  def polyTag(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val tris = Derive.triangles(s, dir)
      .select(col("poly_id"), col("xs"), col("ys"),
        col("xs")(0).as("x"), col("ys")(0).as("y"))
    val joined = BufferStats.neighborJoin(
      Derive.points(s, dir), tris, reach = 800.0)
    joined
      .withColumn("inside",
        call_function("point_in_polygon", col("x"), col("y"),
          col("xs"), col("ys")))
      .groupBy("id")
      .agg(sum(when(col("inside"), 1).otherwise(0)).cast("long").as("n_poly"))
      .filter(col("n_poly") > 0)
      .orderBy("id")
  }

  /** Oracle mirrors PolyMath.contains edge-for-edge (even-odd rule). */
  val polyTagSql: String = s"""
    WITH $pts, tris AS (${Derive.trianglesSql}),
    pairs AS (
      SELECT p.id,
        (len(list_filter(generate_series(1, len(t.xs)), i ->
          ((t.ys[i] > p.y) != (t.ys[CASE WHEN i = 1 THEN len(t.ys) ELSE i - 1 END] > p.y))
          AND p.x < (t.xs[CASE WHEN i = 1 THEN len(t.xs) ELSE i - 1 END] - t.xs[i])
                    * (p.y - t.ys[i])
                    / (t.ys[CASE WHEN i = 1 THEN len(t.ys) ELSE i - 1 END] - t.ys[i])
                    + t.xs[i])) % 2) = 1 AS inside
      FROM pts p CROSS JOIN tris t)
    SELECT id, CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_poly
    FROM pairs GROUP BY id
    HAVING SUM(CASE WHEN inside THEN 1 ELSE 0 END) > 0
    ORDER BY id"""

  // ---- holed polygons (interior rings) --------------------------------
  /** Containment tagging against HOLED polygons (ring sets): real
    * landuse/OA polygons carry interior rings
    * (LanduseCalculator.py:99-157) — a point inside a hole is NOT in
    * the polygon. Even-odd composes ring-wise
    * (Polygons.containsRings over the native ray-cast); candidate
    * pruning is the same grid as geo_poly_tag (the hole never extends
    * the outer ring's reach). */
  def polyTagHoled(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val polys = Derive.holedTriangles(s, dir)
      .select(col("poly_id"), col("rxs"), col("rys"),
        col("rxs")(0)(0).as("x"), col("rys")(0)(0).as("y"))
    BufferStats.neighborJoin(Derive.points(s, dir), polys, reach = 800.0)
      .withColumn("inside",
        Polygons.containsRings(col("x"), col("y"), col("rxs"), col("rys")))
      .groupBy("id")
      .agg(sum(when(col("inside"), 1).otherwise(0)).cast("long").as("n_poly"))
      .filter(col("n_poly") > 0)
      .orderBy("id")
  }

  /** Ray-cast predicate over one ring (mirrors PolyMath.contains
    * edge-for-edge, same text as polyTagSql). */
  private def raySql(px: String, py: String, xs: String, ys: String) = s"""
    (len(list_filter(generate_series(1, len($xs)), i ->
      (($ys[i] > $py) != ($ys[CASE WHEN i = 1 THEN len($ys) ELSE i - 1 END] > $py))
      AND $px < ($xs[CASE WHEN i = 1 THEN len($xs) ELSE i - 1 END] - $xs[i])
                * ($py - $ys[i])
                / ($ys[CASE WHEN i = 1 THEN len($ys) ELSE i - 1 END] - $ys[i])
                + $xs[i])) % 2) = 1"""

  val polyTagHoledSql: String = s"""
    WITH $pts, ht AS (${Derive.holedTrianglesSql}),
    pairs AS (
      SELECT p.id,
        (${raySql("p.x", "p.y", "t.rxs[1]", "t.rys[1]")}) !=
        (${raySql("p.x", "p.y", "t.rxs[2]", "t.rys[2]")}) AS inside
      FROM pts p CROSS JOIN ht t)
    SELECT id, CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_poly
    FROM pairs GROUP BY id
    HAVING SUM(CASE WHEN inside THEN 1 ELSE 0 END) > 0
    ORDER BY id"""

  /** Holed-POLYGON WKT ingest certified end-to-end (the geo_wkt_poly
    * pattern): serialize the ring sets to `POLYGON ((outer), (hole))`
    * text, re-ingest through `Wkt.polygonsRings`, and run the holed
    * containment tagging on the PARSED rings — against the unchanged
    * polyTagHoled oracle. */
  def wktHoledTag(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val spread = graft.Tables.fanout(Derive.holedTriangles(s, dir))
    val asWkt = spread.select(col("poly_id"),
      graft.geo.Wkt.toWktPolygonRings(col("rxs"), col("rys")).as("wkt"))
    val polys = graft.geo.Wkt.polygonsRings(asWkt, "wkt")
      .select(col("poly_id"), col("rxs"), col("rys"),
        col("rxs")(0)(0).as("x"), col("rys")(0)(0).as("y"))
    BufferStats.neighborJoin(Derive.points(s, dir), polys, reach = 800.0)
      .withColumn("inside",
        Polygons.containsRings(col("x"), col("y"), col("rxs"), col("rys")))
      .groupBy("id")
      .agg(sum(when(col("inside"), 1).otherwise(0)).cast("long").as("n_poly"))
      .filter(col("n_poly") > 0)
      .orderBy("id")
  }

  /** SESSION-FROZEN INPUT PREP (the docToks pattern): the synthetic
    * two-part MULTIPOLYGON text corpus — consecutive triangles paired
    * and rendered to `MULTIPOLYGON (((…)), ((…)))` strings once per
    * (session, dir). Building this text is test-input SYNTHESIS (a
    * real pipeline receives WKT from upstream; it never pays to
    * construct it), so it sits under the input-prep boundary; the
    * PARSE + centroid math that geo_wkt_multipoly certifies stays
    * headline work paid per run. */
  def multiPolyWktText(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frozen(s, ("geo.multiPolyWktText", dir)) {
      val t = graft.Tables.fanout(Derive.triangles(s, dir))
      val a = t.filter(col("poly_id") % 2 === 0)
        .select(col("poly_id").as("m_id"),
          col("xs").as("axs"), col("ys").as("ays"))
      val b = t.filter(col("poly_id") % 2 === 1)
        .select((col("poly_id") - 1).as("m_id"),
          col("xs").as("bxs"), col("ys").as("bys"))
      val parts = array(
        struct(array(col("axs")).as("rxs"), array(col("ays")).as("rys")),
        struct(array(col("bxs")).as("rxs"), array(col("bys")).as("rys")))
      graft.Artifacts.pin(a.join(b, Seq("m_id"))
        .select(col("m_id"),
          graft.geo.Wkt.toWktMultiPolygon(parts).as("wkt")))
    }

  /** MULTIPOLYGON WKT ingest certified end-to-end: pair consecutive
    * triangles into two-part `MULTIPOLYGON (((…)), ((…)))` text,
    * re-ingest through `Wkt.multiPolygons` (parts explode to rows),
    * and emit each part's exact shoelace centroid from the PARSED
    * rings — the oracle computes the same centroids straight from the
    * derivation with the same (m_id, part_idx) keys. */
  def wktMultiPoly(s: SparkSession, dir: String): DataFrame = {
    val asWkt = multiPolyWktText(s, dir)
    val parsed = graft.geo.Wkt.multiPolygons(asWkt, "wkt")
      .select(col("m_id"), col("part_idx"),
        col("rxs")(0).as("xs"), col("rys")(0).as("ys"))
    parsed
      .filter(Polygons.signedArea2(col("xs"), col("ys"), 3) =!= 0.0)
      .withColumn("c", Polygons.centroid(col("xs"), col("ys"), 3))
      .select(col("m_id"), col("part_idx"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
      .orderBy("m_id", "part_idx")
  }

  val wktMultiPolySql: String = s"""
    WITH tris AS (${Derive.trianglesSql}),
    keyed AS (
      SELECT poly_id - (poly_id % 2) AS m_id,
             CAST((poly_id % 2) + 1 AS INTEGER) AS part_idx, xs, ys
      FROM tris
      WHERE poly_id - (poly_id % 2) IN (SELECT poly_id FROM tris)
        AND poly_id - (poly_id % 2) + 1 IN (SELECT poly_id FROM tris)),
    base AS (
      SELECT m_id, part_idx, xs, ys,
        (xs[1]*ys[2] - xs[2]*ys[1]) + (xs[2]*ys[3] - xs[3]*ys[2])
          + (xs[3]*ys[1] - xs[1]*ys[3]) AS a2
      FROM keyed)
    SELECT m_id, part_idx,
      ((xs[1]+xs[2])*(xs[1]*ys[2] - xs[2]*ys[1])
        + (xs[2]+xs[3])*(xs[2]*ys[3] - xs[3]*ys[2])
        + (xs[3]+xs[1])*(xs[3]*ys[1] - xs[1]*ys[3])) / (3.0 * a2) AS cx,
      ((ys[1]+ys[2])*(xs[1]*ys[2] - xs[2]*ys[1])
        + (ys[2]+ys[3])*(xs[2]*ys[3] - xs[3]*ys[2])
        + (ys[3]+ys[1])*(xs[3]*ys[1] - xs[1]*ys[3])) / (3.0 * a2) AS cy
    FROM base WHERE a2 <> 0.0
    ORDER BY m_id, part_idx"""

  // ---- conic projections (Lambert / Albers oracle replay) ------------
  /** Forward + round-trip for the two conic families (LCC 2SP:
    * Lambert-93 + ETRS89-LCC; Albers: Conus) — closes the
    * arbitrary-EPSG gap beyond TM/UTM the same way geo_coordinate
    * certified the TM series: the oracle replays the identical Snyder
    * closed forms in SQL and both sides round at 0.1 mm / 1e-9°,
    * six orders of magnitude above libm ulp noise. Test lon/lat sit
    * between each CRS's standard parallels. */
  def coordinateConic(s: SparkSession, dir: String): DataFrame = {
    val specs = Seq(
      ("aea_5070", 5070, -96.0, 37.5),
      ("lcc_2154", 2154, 3.0, 46.5),
      ("lcc_3034", 3034, 10.0, 50.0))
    val c = graft.Tables.load(s, dir, "customer")
    specs.map { case (tag, code, lonC, latC) =>
      val w = c.select(col("c_custkey").as("id"),
        (lit(lonC) + ((col("c_custkey") % 1000) - 500).cast("double") / 250.0)
          .as("lon"),
        (lit(latC) +
          ((col("c_custkey") * 7) % 1000 - 500).cast("double") / 500.0)
          .as("lat"))
      val crs = Proj.epsg(code)
      w.withColumn("_p", Proj.fwd(crs, col("lon"), col("lat")))
        .withColumn("_g", Proj.inv(crs, col("_p.x"), col("_p.y")))
        .select(lit(tag).as("crs"), col("id"),
          round(col("_p.x"), 4).as("cx"), round(col("_p.y"), 4).as("cy"),
          round(col("_g.lon"), 9).as("ilon"),
          round(col("_g.lat"), 9).as("ilat"))
    }.reduce(_ unionByName _).orderBy("crs", "id")
  }

  val coordinateConicSql: String = {
    def src(lonC: Double, latC: Double) = s"""
      SELECT c_custkey AS id,
             $lonC + CAST((c_custkey % 1000) - 500 AS DOUBLE) / 250.0 AS lon,
             $latC + CAST((c_custkey * 7) % 1000 - 500 AS DOUBLE) / 500.0 AS lat
      FROM customer"""
    val lcc2154 = Proj.epsg(2154).asInstanceOf[Proj.Lcc]
    val lcc3034 = Proj.epsg(3034).asInstanceOf[Proj.Lcc]
    val aea5070 = Proj.epsg(5070).asInstanceOf[Proj.Aea]
    s"""
    WITH sa AS (${src(-96.0, 37.5)}),
    s1 AS (${src(3.0, 46.5)}),
    s2 AS (${src(10.0, 50.0)}),
    ra AS (${Proj.aeaRoundtripSql(aea5070, "sa")}),
    r1 AS (${Proj.lccRoundtripSql(lcc2154, "s1")}),
    r2 AS (${Proj.lccRoundtripSql(lcc3034, "s2")})
    SELECT crs, id, ROUND(cx, 4) AS cx, ROUND(cy, 4) AS cy,
           ROUND(ilon, 9) AS ilon, ROUND(ilat, 9) AS ilat
    FROM (
      SELECT 'aea_5070' AS crs, * FROM ra
      UNION ALL SELECT 'lcc_2154', * FROM r1
      UNION ALL SELECT 'lcc_3034', * FROM r2)
    ORDER BY crs, id"""
  }

  // ---- polar stereographic (EPSG 3031/3413 oracle replay) ------------
  /** Forward + round-trip for the polar stereographic family (3031
    * Antarctic, 3413 NSIDC Arctic) — the widest remaining CRS gap vs
    * the reference's accept-any-EPSG ingest (core.py:138-152), closed
    * the geo_coordinate_conic way: the oracle replays the identical
    * Snyder closed forms in SQL, both sides round at 0.1 mm / 1e-9°.
    * Test windows sit on each CRS's working side of the pole. */
  def coordinatePolar(s: SparkSession, dir: String): DataFrame = {
    val specs = Seq(
      ("ps_3031", 3031, 120.0, -75.0),
      ("ps_3413", 3413, -30.0, 75.0))
    val c = graft.Tables.load(s, dir, "customer")
    specs.map { case (tag, code, lonC, latC) =>
      val w = c.select(col("c_custkey").as("id"),
        (lit(lonC) + ((col("c_custkey") % 1000) - 500).cast("double") / 250.0)
          .as("lon"),
        (lit(latC) +
          ((col("c_custkey") * 7) % 1000 - 500).cast("double") / 500.0)
          .as("lat"))
      val crs = Proj.epsg(code)
      w.withColumn("_p", Proj.fwd(crs, col("lon"), col("lat")))
        .withColumn("_g", Proj.inv(crs, col("_p.x"), col("_p.y")))
        .select(lit(tag).as("crs"), col("id"),
          round(col("_p.x"), 4).as("cx"), round(col("_p.y"), 4).as("cy"),
          round(col("_g.lon"), 9).as("ilon"),
          round(col("_g.lat"), 9).as("ilat"))
    }.reduce(_ unionByName _).orderBy("crs", "id")
  }

  val coordinatePolarSql: String = {
    def src(lonC: Double, latC: Double) = s"""
      SELECT c_custkey AS id,
             $lonC + CAST((c_custkey % 1000) - 500 AS DOUBLE) / 250.0 AS lon,
             $latC + CAST((c_custkey * 7) % 1000 - 500 AS DOUBLE) / 500.0 AS lat
      FROM customer"""
    val ps3031 = Proj.epsg(3031).asInstanceOf[Proj.Ps]
    val ps3413 = Proj.epsg(3413).asInstanceOf[Proj.Ps]
    s"""
    WITH s1 AS (${src(120.0, -75.0)}),
    s2 AS (${src(-30.0, 75.0)}),
    r1 AS (${Proj.psRoundtripSql(ps3031, "s1")}),
    r2 AS (${Proj.psRoundtripSql(ps3413, "s2")})
    SELECT crs, id, ROUND(cx, 4) AS cx, ROUND(cy, 4) AS cy,
           ROUND(ilon, 9) AS ilon, ROUND(ilat, 9) AS ilat
    FROM (
      SELECT 'ps_3031' AS crs, * FROM r1
      UNION ALL SELECT 'ps_3413', * FROM r2)
    ORDER BY crs, id"""
  }

  // ---- mixed-geometry WKT ingest (core.py:117-166 full surface) ------
  /** ONE WKT column mixing POINT / LINESTRING / holed POLYGON rows
    * routed through `Wkt.geometries` (prefix dispatch, per-kind
    * parsers, parts as rows) — certified by per-kind part/ring/vertex
    * counts plus order-exact coordinate sums over every parsed
    * vertex; the oracle computes the same from the raw derivations.
    * Coordinate sums quantize each vertex by floor(v·1e6 + 0.5) —
    * pure IEEE mult/add/floor on the BINARY value, identical in both
    * engines — and sum LONGS. (The previous DECIMAL(28,12) cast was
    * latently engine-dependent: for |v| ≥ ~2250 an ulp exceeds the
    * 12-dp half-step, so Spark's shortest-repr half-up and DuckDB's
    * binary rounding can quantize the same double differently —
    * caught by the first FULL-registry verify at sf0.1.) */
  def wktMixed(s: SparkSession, dir: String): DataFrame = {
    val W = graft.geo.Wkt
    val p = graft.Tables.fanout(Derive.points(s, dir))
      .select(W.toWktPoint(col("x"), col("y")).as("wkt"))
    val l = graft.Tables.fanout(Derive.polylines(s, dir))
      .select(W.toWktLineString(col("xs"), col("ys")).as("wkt"))
    val h = graft.Tables.fanout(Derive.holedTriangles(s, dir))
      .select(W.toWktPolygonRings(col("rxs"), col("rys")).as("wkt"))
    val g = W.geometries(p.unionByName(l).unionByName(h), "wkt")
    // ONE consumer, ONE aggregate: a rows-side + verts-side pair of
    // aggregates joined back would consume the parsed (lazily
    // checkpointed) frame twice — two concurrent AQE stages each
    // recompute the whole parse subtree before blocks exist (the
    // Tables.hot cache-storm, measured 13.6 s wall here). Explode to
    // vertex grain carrying (ring_idx, vert_idx) and count parts as
    // first-vertex-of-first-ring rows, rings as first-vertex rows.
    val rings = g.select(col("geom_type"),
      posexplode(arrays_zip(col("rxs").as("rx"), col("rys").as("ry")))
        .as(Seq("ri", "r")))
    val verts = rings.select(col("geom_type"), col("ri"),
      posexplode(arrays_zip(col("r.rx").as("vx"), col("r.ry").as("vy")))
        .as(Seq("vi", "v")))
    verts.groupBy("geom_type").agg(
        count(when(col("ri") === 0 && col("vi") === 0, 1)).as("n_parts"),
        count(when(col("vi") === 0, 1)).as("n_rings"),
        count(lit(1)).as("n_verts"),
        (sum(floor(col("v.vx") * 1e6 + 0.5).cast("long")) / 1e6)
          .as("sum_x"),
        (sum(floor(col("v.vy") * 1e6 + 0.5).cast("long")) / 1e6)
          .as("sum_y"))
      .orderBy("geom_type")
  }

  val wktMixedSql: String = s"""
    WITH $pts, pl AS (${Derive.polylinesSql}),
    ht AS (${Derive.holedTrianglesSql}),
    ln_v AS (SELECT unnest(xs) AS vx, unnest(ys) AS vy FROM pl),
    pg_r AS (SELECT unnest(rxs) AS rx, unnest(rys) AS ry FROM ht),
    pg_v AS (SELECT unnest(rx) AS vx, unnest(ry) AS vy FROM pg_r)
    SELECT 'line' AS geom_type,
      (SELECT COUNT(*) FROM pl) AS n_parts,
      (SELECT COUNT(*) FROM pl) AS n_rings,
      (SELECT COUNT(*) FROM ln_v) AS n_verts,
      (SELECT CAST(SUM(CAST(FLOOR(vx * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6 FROM ln_v)
        AS sum_x,
      (SELECT CAST(SUM(CAST(FLOOR(vy * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6 FROM ln_v)
        AS sum_y
    UNION ALL
    SELECT 'point',
      (SELECT COUNT(*) FROM pts), (SELECT COUNT(*) FROM pts),
      (SELECT COUNT(*) FROM pts),
      (SELECT CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6 FROM pts),
      (SELECT CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6 FROM pts)
    UNION ALL
    SELECT 'polygon',
      (SELECT COUNT(*) FROM ht),
      (SELECT CAST(SUM(len(rxs)) AS BIGINT) FROM ht),
      (SELECT COUNT(*) FROM pg_v),
      (SELECT CAST(SUM(CAST(FLOOR(vx * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6 FROM pg_v),
      (SELECT CAST(SUM(CAST(FLOOR(vy * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6 FROM pg_v)
    ORDER BY geom_type"""

  /** The FULL fluent pipeline fed from WKT end-to-end — every input
    * (points, sites, road/landuse features) arrives as WKT text,
    * ingests through `Wkt.geometries`, and the unchanged
    * geo_pipeline_wide oracle certifies the result: the reference's
    * add_point_with_table WKT path (core.py:117-166) composed with
    * its calculator chain. */
  def pipelineWkt(s: SparkSession, dir: String): DataFrame = {
    val W = graft.geo.Wkt
    // Wkt.points — the api's fromWkt ingest (GeoCalculator.scala:211),
    // the exact add_point_with_table path this query certifies. It
    // parses through the same native wkt_parts kernel as the
    // generalized `geometries` but lands x/y directly: the mixed-kind
    // machinery checkpointed part_idx + nested one-vertex ring arrays
    // for MILLIONS of point rows only for this caller to project them
    // away (r16 detail: 25.3 CPU-s vs pipeline_wide's 6.96 on the same
    // calculator chain — the roundtrip overhead was mostly that
    // materialization, not the parse).
    def viaWkt(df: DataFrame, keep: Seq[String]): DataFrame =
      W.points(
        df.withColumn("wkt", W.toWktPoint(col("x"), col("y")))
          .drop("x", "y"), "wkt")
        .select(("x" +: "y" +: keep).map(col): _*)
    val pts = viaWkt(graft.Tables.fanout(Derive.points(s, dir)), Seq("id"))
    val sites = viaWkt(Derive.sites(s, dir), Seq("id"))
    val feats = viaWkt(graft.Tables.fanout(Derive.feats(s, dir)),
      Seq("fid", "weight", "lanes", "width", "code", "area", "elev", "key"))
    graft.api.GeoCalculator(pts)
      .nearestDistance(sites, "D_Supp")
      .bufferLineAndLanduse(feats, Seq(500.0))
      .resultWide(pipelineVarnames)
      .orderBy("id")
  }

  // ---- polygon coordinate modes (centroid / point-on-surface) --------
  /** The reference CoordinateCalculator's polygon modes
    * (CoordinateCalculator.py:13-14): exact shoelace centroid plus the
    * point-on-surface containment check (native ray-cast). Every value
    * is deterministic column arithmetic mirrored operation-for-
    * operation in the oracle — hash-exact without rounding. */
  private def centroidOf(s: SparkSession, tris: DataFrame): DataFrame = {
    graft.GraftFunctions.register(s)
    // degenerate (collinear) rings have no centroid — drop them before
    // the shoelace division (ANSI mode would throw on /0)
    val nd = tris.filter(Polygons.signedArea2(col("xs"), col("ys"), 3) =!= 0.0)
    Polygons.pointOnSurface(nd, "xs", "ys", n = 3)
      .withColumn("c", Polygons.centroid(col("xs"), col("ys"), 3))
      .select(col("poly_id"), col("c.cx").as("cx"), col("c.cy").as("cy"),
        col("_in").as("inside"), col("pos_x"), col("pos_y"))
      .orderBy("poly_id")
  }

  def polyCentroid(s: SparkSession, dir: String): DataFrame =
    centroidOf(s, Derive.triangles(s, dir))

  // ---- vector→raster: polygon grid coverage --------------------------
  /** Rasterize polygons onto the engine's raster-cell model: every
    * G×G grid cell whose CENTER lies inside the polygon (the
    * cell-center rule §3 already uses for area ratios, and the model
    * the reference's elevation/NDVI rasters live in). Per polygon the
    * candidate set is its own bbox cells — a bounded map-side
    * sequence-explode (never a polygon×cell join), the native
    * ray-cast expression keeps the containment test inside codegen,
    * and ONE hash aggregate folds the covered-cell facts. All outputs
    * are integer-exact (cell indices/counts), so the gate needs no
    * rounding. At 100 TB: fanout → explode → filter → one shuffle. */
  /** Library form: the G×G cells covering each (poly_id, xs, ys)
    * polygon by the cell-center rule — (poly_id, ix, iy) rows. Session
    * must have the graft function registry (GraftFunctions.register). */
  def gridCells(tris: DataFrame, g: Double): DataFrame =
    tris
      .withColumn("ix", explode(sequence(
        floor(array_min(col("xs")) / g).cast("long"),
        floor(array_max(col("xs")) / g).cast("long"))))
      .withColumn("iy", explode(sequence(
        floor(array_min(col("ys")) / g).cast("long"),
        floor(array_max(col("ys")) / g).cast("long"))))
      .filter(call_function("point_in_polygon",
        col("ix").cast("double") * g + g / 2,
        col("iy").cast("double") * g + g / 2,
        col("xs"), col("ys")))
      .select(col("poly_id"), col("ix"), col("iy"))

  /** Per-polygon coverage summary over gridCells. */
  def gridCover(tris: DataFrame, g: Double): DataFrame =
    gridCells(tris, g)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_cells"),
        min("ix").as("ix_min"), max("ix").as("ix_max"),
        min("iy").as("iy_min"), max("iy").as("iy_max"))

  def rasterize(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    gridCover(Tables.fanout(Derive.triangles(s, dir)), 50.0)
      .orderBy("poly_id")
  }

  /** Oracle cell-cover ladder shared by geo_rasterize and geo_overlay:
    * bbox cells via two unnested generate_series stages, then the same
    * edge-for-edge ray-cast as polyTagSql at the cell centers. */
  private val coverCellsSqlCtes: String = s"""tris AS (${Derive.trianglesSql}),
    cov_cx AS (
      SELECT poly_id, xs, ys,
             unnest(generate_series(
               CAST(floor(list_min(xs) / 50.0) AS BIGINT),
               CAST(floor(list_max(xs) / 50.0) AS BIGINT))) AS ix
      FROM tris),
    cov_cxy AS (
      SELECT poly_id, xs, ys, ix,
             CAST(ix AS DOUBLE) * 50.0 + 25.0 AS px,
             unnest(generate_series(
               CAST(floor(list_min(ys) / 50.0) AS BIGINT),
               CAST(floor(list_max(ys) / 50.0) AS BIGINT))) AS iy
      FROM cov_cx),
    cov_cells AS (
      SELECT poly_id, ix, iy
      FROM cov_cxy
      WHERE (len(list_filter(generate_series(1, len(xs)), i ->
        ((ys[i] > CAST(iy AS DOUBLE) * 50.0 + 25.0) !=
         (ys[CASE WHEN i = 1 THEN len(ys) ELSE i - 1 END] >
          CAST(iy AS DOUBLE) * 50.0 + 25.0))
        AND px < (xs[CASE WHEN i = 1 THEN len(xs) ELSE i - 1 END] - xs[i])
                  * (CAST(iy AS DOUBLE) * 50.0 + 25.0 - ys[i])
                  / (ys[CASE WHEN i = 1 THEN len(ys) ELSE i - 1 END] - ys[i])
                  + xs[i])) % 2) = 1)"""

  val rasterizeSql: String = s"""
    WITH $coverCellsSqlCtes
    SELECT poly_id, COUNT(*) AS n_cells,
           MIN(ix) AS ix_min, MAX(ix) AS ix_max,
           MIN(iy) AS iy_min, MAX(iy) AS iy_max
    FROM cov_cells GROUP BY 1 ORDER BY 1"""

  // ---- polygon×polygon overlay (landuse ∩ OA) on the cell grid ------
  /** The reference's Landuse/IntersectingOA calculators measure
    * polygon∩polygon areas (LanduseCalculator.py) — the operation that
    * does NOT distribute as exact geometry (a polygon×polygon join has
    * no equi key). The 100 TB shape is overlay on the raster grid:
    * rasterize BOTH layers once (bounded per-polygon explode), then
    * the intersection is a plain EQUI-join on the cell key (ix, iy) —
    * shuffle-partitionable like any other join — and areas/ratios are
    * exact cell counts. OA layer = odd poly ids, landuse layer = even
    * ids carrying their feats code (code ≡ poly_id % 5, same integer
    * derivation both engines); landuse cells dedup per (code, cell) so
    * overlapping same-code polygons don't double-count. */
  def overlay(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val cells = Tables.hot(
      gridCells(Tables.fanout(Derive.triangles(s, dir)), 50.0))
    val oa = cells.filter(col("poly_id") % 2 === 1)
      .select(col("poly_id").as("oa_id"), col("ix"), col("iy"))
    val lu = cells.filter(col("poly_id") % 2 === 0)
      .select((col("poly_id") % 5).as("code"), col("ix"), col("iy"))
      .distinct()
    val tot = oa.groupBy("oa_id").agg(count(lit(1)).as("n_oa"))
    oa.join(lu, Seq("ix", "iy"))
      .groupBy("oa_id", "code")
      .agg(count(lit(1)).as("n_cells"))
      .join(tot, Seq("oa_id"))
      .select(col("oa_id"), col("code"), col("n_cells"),
        (col("n_cells").cast("double") / col("n_oa")).as("ratio"))
      .orderBy("oa_id", "code")
  }

  val overlaySql: String = s"""
    WITH $coverCellsSqlCtes,
    oa AS (
      SELECT poly_id AS oa_id, ix, iy FROM cov_cells WHERE poly_id % 2 = 1),
    lu AS (
      SELECT DISTINCT poly_id % 5 AS code, ix, iy
      FROM cov_cells WHERE poly_id % 2 = 0),
    ov AS (
      SELECT oa_id, code, COUNT(*) AS n_cells
      FROM oa JOIN lu USING (ix, iy) GROUP BY 1, 2),
    tot AS (SELECT oa_id, COUNT(*) AS n_oa FROM oa GROUP BY 1)
    SELECT ov.oa_id, ov.code, ov.n_cells,
           CAST(ov.n_cells AS DOUBLE) / tot.n_oa AS ratio
    FROM ov JOIN tot ON ov.oa_id = tot.oa_id
    ORDER BY ov.oa_id, ov.code"""

  // ---- line rasterization: road length per grid cell -----------------
  /** Road-density raster: per G×G cell, the total EXACT length of road
    * within the cell (the line-layer companion to geo_rasterize's
    * polygon coverage; the reference's road-length rasters live in
    * this model). Candidate cells come from each segment's bbox — a
    * bounded map-side explode (segments ≤ ~28 m span ≤ 2×2 cells) —
    * and the in-cell length is Liang–Barsky parametric clipping as
    * PURE column arithmetic (per-axis t-interval intersection; no UDF,
    * no new native expression needed). The oracle replays every
    * operation in the same order, and per-term DECIMAL(18,9)
    * quantization makes the per-cell sums accumulation-order-proof
    * (the geo_line_clip precedent). One hash aggregate on the cell
    * key; at 100 TB this is scan → explode → map → one shuffle. */
  def lineDensity(s: SparkSession, dir: String): DataFrame = {
    val g = 50.0
    val inf = 1e300
    Tables.fanout(Derive.segments(s, dir))
      .withColumn("ix", explode(sequence(
        floor(least(col("x1"), col("x2")) / g).cast("long"),
        floor(greatest(col("x1"), col("x2")) / g).cast("long"))))
      .withColumn("iy", explode(sequence(
        floor(least(col("y1"), col("y2")) / g).cast("long"),
        floor(greatest(col("y1"), col("y2")) / g).cast("long"))))
      .withColumn("dx", col("x2") - col("x1"))
      .withColumn("dy", col("y2") - col("y1"))
      .withColumn("xmin", col("ix").cast("double") * g)
      .withColumn("xmax", col("ix").cast("double") * g + g)
      .withColumn("ymin", col("iy").cast("double") * g)
      .withColumn("ymax", col("iy").cast("double") * g + g)
      .withColumn("txl",
        when(col("dx") =!= 0.0, least((col("xmin") - col("x1")) / col("dx"),
          (col("xmax") - col("x1")) / col("dx")))
          .when(col("x1") >= col("xmin") && col("x1") <= col("xmax"),
            lit(-inf)).otherwise(lit(inf)))
      .withColumn("txh",
        when(col("dx") =!= 0.0, greatest((col("xmin") - col("x1")) / col("dx"),
          (col("xmax") - col("x1")) / col("dx")))
          .when(col("x1") >= col("xmin") && col("x1") <= col("xmax"),
            lit(inf)).otherwise(lit(-inf)))
      .withColumn("tyl",
        when(col("dy") =!= 0.0, least((col("ymin") - col("y1")) / col("dy"),
          (col("ymax") - col("y1")) / col("dy")))
          .when(col("y1") >= col("ymin") && col("y1") <= col("ymax"),
            lit(-inf)).otherwise(lit(inf)))
      .withColumn("tyh",
        when(col("dy") =!= 0.0, greatest((col("ymin") - col("y1")) / col("dy"),
          (col("ymax") - col("y1")) / col("dy")))
          .when(col("y1") >= col("ymin") && col("y1") <= col("ymax"),
            lit(inf)).otherwise(lit(-inf)))
      .withColumn("len",
        sqrt(col("dx") * col("dx") + col("dy") * col("dy")) *
          greatest(lit(0.0),
            least(lit(1.0), col("txh"), col("tyh")) -
              greatest(lit(0.0), col("txl"), col("tyl"))))
      .filter(col("len") > 0.0)
      .groupBy("ix", "iy")
      .agg(count(lit(1)).as("n_segs"),
        sum(col("len").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double").as("total_len"))
      .orderBy("ix", "iy")
  }

  val lineDensitySql: String = s"""
    WITH segs AS (${Derive.segmentsSql}),
    d_cx AS (
      SELECT fid, x1, y1, x2, y2,
             unnest(generate_series(
               CAST(floor(least(x1, x2) / 50.0) AS BIGINT),
               CAST(floor(greatest(x1, x2) / 50.0) AS BIGINT))) AS ix
      FROM segs),
    d_cxy AS (
      SELECT fid, x1, y1, x2, y2, ix,
             unnest(generate_series(
               CAST(floor(least(y1, y2) / 50.0) AS BIGINT),
               CAST(floor(greatest(y1, y2) / 50.0) AS BIGINT))) AS iy
      FROM d_cx),
    d_c1 AS (
      SELECT fid, ix, iy, x1, y1,
             x2 - x1 AS dx, y2 - y1 AS dy,
             CAST(ix AS DOUBLE) * 50.0 AS xmin,
             CAST(ix AS DOUBLE) * 50.0 + 50.0 AS xmax,
             CAST(iy AS DOUBLE) * 50.0 AS ymin,
             CAST(iy AS DOUBLE) * 50.0 + 50.0 AS ymax
      FROM d_cxy),
    d_c2 AS (
      SELECT *,
        CASE WHEN dx <> 0.0
             THEN least((xmin - x1) / dx, (xmax - x1) / dx)
             WHEN x1 >= xmin AND x1 <= xmax THEN -1e300 ELSE 1e300
        END AS txl,
        CASE WHEN dx <> 0.0
             THEN greatest((xmin - x1) / dx, (xmax - x1) / dx)
             WHEN x1 >= xmin AND x1 <= xmax THEN 1e300 ELSE -1e300
        END AS txh,
        CASE WHEN dy <> 0.0
             THEN least((ymin - y1) / dy, (ymax - y1) / dy)
             WHEN y1 >= ymin AND y1 <= ymax THEN -1e300 ELSE 1e300
        END AS tyl,
        CASE WHEN dy <> 0.0
             THEN greatest((ymin - y1) / dy, (ymax - y1) / dy)
             WHEN y1 >= ymin AND y1 <= ymax THEN 1e300 ELSE -1e300
        END AS tyh
      FROM d_c1),
    d_c3 AS (
      SELECT ix, iy,
        sqrt(dx * dx + dy * dy) *
          greatest(0.0, least(1.0, txh, tyh) - greatest(0.0, txl, tyl))
          AS len
      FROM d_c2)
    SELECT ix, iy, COUNT(*) AS n_segs,
           CAST(SUM(CAST(len AS DECIMAL(18,9))) AS DOUBLE) AS total_len
    FROM d_c3 WHERE len > 0.0
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- WKT ingest (duckpipe/core.py:138-152 geometry registration) ---
  /** Polygon WKT ingest certified end-to-end: serialize the triangle
    * table to `POLYGON ((…))` text, re-ingest through `Wkt.polygons`,
    * and run the centroid/point-on-surface pipeline on the PARSED
    * vertex arrays — against the unchanged geo_poly_centroid oracle.
    * WKT double formatting is shortest-round-trip, so parse∘format is
    * bit-exact and any parser defect breaks the hash. */
  def wktPolyCentroid(s: SparkSession, dir: String): DataFrame = {
    // spread FIRST: the compact source arrives as one scan partition,
    // and both the WKT formatting and the regex-heavy parse must run
    // after the shuffle (fanout on the formatted column would leave
    // the format itself serialized on the single input partition)
    val spread = graft.Tables.fanout(Derive.triangles(s, dir))
    val asWkt = spread.select(col("poly_id"),
      graft.geo.Wkt.toWktPolygon(col("xs"), col("ys")).as("wkt"))
    centroidOf(s, graft.geo.Wkt.polygons(asWkt, "wkt"))
  }

  /** Point WKT ingest: serialize the point table to `POINT (x y)`,
    * re-ingest, emit the parsed planar coordinates — oracle is the
    * plain point derivation (round-trip must be identity). */
  def wktPoints(s: SparkSession, dir: String): DataFrame = {
    val asWkt = Derive.points(s, dir).select(col("id"),
      graft.geo.Wkt.toWktPoint(col("x"), col("y")).as("wkt"))
    graft.geo.Wkt.points(asWkt, "wkt")
      .select(col("id"), col("x"), col("y"))
      .orderBy("id")
  }

  val wktPointsSql: String = s"""
    WITH $pts
    SELECT id, x, y FROM pts ORDER BY id"""

  /** LINESTRING WKT ingest certified end-to-end: serialize the
    * polyline table to `LINESTRING (…)` text, re-ingest through
    * `Wkt.lines`, explode to consecutive-pair segments
    * (`Wkt.lineSegments` — the road-geometry ingest the reference's
    * heaviest calculators start from, RoadLLWCalculator.py:73-80),
    * and aggregate per-line segment count + decimal-exact total
    * length from the PARSED vertices. WKT doubles are
    * shortest-round-trip so parse∘format is bit-exact; any parser or
    * explode defect breaks the hash. */
  def wktLineStats(s: SparkSession, dir: String): DataFrame = {
    val spread = graft.Tables.fanout(Derive.polylines(s, dir))
    val asWkt = spread.select(col("fid"),
      graft.geo.Wkt.toWktLineString(col("xs"), col("ys")).as("wkt"))
    val segs = graft.geo.Wkt.lineSegments(
      graft.geo.Wkt.lines(asWkt, "wkt"))
    val len = sqrt(
      (col("x2") - col("x1")) * (col("x2") - col("x1")) +
      (col("y2") - col("y1")) * (col("y2") - col("y1")))
    segs.select(col("fid"), len.as("len"))
      .groupBy("fid")
      .agg(count(lit(1)).as("n_segs"),
        sum(col("len").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double").as("total_len"))
      .orderBy("fid")
  }

  val wktLineStatsSql: String = s"""
    WITH pl AS (${Derive.polylinesSql}),
    idx AS (
      SELECT fid, xs, ys,
             unnest(generate_series(1, len(xs) - 1)) AS i
      FROM pl),
    seg AS (
      SELECT fid,
             sqrt((xs[i+1] - xs[i]) * (xs[i+1] - xs[i])
                + (ys[i+1] - ys[i]) * (ys[i+1] - ys[i])) AS len
      FROM idx)
    SELECT fid, COUNT(*) AS n_segs,
           CAST(SUM(CAST(len AS DECIMAL(18,9))) AS DOUBLE) AS total_len
    FROM seg GROUP BY fid ORDER BY fid"""

  /** Shoelace + ray-cast mirror; term order identical to
    * Polygons.centroid / PolyMath.contains. */
  val polyCentroidSql: String = s"""
    WITH tris AS (${Derive.trianglesSql}),
    base AS (
      SELECT poly_id, xs, ys,
        (xs[1]*ys[2] - xs[2]*ys[1]) + (xs[2]*ys[3] - xs[3]*ys[2])
          + (xs[3]*ys[1] - xs[1]*ys[3]) AS a2
      FROM tris),
    cent AS (
      SELECT poly_id, xs, ys,
        ((xs[1]+xs[2])*(xs[1]*ys[2] - xs[2]*ys[1])
          + (xs[2]+xs[3])*(xs[2]*ys[3] - xs[3]*ys[2])
          + (xs[3]+xs[1])*(xs[3]*ys[1] - xs[1]*ys[3])) / (3.0 * a2) AS cx,
        ((ys[1]+ys[2])*(xs[1]*ys[2] - xs[2]*ys[1])
          + (ys[2]+ys[3])*(xs[2]*ys[3] - xs[3]*ys[2])
          + (ys[3]+ys[1])*(xs[3]*ys[1] - xs[1]*ys[3])) / (3.0 * a2) AS cy
      FROM base WHERE a2 <> 0.0),
    flagged AS (
      SELECT poly_id, cx, cy,
        (len(list_filter(generate_series(1, len(xs)), i ->
          ((ys[i] > cy) != (ys[CASE WHEN i = 1 THEN len(ys) ELSE i - 1 END] > cy))
          AND cx < (xs[CASE WHEN i = 1 THEN len(xs) ELSE i - 1 END] - xs[i])
                    * (cy - ys[i])
                    / (ys[CASE WHEN i = 1 THEN len(ys) ELSE i - 1 END] - ys[i])
                    + xs[i])) % 2) = 1 AS inside,
        xs[1] AS x1, ys[1] AS y1
      FROM cent)
    SELECT poly_id, cx, cy, inside,
           CASE WHEN inside THEN cx ELSE x1 END AS pos_x,
           CASE WHEN inside THEN cy ELSE y1 END AS pos_y
    FROM flagged ORDER BY poly_id"""

  // ---- long→wide pivot (get_result) ----------------------------------
  def pivot(s: SparkSession, dir: String): DataFrame = {
    val p = Derive.points(s, dir)
    val feats = Derive.feats(s, dir)
    val sites = Derive.sites(s, dir)
    val nearestLong = NearestDistance.broadcastNearest(p, sites)
      .select(col("id"), lit("D_Supp").as("varname"),
        lit(null).cast("int").as("year"), col("distance").as("value"))
    val lineLong = BufferStats.lineStats(p, feats, Seq(500.0),
        Seq("L" -> col("weight")))
      .select(col("id"), lit("Road_L_0500").as("varname"),
        lit(null).cast("int").as("year"), col("L").as("value"))
    LongWide.pivotWide(nearestLong.unionByName(lineLong),
        Seq("D_Supp", "Road_L_0500"))
      .orderBy("id")
  }

  val pivotSql: String = s"""
    WITH $pts, $st, $f,
    n AS (
      SELECT p.id, MIN(sqrt(${d2("p", "s")})) AS distance
      FROM pts p CROSS JOIN st s GROUP BY p.id),
    l AS (
      SELECT p.id,
        SUM(CASE WHEN ${d2("p", "f")} < 250000.0 THEN f.weight ELSE 0.0 END) AS L
      FROM pts p CROSS JOIN f GROUP BY p.id)
    SELECT p.id, CAST(NULL AS INTEGER) AS year,
           n.distance AS "D_Supp", l.L AS "Road_L_0500"
    FROM pts p JOIN n ON p.id = n.id JOIN l ON p.id = l.id
    ORDER BY p.id"""

  // ---- exact clipped segment length (native Catalyst expression) -----
  def lineClip(s: SparkSession, dir: String): DataFrame =
    LineClip.lineStatsExact(
      Derive.points(s, dir), Derive.segments(s, dir),
      radii = Seq(500.0), maxSegLen = 30.0)
      .orderBy("id", "radius")

  /** The oracle mirrors GeoMath.clippedSegmentLength operation-for-
    * operation so both engines produce bit-identical doubles; per-term
    * DECIMAL(18,9) quantization neutralizes summation order. */
  val lineClipSql: String = s"""
    WITH $pts, segs AS (${Derive.segmentsSql}),
    base AS (
      SELECT p.id, 500.0 AS radius, p.x AS cx, p.y AS cy,
             s.x1, s.y1, s.x2, s.y2
      FROM pts p CROSS JOIN segs s),
    c1 AS (SELECT *, x2 - x1 AS dx, y2 - y1 AS dy,
                  x1 - cx AS fx, y1 - cy AS fy FROM base),
    c2 AS (SELECT *, dx*dx + dy*dy AS a, 2.0*(dx*fx + dy*fy) AS b,
                  fx*fx + fy*fy - radius*radius AS c FROM c1),
    c3 AS (SELECT *, b*b - 4.0*a*c AS disc FROM c2),
    c4 AS (SELECT id, radius,
      CASE WHEN a = 0.0 OR disc <= 0.0 THEN 0.0
           ELSE CASE
             WHEN LEAST((-b + sqrt(disc)) / (2.0*a), 1.0) <=
                  GREATEST((-b - sqrt(disc)) / (2.0*a), 0.0) THEN 0.0
             ELSE (LEAST((-b + sqrt(disc)) / (2.0*a), 1.0) -
                   GREATEST((-b - sqrt(disc)) / (2.0*a), 0.0)) * sqrt(a)
           END END AS clip
      FROM c3)
    SELECT id, radius,
           CAST(SUM(CAST(clip AS DECIMAL(18,9))) AS DOUBLE) AS L
    FROM c4 GROUP BY id, radius ORDER BY id, radius"""

  // ---- exact circle∩polygon area (native Catalyst expression) -------
  /** The reference's flagship landuse/OA semantics:
    * ST_Area(ST_Intersection(polygon, buffer)) — exact, via the
    * clipped_polygon_area expression (Green's theorem: chord triangles
    * + circular sectors). Triangles span ≤ 721 m from their anchor
    * vertex, so cell = 500 + 722 provably covers every candidate. */
  def areaClip(s: SparkSession, dir: String): DataFrame =
    AreaClip.areaExact(
      Derive.points(s, dir), Derive.triangles(s, dir),
      radii = Seq(500.0), maxVertexDist = 722.0)
      .orderBy("id", "radius")

  /** Oracle mirrors GeoMath.circleEdgeTerm operation-for-operation —
    * identical branch predicates on bit-identical doubles, so both
    * engines take the same branch everywhere; the only cross-engine
    * divergence is atan2 at ulp level, absorbed by the per-pair
    * DECIMAL(18,2) quantization before the exact decimal sum. */
  val areaClipSql: String = s"""
    WITH $pts, tris AS (${Derive.trianglesSql}),
    edges AS (
      SELECT p.id, t.poly_id,
             t.xs[e.j] - p.x AS ax, t.ys[e.j] - p.y AS ay,
             t.xs[e.i] - p.x AS bx, t.ys[e.i] - p.y AS by
      FROM pts p CROSS JOIN tris t
      CROSS JOIN (VALUES (1, 3), (2, 1), (3, 2)) e(i, j)),
    c1 AS (SELECT *, bx - ax AS dx, by - ay AS dy,
                  ax*by - ay*bx AS crossab, ax*bx + ay*by AS dotab FROM edges),
    c2 AS (SELECT *, dx*dx + dy*dy AS aa, 2.0*(ax*dx + ay*dy) AS bb,
                  ax*ax + ay*ay - 250000.0 AS cc FROM c1),
    c3 AS (SELECT *, bb*bb - 4.0*aa*cc AS disc FROM c2),
    c4 AS (SELECT *,
            CASE WHEN aa = 0.0 OR disc <= 0.0 THEN CAST(NULL AS DOUBLE)
                 ELSE (-bb - sqrt(disc)) / (2.0*aa) END AS t1,
            CASE WHEN aa = 0.0 OR disc <= 0.0 THEN CAST(NULL AS DOUBLE)
                 ELSE (-bb + sqrt(disc)) / (2.0*aa) END AS t2
           FROM c3),
    c5 AS (SELECT *,
            CASE WHEN t1 > 0.0 THEN t1 ELSE 0.0 END AS lo,
            CASE WHEN t2 < 1.0 THEN t2 ELSE 1.0 END AS hi FROM c4),
    c6 AS (SELECT *, ax + lo*dx AS p1x, ay + lo*dy AS p1y,
                  ax + hi*dx AS p2x, ay + hi*dy AS p2y FROM c5),
    term AS (SELECT id, poly_id,
      CASE WHEN aa = 0.0 THEN 0.0
           WHEN disc <= 0.0 THEN 125000.0 * atan2(crossab, dotab)
           WHEN t2 <= 0.0 OR t1 >= 1.0 THEN 125000.0 * atan2(crossab, dotab)
           ELSE (p1x*p2y - p1y*p2x) / 2.0
                + CASE WHEN lo > 0.0
                       THEN 125000.0 * atan2(ax*p1y - ay*p1x, ax*p1x + ay*p1y)
                       ELSE 0.0 END
                + CASE WHEN hi < 1.0
                       THEN 125000.0 * atan2(p2x*by - p2y*bx, p2x*bx + p2y*by)
                       ELSE 0.0 END
      END AS f
      FROM c6),
    pair AS (SELECT id, poly_id, abs(SUM(f)) AS area FROM term GROUP BY 1, 2)
    SELECT id, 500.0 AS radius,
           CAST(SUM(CAST(area AS DECIMAL(18,2))) AS DOUBLE) AS A
    FROM pair GROUP BY id ORDER BY id, radius"""

  // ---- fluent GeoCalculator pipeline, wide + long results ------------
  private val pipelineVarnames: Seq[String] =
    Seq("D_Supp", "Road_L_0500", "Road_LL_0500", "Road_LLW_0500") ++
      (0 until 5).flatMap(c => Seq(s"LS${c}_0500_a", s"LS${c}_0500_p"))

  private def pipelineCalc(s: SparkSession, dir: String) =
    graft.api.GeoCalculator(Derive.points(s, dir))
      .nearestDistance(Derive.sites(s, dir), "D_Supp")
      // fused: one neighbor join feeds Road_* and LS* families
      .bufferLineAndLanduse(Derive.feats(s, dir), Seq(500.0))

  def pipelineWide(s: SparkSession, dir: String): DataFrame =
    pipelineCalc(s, dir)
      .resultWide(pipelineVarnames)
      .orderBy("id")

  def pipelineLong(s: SparkSession, dir: String): DataFrame =
    pipelineCalc(s, dir).resultLong.orderBy("id", "varname")

  private val pipelineWideInnerSql: String = s"""
    SELECT p.id, p.x, p.y, CAST(NULL AS INTEGER) AS year,
      n.distance AS "D_Supp",
      l."Road_L_0500", l."Road_LL_0500", l."Road_LLW_0500",
      ${(0 until 5).map(c =>
        s"""a."LS${c}_0500_a", a."LS${c}_0500_p"""").mkString(", ")}
    FROM pts p
    JOIN (SELECT p.id, MIN(sqrt(${d2("p", "s")})) AS distance
          FROM pts p CROSS JOIN st s GROUP BY p.id) n ON p.id = n.id
    JOIN (SELECT p.id,
            SUM(CASE WHEN ${d2("p", "f")} < 250000.0 THEN f.weight ELSE 0.0 END) AS "Road_L_0500",
            SUM(CASE WHEN ${d2("p", "f")} < 250000.0 THEN f.weight*f.lanes ELSE 0.0 END) AS "Road_LL_0500",
            SUM(CASE WHEN ${d2("p", "f")} < 250000.0 THEN f.weight*f.lanes*f.width ELSE 0.0 END) AS "Road_LLW_0500"
          FROM pts p CROSS JOIN f GROUP BY p.id) l ON p.id = l.id
    JOIN (SELECT p.id,
            ${(0 until 5).map(c =>
              s"""SUM(CASE WHEN ${d2("p", "f")} < 250000.0 AND f.code = $c THEN f.area ELSE 0.0 END) AS "LS${c}_0500_a",
                  SUM(CASE WHEN ${d2("p", "f")} < 250000.0 AND f.code = $c THEN f.area ELSE 0.0 END) / (pi() * 500.0 * 500.0) AS "LS${c}_0500_p"""")
              .mkString(", ")}
          FROM pts p CROSS JOIN f GROUP BY p.id) a ON p.id = a.id"""

  val pipelineWideSql: String = s"""
    WITH $pts, $st, $f
    $pipelineWideInnerSql
    ORDER BY p.id"""

  val pipelineLongSql: String = s"""
    WITH $pts, $st, $f,
    wide AS ($pipelineWideInnerSql)
    SELECT id, varname, CAST(NULL AS INTEGER) AS year, value
    FROM (SELECT * EXCLUDE (x, y, year) FROM wide)
    UNPIVOT (value FOR varname IN (${pipelineVarnames.map(v => s""""$v"""").mkString(", ")}))
    ORDER BY id, varname"""

  // ---- coordinate transform (rows-only: no ANSI-SQL oracle) ----------
  def coordinate(s: SparkSession, dir: String): DataFrame = {
    val w = Derive.wgsPoints(s, dir)
    val proj = w.withColumn("_p", Proj.forward(col("lon"), col("lat")))
    proj.withColumn("_g", Proj.inverse(col("_p.x"), col("_p.y")))
      .select(col("id"),
        round(col("_p.x"), 4).as("tm_x"), round(col("_p.y"), 4).as("tm_y"),
        round(col("_g.lon"), 9).as("wgs_x"), round(col("_g.lat"), 9).as("wgs_y"))
      .orderBy("id")
  }

  /** DuckDB replay of the full TM round-trip (Proj.forwardSql/
    * inverseSql emit the identical Snyder series from the same Tm
    * constants). +,−,×,÷,sqrt are IEEE-exact in both engines;
    * sin/cos/pow may differ in the last ulp, so both sides round to
    * 0.1 mm (4 dp meters / 9 dp degrees) — 6 orders of magnitude
    * above the ulp noise floor. */
  val coordinateSql: String = {
    val p = graft.geo.Proj.Epsg5179
    s"""
    WITH w AS (${Derive.wgsPointsSql}),
    fwd AS (${graft.geo.Proj.forwardSql(p, "w")}),
    inv AS (${graft.geo.Proj.inverseSql(p, "fwd")})
    SELECT id, ROUND(tm_x, 4) AS tm_x, ROUND(tm_y, 4) AS tm_y,
           ROUND(wgs_x, 9) AS wgs_x, ROUND(wgs_y, 9) AS wgs_y
    FROM inv ORDER BY id"""
  }

  def all: Seq[QueryDef] = Seq(
    QueryDef("geo_nearest", nearest, Some(nearestSql)),
    QueryDef("geo_nearest_all", nearestAll, Some(nearestAllSql)),
    QueryDef("geo_nearest_year", nearestYear, Some(nearestYearSql)),
    QueryDef("geo_nearest_grid", nearestGrid, Some(nearestGridSql)),
    QueryDef("geo_knn", knn, Some(knnSql)),
    QueryDef("geo_nearest_line", nearestLine, Some(nearestLineSql)),
    QueryDef("geo_nearest_line_wkt", nearestLineWkt, Some(nearestLineWktSql)),
    QueryDef("geo_buffer_line", bufferLine, Some(bufferLineSql)),
    QueryDef("geo_buffer_count", bufferCount, Some(bufferCountSql)),
    QueryDef("geo_area_ratio", areaRatio, Some(areaRatioSql)),
    QueryDef("geo_intersect_oa", intersectOa, Some(intersectOaSql)),
    QueryDef("geo_relative_elevation", relElev, Some(relElevSql)),
    QueryDef("geo_raster_value", rasterValue, Some(rasterValueSql)),
    QueryDef("geo_zorder", zorder, Some(zorderSql)),
    QueryDef("geo_hilbert", hilbert, Some(hilbertSql)),
    QueryDef("geo_cluster", cluster, Some(clusterSql)),
    QueryDef("geo_cluster_capped", clusterCapped, Some(clusterCappedSql)),
    QueryDef("geo_chunk_order", chunkOrder, Some(chunkOrderSql)),
    QueryDef("geo_poly_tag", polyTag, Some(polyTagSql)),
    QueryDef("geo_poly_centroid", polyCentroid, Some(polyCentroidSql)),
    QueryDef("geo_rasterize", rasterize, Some(rasterizeSql)),
    QueryDef("geo_overlay", overlay, Some(overlaySql)),
    QueryDef("geo_line_density", lineDensity, Some(lineDensitySql)),
    QueryDef("geo_idw", idw, Some(idwSql)),
    QueryDef("geo_point_density", pointDensity, Some(pointDensitySql)),
    QueryDef("geo_bearing", bearingNearest, Some(bearingNearestSql)),
    QueryDef("geo_pivot", pivot, Some(pivotSql)),
    QueryDef("geo_line_clip", lineClip, Some(lineClipSql)),
    QueryDef("geo_area_clip", areaClip, Some(areaClipSql)),
    QueryDef("geo_pipeline_wide", pipelineWide, Some(pipelineWideSql)),
    QueryDef("geo_pipeline_long", pipelineLong, Some(pipelineLongSql)),
    QueryDef("geo_coordinate", coordinate, Some(coordinateSql)),
    QueryDef("geo_raster_zonal", rasterZonal, Some(rasterZonalSql)),
    QueryDef("geo_wkt_points", wktPoints, Some(wktPointsSql)),
    QueryDef("geo_wkt_poly", wktPolyCentroid, Some(polyCentroidSql)),
    QueryDef("geo_wkt_line", wktLineStats, Some(wktLineStatsSql)),
    QueryDef("geo_poly_tag_holed", polyTagHoled, Some(polyTagHoledSql)),
    QueryDef("geo_wkt_holes", wktHoledTag, Some(polyTagHoledSql)),
    QueryDef("geo_wkt_multipoly", wktMultiPoly, Some(wktMultiPolySql)),
    QueryDef("geo_wkt_mixed", wktMixed, Some(wktMixedSql)),
    QueryDef("geo_pipeline_wkt", pipelineWkt, Some(pipelineWideSql)),
    QueryDef("geo_coordinate_conic", coordinateConic,
      Some(coordinateConicSql)),
    QueryDef("geo_coordinate_polar", coordinatePolar,
      Some(coordinatePolarSql)))
}
