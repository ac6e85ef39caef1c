package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WKT ingest/egress for the planar model — the engine-native
  * replacement for the reference's WKT-based geometry registration
  * (duckpipe/core.py:138-152 stores geometries as ST_AsText WKT and
  * reprojects with ST_Transform on ingest; the landuse/OA feature
  * tables arrive as polygon WKT).
  *
  * Every ingest path parses through the one native `wkt_parts` kernel
  * (functions/WktParts.scala) and reprojects with the Proj column
  * series, so parsing runs codegen'd and fully distributed with no UDF
  * boundary. Malformed input fails LOUDLY with the offending string
  * (an ingest that silently drops or nulls bad geometries poisons
  * every downstream join at 100 TB).
  *
  * Scope mirrors the engine's planar model: POINT, LINESTRING
  * (polyline → consecutive-pair segment explode feeding the segment
  * operators), single-ring POLYGON (the flat vertex-array form the
  * simple operators consume — interior rings rejected loudly there),
  * full POLYGON with holes (`polygonsRings` → nested ring arrays for
  * `Polygons.containsRings`/`clippedAreaRings`), MULTIPOLYGON
  * (`multiPolygons` → parts exploded to rows) and a column mixing all
  * four (`geometries`).
  */
object Wkt {

  private def fail(kind: String, wkt: Column): Column =
    raise_error(concat(lit(s"malformed WKT $kind: "),
      coalesce(wkt, lit("NULL"))))

  /** Reproject a parsed struct(x, y) from `epsg` into the reference
    * CRS (EPSG:5179), the ingest-time ST_Transform of the reference:
    * 4326 runs the forward TM series directly; projected TM/UTM codes
    * pivot through geographic (`Proj.transform`); 5179 is identity. */
  private def toRef(xy: Column, epsg: Int): Column = epsg match {
    case 5179 => xy
    case 4326 => Proj.forward(xy.getField("x"), xy.getField("y"))
    case other => Proj.transform(
      xy.getField("x"), xy.getField("y"), Proj.epsg(other), Proj.Epsg5179)
  }

  /** Reproject the vertex-array columns `xs`, `ys` (nested ring arrays
    * when `rings`) in place from `epsg` into the reference CRS, with
    * the series of `toRef` — projected codes through the two-pass
    * `Proj.transformAll`. The projected vertices land in one column
    * first, so splitting them back into x and y arrays runs each
    * vertex's series once. */
  private def reproject(df: DataFrame, xs: String, ys: String, epsg: Int,
                        rings: Boolean = false): DataFrame =
    if (epsg == 5179) df
    else {
      def verts(vx: Column, vy: Column): Column =
        if (epsg == 4326) zip_with(vx, vy, (x, y) => Proj.forward(x, y))
        else Proj.transformAll(vx, vy, Proj.epsg(epsg), Proj.Epsg5179)
      def split(f: String): Column =
        if (rings) transform(col("_rp"), r => transform(r, v => v.getField(f)))
        else transform(col("_rp"), v => v.getField(f))
      df.withColumn("_rp",
          if (rings) zip_with(col(xs), col(ys), verts) else verts(col(xs), col(ys)))
        .withColumn(xs, split("x"))
        .withColumn(ys, split("y"))
        .drop("_rp")
    }

  /** Shared native-parse entry for the single-kind ingest paths: the
    * `wkt_parts` kernel (one compiled static call — the same parser
    * `geometries` runs) behind a cheap prefix guard that keeps each
    * path's loud kind rejection, landed through ONE posexplode so the
    * parse runs exactly once per row (a `when`-wrapped parse referenced
    * per output column blocks codegen subexpression elimination and
    * re-parses per reference). Every part of every kind is an ARRAY of
    * ring STRUCT(xs, ys); single-part kinds keep their row. */
  private def nativeParts(df: DataFrame, wktCol: String,
                          prefix: String, kind: String): DataFrame = {
    val guarded = when(trim(col(wktCol)).startsWith(prefix),
      call_function("wkt_parts", col(wktCol)))
      .otherwise(fail(kind, col(wktCol)))
    // posexplode_OUTER, deliberately: valid parses always yield >= 1
    // part and malformed input raises, so outer vs inner explode is
    // value-identical — but the inner variant plans an implicit
    // `size(..) > 0 AND isnotnull(..)` Filter whose predicate INLINES
    // the whole guarded parse twice AND gets pushed below the
    // caller's fanout exchange, re-running the parse serialized on
    // the single scan partition (measured: the stage plan's Filter(2)
    // under Exchange(5)). Outer explode plans no filter: the parse
    // runs exactly once per row, inside the distributed Generate.
    df.withColumn("_parts", guarded)
      .select(col("*"),
        posexplode_outer(col("_parts")).as(Seq("_pi", "_part")))
  }

  /** Ingest a POINT WKT column: adds planar `x`, `y` (reference CRS)
    * next to the existing columns — `GeoCalculator.fromXY`'s contract,
    * fed from WKT like duckpipe/core.py:138-152. */
  def points(df: DataFrame, wktCol: String, epsg: Int = 5179): DataFrame = {
    val v = element_at(col("_part"), 1)
    val p = toRef(struct(
      element_at(v.getField("xs"), 1).as("x"),
      element_at(v.getField("ys"), 1).as("y")), epsg)
    nativeParts(df, wktCol, "POINT", "POINT")
      .withColumn("_pt", p)
      .withColumn("x", col("_pt.x"))
      .withColumn("y", col("_pt.y"))
      .drop("_parts", "_pi", "_part", "_pt")
  }

  /** Ingest a POLYGON WKT column: adds open vertex arrays `xs`, `ys`
    * (reference CRS) — the shape `PointInPolygon`/`Polygons` consume.
    *
    * The result is fenced behind a LAZY localCheckpoint. Without the
    * fence, project-collapse + predicate-pushdown inline the whole
    * parse tree into every downstream expression that touches xs/ys
    * (a centroid references them ~8×, and a pushed filter drags the
    * tree below the ingest's fan-out exchange onto the single scan
    * partition) — measured ~20× re-parse per row. Ingest is exactly
    * where a pipeline wants parse-once-land-columns semantics; the
    * fence materializes the parsed arrays on first use and truncates
    * lineage, same contract as Tables.hot but without an eager job. */
  def polygons(df: DataFrame, wktCol: String, epsg: Int = 5179): DataFrame =
    polygonsStage(df, wktCol, epsg).localCheckpoint(false)

  /** `polygons` without its checkpoint fence — the parse stage the
    * fence hides from the final plan, exposed so the plan audit and
    * `graft.tools.ExplainStage` can pin it (substringWindows
    * precedent). */
  private[graft] def polygonsStage(df: DataFrame, wktCol: String,
                                   epsg: Int): DataFrame = {
    // single exterior ring only — the flat-vertex-array contract; a
    // holed polygon fails loudly
    val ring = when(size(col("_part")) === 1, element_at(col("_part"), 1))
      .otherwise(fail(
        "POLYGON (single exterior ring, >= 4 points incl. closing vertex)",
        col(wktCol)))
    reproject(nativeParts(df, wktCol, "POLYGON",
        "POLYGON (single exterior ring, >= 4 points incl. closing vertex)")
      .withColumn("_ring", ring)
      .withColumn("xs", col("_ring.xs"))
      .withColumn("ys", col("_ring.ys"))
      .drop("_parts", "_pi", "_part", "_ring"), "xs", "ys", epsg)
  }

  /** Ingest a LINESTRING WKT column: adds vertex arrays `xs`, `ys`
    * (reference CRS). Same lazy-localCheckpoint fence as `polygons` —
    * the segment explode below references the arrays several times,
    * and without the fence each reference re-runs the parse tree. */
  def lines(df: DataFrame, wktCol: String, epsg: Int = 5179): DataFrame =
    linesStage(df, wktCol, epsg).localCheckpoint(false)

  /** `lines` without its checkpoint fence (plan-audit hook). */
  private[graft] def linesStage(df: DataFrame, wktCol: String,
                                epsg: Int): DataFrame = {
    val line = element_at(col("_part"), 1)
    reproject(nativeParts(df, wktCol, "LINESTRING", "LINESTRING (>= 2 points)")
      .withColumn("_line", line)
      .withColumn("xs", col("_line.xs"))
      .withColumn("ys", col("_line.ys"))
      .drop("_parts", "_pi", "_part", "_line"), "xs", "ys", epsg)
  }

  /** Ingest a full POLYGON WKT column (holes allowed): adds nested
    * ring arrays `rxs`, `rys` (ring 1 = outer) — the shape
    * `Polygons.containsRings` / `Polygons.clippedAreaRings` consume.
    * Same parse-once fence as `polygons`. */
  def polygonsRings(df: DataFrame, wktCol: String,
                    epsg: Int = 5179): DataFrame =
    polygonsRingsStage(df, wktCol, epsg).localCheckpoint(false)

  /** `polygonsRings` without its checkpoint fence (plan-audit hook). */
  private[graft] def polygonsRingsStage(df: DataFrame, wktCol: String,
                                        epsg: Int): DataFrame = {
    reproject(nativeParts(df, wktCol, "POLYGON", "POLYGON (ring list)")
      .withColumn("rxs", transform(col("_part"), r => r.getField("xs")))
      .withColumn("rys", transform(col("_part"), r => r.getField("ys")))
      .drop("_parts", "_pi", "_part"), "rxs", "rys", epsg, rings = true)
  }

  /** Ingest a MULTIPOLYGON WKT column: one row PER PART with nested
    * ring arrays (part_idx 1-based) — parts as rows is the layout
    * that distributes; a 100 TB admin layer parallelizes by part
    * after the explode. */
  def multiPolygons(df: DataFrame, wktCol: String,
                    epsg: Int = 5179): DataFrame =
    multiPolygonsStage(df, wktCol, epsg).localCheckpoint(false)

  /** `multiPolygons` without its checkpoint fence (plan-audit hook). */
  private[graft] def multiPolygonsStage(df: DataFrame, wktCol: String,
                                        epsg: Int): DataFrame = {
    val split = nativeParts(df, wktCol, "MULTIPOLYGON", "MULTIPOLYGON")
      .withColumn("part_idx", col("_pi") + 1)
      .withColumn("rxs", transform(col("_part"), r => r.getField("xs")))
      .withColumn("rys", transform(col("_part"), r => r.getField("ys")))
    reproject(split, "rxs", "rys", epsg, rings = true)
      .drop("_parts", "_pi", "_part")
  }

  /** Generalized mixed-geometry ingest — the full analogue of the
    * reference's WKT registration (duckpipe/core.py:117-166 accepts
    * whatever geometry the table holds): one column may mix POINT,
    * LINESTRING, POLYGON (holes ok) and MULTIPOLYGON. Dispatch is
    * prefix routing (the mm_type_detect pattern); unknown geometry
    * fails loudly. Output: one row PER PART with
    *   geom_type  'point' | 'line' | 'polygon' | 'multipolygon'
    *   part_idx   1-based (always 1 except multipolygon parts)
    *   rxs, rys   nested ring arrays (point = one 1-vertex ring,
    *              line = one open vertex ring, polygon = rings)
    *   x, y       convenience planar coords (points only, else NULL)
    * The kernel dispatches on the same prefixes, so one parse per row
    * serves every kind. */
  def geometries(df: DataFrame, wktCol: String,
                 epsg: Int = 5179): DataFrame =
    geometriesStage(df, wktCol, epsg).localCheckpoint(false)

  /** `geometries` without its checkpoint fence (plan-audit hook). */
  private[graft] def geometriesStage(df: DataFrame, wktCol: String,
                                     epsg: Int): DataFrame = {
    val w = trim(col(wktCol))
    val kind = when(w.startsWith("POINT"), lit("point"))
      .when(w.startsWith("LINESTRING"), lit("line"))
      .when(w.startsWith("MULTIPOLYGON"), lit("multipolygon"))
      .when(w.startsWith("POLYGON"), lit("polygon"))
      .otherwise(raise_error(concat(
        lit("unsupported WKT geometry: "),
        coalesce(col(wktCol), lit("NULL")))))
    // The parse is the native wkt_parts expression (one static call,
    // doGenCode). Two designs that do NOT work here, for the record:
    // one CASE over four composed HOF/regex column parsers (seconds of
    // driver planning + codegen compilation PER QUERY and ~1 ms/row
    // interpreted), and per-kind filtered branches unioned (attribute
    // re-deduplication under a Generate above the 4-way self-union
    // CROSSES the branch expressions — points reached the
    // MULTIPOLYGON parser).
    val parts = call_function("wkt_parts", col(wktCol))
    val projected = df.withColumn("geom_type", kind)
      .withColumn("_parts", parts)
      // outer explode: no implicit non-empty Filter to duplicate the
      // parse below the fanout exchange (see nativeParts) — valid
      // parses always yield >= 1 part, malformed input raises
      .select(col("*"),
        posexplode_outer(col("_parts")).as(Seq("_pi", "_part")))
      .withColumn("part_idx", col("_pi") + 1)
      // cheap splits over the landed struct array — no parse subtree
      .withColumn("rxs", transform(col("_part"), r => r.getField("xs")))
      .withColumn("rys", transform(col("_part"), r => r.getField("ys")))
    reproject(projected, "rxs", "rys", epsg, rings = true)
      .withColumn("x",
        when(col("geom_type") === "point", col("rxs")(0)(0)))
      .withColumn("y",
        when(col("geom_type") === "point", col("rys")(0)(0)))
      // the parsed ring arrays REPLACE the text: keeping the WKT
      // string column would re-materialize every geometry's source
      // text into the checkpoint blocks (measured ~half the
      // checkpoint bytes on text-only ingest frames) for a column no
      // consumer reads — a caller that needs the text keeps its own
      // copy before ingest
      .drop("_parts", "_pi", "_part", wktCol)
  }

  /** Polyline → consecutive-pair segment explode: each n-vertex line
    * yields n−1 rows (seg_idx, x1, y1, x2, y2) feeding the engine's
    * segment operators (`ClippedSegmentLength`, geo_line_density,
    * geo_line_clip) unchanged. Explode-based fanout: a 100 TB road
    * layer parallelizes by line row before the explode, so no single
    * task holds more than its input's vertices. */
  def lineSegments(df: DataFrame,
                   xsCol: String = "xs", ysCol: String = "ys"): DataFrame =
    df.withColumn("seg_idx",
        explode(sequence(lit(1), size(col(xsCol)) - 1)))
      .withColumn("x1", element_at(col(xsCol), col("seg_idx")))
      .withColumn("y1", element_at(col(ysCol), col("seg_idx")))
      .withColumn("x2", element_at(col(xsCol), col("seg_idx") + 1))
      .withColumn("y2", element_at(col(ysCol), col("seg_idx") + 1))
      .drop(xsCol, ysCol)

  // ---- WKT text egress --------------------------------------------
  // All egress routes through the compiled wkt_*_text kernels
  // (functions/WktText.scala): the former zip_with/concat_ws column
  // chains evaluated the vertex lambda INTERPRETED and paid three
  // string copies per coordinate; the kernels append every coordinate
  // into one StringBuilder whose append(double) IS the same
  // Double.toString shortest-round-trip formatting the double→string
  // cast bottoms out in, so the text — and the parse∘format
  // roundtrip certification — is bit-identical (WktTextSpec pins each
  // shape against the cast chain on real Derive geometries).

  /** struct-free egress: (x, y) → `POINT (x y)` (shortest round-trip
    * double formatting — parse(format(v)) is bit-exact). */
  def toWktPoint(x: Column, y: Column): Column =
    call_function("wkt_point_text", x, y)

  /** Vertex arrays → `LINESTRING (…)`, inverse of `lines`. */
  def toWktLineString(xs: Column, ys: Column): Column =
    call_function("wkt_line_text", xs, ys)

  /** Open vertex arrays → `POLYGON ((…))` with the ring closed
    * textually, inverse of `polygons`. */
  def toWktPolygon(xs: Column, ys: Column): Column =
    call_function("wkt_poly_text", xs, ys)

  /** Nested ring arrays → `POLYGON ((outer), (hole), …)`, inverse of
    * `polygonsRings`. */
  def toWktPolygonRings(rxs: Column, rys: Column): Column =
    call_function("wkt_rings_text", rxs, rys)

  /** Array of struct(rxs, rys) parts → `MULTIPOLYGON (…)`, inverse of
    * `multiPolygons` (parts ordered by `part_idx`). */
  def toWktMultiPolygon(parts: Column): Column =
    call_function("wkt_multi_text", parts)
}
