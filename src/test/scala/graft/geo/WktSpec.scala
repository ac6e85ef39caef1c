package graft.geo

import graft.SparkSpec
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WKT ingest contract: bit-exact round-trips into the planar model,
  * reference-CRS reprojection on ingest (duckpipe/core.py:138-152),
  * and LOUD failure on malformed geometry (silent nulls would poison
  * every downstream geo join).
  */
class WktSpec extends SparkSpec {
  import spark.implicits._

  test("POINT round-trip is bit-exact") {
    val src = graft.geo.Derive.points(spark, sfDir)
    val back = Wkt.points(
      src.select(col("id"), Wkt.toWktPoint(col("x"), col("y")).as("wkt")),
      "wkt").select("id", "x", "y")
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("POLYGON round-trip preserves open vertex arrays") {
    val src = graft.geo.Derive.triangles(spark, sfDir)
    val back = Wkt.polygons(
      src.select(col("poly_id"),
        Wkt.toWktPolygon(col("xs"), col("ys")).as("wkt")),
      "wkt").select("poly_id", "xs", "ys")
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("EPSG:4326 POINT ingest equals the direct forward projection") {
    val w = graft.geo.Derive.wgsPoints(spark, sfDir)
    val viaWkt = Wkt.points(
      w.select(col("id"), Wkt.toWktPoint(col("lon"), col("lat")).as("wkt")),
      "wkt", epsg = 4326).select("id", "x", "y")
    val direct = w.select(col("id"),
        Proj.forward(col("lon"), col("lat")).as("p"))
      .select(col("id"), col("p.x").as("x"), col("p.y").as("y"))
    assert(viaWkt.except(direct).isEmpty && direct.except(viaWkt).isEmpty)
  }

  test("projected-CRS POLYGON ingest reprojects every vertex") {
    // a triangle authored in EPSG:5186 (central belt) must land on the
    // same 5179 coordinates as transforming its vertices directly
    val tri = Seq((1L, "POLYGON ((200000 600000, 200100 600000, 200000 600100, 200000 600000))"))
      .toDF("poly_id", "wkt")
    val got = Wkt.polygons(tri, "wkt", epsg = 5186)
      .select(explode(arrays_zip(col("xs"), col("ys"))).as("v"))
      .select(col("v.xs").as("x"), col("v.ys").as("y"))
    val want = Seq((200000.0, 600000.0), (200100.0, 600000.0),
        (200000.0, 600100.0)).toDF("px", "py")
      .select(Proj.transform(col("px"), col("py"),
        Proj.epsg(5186), Proj.Epsg5179).as("t"))
      .select(col("t.x").as("x"), col("t.y").as("y"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("holed POLYGON round-trip preserves ring sets") {
    val src = graft.geo.Derive.holedTriangles(spark, sfDir)
    val back = Wkt.polygonsRings(
      src.select(col("poly_id"),
        Wkt.toWktPolygonRings(col("rxs"), col("rys")).as("wkt")),
      "wkt").select("poly_id", "rxs", "rys")
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("MULTIPOLYGON parses parts (with holes) into rows") {
    val m = Seq((1L,
      "MULTIPOLYGON (((0 0, 4 0, 0 4, 0 0), (1 1, 2 1, 1 2, 1 1)), " +
        "((10 10, 14 10, 10 14, 10 10)))"))
      .toDF("m_id", "wkt")
    val parts = Wkt.multiPolygons(m, "wkt")
      .select("m_id", "part_idx", "rxs", "rys")
      .collect()
      .map(r => (r.getInt(1),
        r.getSeq[scala.collection.Seq[Double]](2).map(_.toList).toList,
        r.getSeq[scala.collection.Seq[Double]](3).map(_.toList).toList))
      .toSet
    assert(parts == Set(
      (1, List(List(0.0, 4.0, 0.0), List(1.0, 2.0, 1.0)),
        List(List(0.0, 0.0, 4.0), List(1.0, 1.0, 2.0))),
      (2, List(List(10.0, 14.0, 10.0)),
        List(List(10.0, 10.0, 14.0)))))
    // egress round-trip through toWktMultiPolygon, parts in part_idx order
    val direct = Wkt.multiPolygons(m, "wkt")
      .select("m_id", "part_idx", "rxs", "rys")
    val text = direct.groupBy("m_id")
      .agg(sort_array(collect_list(
        struct(col("part_idx"), col("rxs"), col("rys")))).as("ps"))
      .select(col("m_id"), Wkt.toWktMultiPolygon(transform(col("ps"),
        p => struct(p("rxs").as("rxs"), p("rys").as("rys")))).as("wkt"))
    val rebuilt = Wkt.multiPolygons(text, "wkt")
      .select("m_id", "part_idx", "rxs", "rys")
    assert(rebuilt.except(direct).isEmpty && direct.except(rebuilt).isEmpty)
  }

  test("LINESTRING round-trip preserves vertex arrays") {
    val src = graft.geo.Derive.polylines(spark, sfDir)
    val back = Wkt.lines(
      src.select(col("fid"),
        Wkt.toWktLineString(col("xs"), col("ys")).as("wkt")),
      "wkt").select("fid", "xs", "ys")
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("LINESTRING explodes to consecutive-pair segments") {
    val line = Seq((7L, "LINESTRING (0 0, 3 4, 3 10, 9 10)"))
      .toDF("fid", "wkt")
    val segs = Wkt.lineSegments(Wkt.lines(line, "wkt"))
      .select("fid", "seg_idx", "x1", "y1", "x2", "y2")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(segs == Set(
      (7L, 1, 0.0, 0.0, 3.0, 4.0),
      (7L, 2, 3.0, 4.0, 3.0, 10.0),
      (7L, 3, 3.0, 10.0, 9.0, 10.0)))
  }

  test("projected-CRS LINESTRING ingest reprojects every vertex") {
    val line = Seq((1L, "LINESTRING (200000 600000, 200100 600100)"))
      .toDF("fid", "wkt")
    val got = Wkt.lines(line, "wkt", epsg = 5186)
      .select(explode(arrays_zip(col("xs"), col("ys"))).as("v"))
      .select(col("v.xs").as("x"), col("v.ys").as("y"))
    val want = Seq((200000.0, 600000.0), (200100.0, 600100.0))
      .toDF("px", "py")
      .select(Proj.transform(col("px"), col("py"),
        Proj.epsg(5186), Proj.Epsg5179).as("t"))
      .select(col("t.x").as("x"), col("t.y").as("y"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("mixed-geometry dispatch routes per prefix and rejects unknowns") {
    val mixed = Seq(
      (1L, "POINT (3 4)"),
      (2L, "LINESTRING (0 0, 1 1, 2 0)"),
      (3L, "POLYGON ((0 0, 4 0, 0 4, 0 0), (1 1, 2 1, 1 2, 1 1))"),
      (4L, "MULTIPOLYGON (((0 0, 1 0, 0 1, 0 0)), ((5 5, 6 5, 5 6, 5 5)))"))
      .toDF("gid", "wkt")
    val g = Wkt.geometries(mixed, "wkt")
      .select("gid", "geom_type", "part_idx", "rxs", "x")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getSeq[scala.collection.Seq[Double]](3).map(_.toList).toList,
        Option(r.get(4)))).toSet
    assert(g == Set(
      (1L, "point", 1, List(List(3.0)), Some(3.0)),
      (2L, "line", 1, List(List(0.0, 1.0, 2.0)), None),
      (3L, "polygon", 1,
        List(List(0.0, 4.0, 0.0), List(1.0, 2.0, 1.0)), None),
      (4L, "multipolygon", 1, List(List(0.0, 1.0, 0.0)), None),
      (4L, "multipolygon", 2, List(List(5.0, 6.0, 5.0)), None)))
    val e = intercept[Exception] {
      Wkt.geometries(Seq((9L, "GEOMETRYCOLLECTION (POINT (1 2))"))
        .toDF("gid", "wkt"), "wkt").collect()
    }
    assert(Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      .contains("unsupported WKT geometry"))
  }

  private type Ingest = (DataFrame, String) => DataFrame

  /** Runs `ingest` over a one-row `wkt` column; returns every message
    * of the raised SparkException chain. */
  private def boom(wkt: String, ingest: Ingest): String = {
    val e = intercept[Exception] {
      ingest(Seq(wkt).toDF("wkt"), "wkt").collect()
    }
    Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
  }

  test("malformed WKT fails loudly with the offending text") {
    val points: Ingest = Wkt.points(_, _)
    val polygons: Ingest = Wkt.polygons(_, _)
    val lines: Ingest = Wkt.lines(_, _)
    val rings: Ingest = Wkt.polygonsRings(_, _)
    val multi: Ingest = Wkt.multiPolygons(_, _)
    assert(boom("POINT (1 2 3)", points)
      .contains("malformed WKT POINT vertex (two WKT numbers 'x y')"))
    assert(boom("LINESTRING (0 0, 1 1)", points)
      .contains("malformed WKT POINT: LINESTRING (0 0, 1 1)"))
    // unclosed ring (4 points so the size guard passes first)
    assert(boom("POLYGON ((0 0, 1 0, 1 1, 0 1))", polygons)
      .contains("malformed WKT POLYGON (ring not closed)"))
    // 3 points can never close a ring — caught by the size guard
    assert(boom("POLYGON ((0 0, 1 0, 0 1))", polygons)
      .contains("malformed WKT POLYGON ring (>= 4 points"))
    // interior ring (hole) — unsupported, must not be silently dropped
    assert(boom("POLYGON ((0 0, 4 0, 0 4, 0 0), (1 1, 2 1, 1 2, 1 1))",
      polygons).contains("malformed WKT POLYGON (single exterior ring"))
    assert(boom("POLYGON ((0 0, 1 junk, 0 0))", polygons)
      .contains("malformed WKT POLYGON ring vertex (two WKT numbers"))
    // LINESTRING: single point, junk token, wrong geometry, bad parens
    assert(boom("LINESTRING (1 2)", lines)
      .contains("malformed WKT LINESTRING (>= 2 points)"))
    assert(boom("LINESTRING (0 0, 1 junk)", lines)
      .contains("malformed WKT LINESTRING vertex (two WKT numbers"))
    assert(boom("POINT (1 2)", lines)
      .contains("malformed WKT LINESTRING (>= 2 points): POINT (1 2)"))
    assert(boom("LINESTRING ((0 0, 1 1))", lines)
      .contains("malformed WKT LINESTRING (>= 2 points)"))
    // ring sets: too-short hole, junk between rings, unbalanced
    assert(boom("POLYGON ((0 0, 4 0, 0 4, 0 0), (1 1, 2 1, 1 2))", rings)
      .contains("malformed WKT POLYGON ring (>= 4 points"))
    assert(boom("POLYGON ((0 0, 4 0, 0 4, 0 0), junk)", rings)
      .contains("malformed WKT POLYGON ring list"))
    assert(boom("POLYGON ((0 0, 4 0, 0 4, 0 0)", rings)
      .contains("malformed WKT POLYGON ring list"))
    assert(boom("MULTIPOLYGON ((0 0, 1 0, 0 1, 0 0))", multi)
      .contains("malformed WKT MULTIPOLYGON ring list"))
    assert(boom("MULTIPOLYGON (((0 0, 1 0, 0 1, 0 0)), ((1 junk)))", multi)
      .contains("malformed WKT MULTIPOLYGON ring vertex (two WKT numbers"))
    // the WKT number grammar: Double.parseDouble alone would take these
    Seq("POINT (NaN 1)", "POINT (Infinity 1)", "POINT (0x1p3 1)",
        "POINT (1d 2f)", "POINT (.5 1.)").foreach { w =>
      assert(boom(w, points)
        .contains(s"malformed WKT POINT vertex (two WKT numbers 'x y'): $w"))
      assert(boom(w, Wkt.geometries(_, _))
        .contains(s"malformed WKT POINT vertex (two WKT numbers 'x y'): $w"))
    }
    assert(boom("POLYGON ((0 0, 4d 0, 0 4, 0 0))", polygons)
      .contains("malformed WKT POLYGON ring vertex (two WKT numbers"))
  }

  test("signed and exponent coordinates follow the WKT number grammar") {
    val got = Wkt.points(Seq("POINT (+1e3 -2.5E-3)").toDF("wkt"), "wkt")
      .select("x", "y").as[(Double, Double)].collect().toSeq
    assert(got == Seq((1000.0, -0.0025)))
  }
}
