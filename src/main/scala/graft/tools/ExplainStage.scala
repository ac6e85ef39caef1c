package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan inspector for stages that sit BEHIND a localCheckpoint fence:
  * the registered query's final plan reads the checkpointed blocks
  * ("Scan ExistingRDD"), so `graft.Explain` cannot show the ingest
  * parse/format work the fence hides (the substringWindows
  * precedent). This prints the formatted physical plan of the named
  * PRE-checkpoint stage, built on the same synthetic WKT inputs the
  * registered geo queries serialize.
  *
  * Usage: tools/run.sh graft.tools.ExplainStage <sfDir> <stage...>
  * Stages: wkt_points, wkt_polygons, wkt_lines, wkt_rings, wkt_multi,
  *         wkt_geometries
  */
object ExplainStage {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    import graft.geo.{Derive, Wkt}

    def polyWkt(s: SparkSession): DataFrame =
      graft.Tables.fanout(Derive.triangles(s, dir)).select(col("poly_id"),
        Wkt.toWktPolygon(col("xs"), col("ys")).as("wkt"))
    def lineWkt(s: SparkSession): DataFrame =
      graft.Tables.fanout(Derive.polylines(s, dir)).select(col("fid"),
        Wkt.toWktLineString(col("xs"), col("ys")).as("wkt"))
    def pointWkt(s: SparkSession): DataFrame =
      Derive.points(s, dir).select(col("id"),
        Wkt.toWktPoint(col("x"), col("y")).as("wkt"))

    val stages: Map[String, SparkSession => DataFrame] = Map(
      "wkt_points" -> (s => Wkt.points(pointWkt(s), "wkt")),
      "wkt_polygons" -> (s => Wkt.polygonsStage(polyWkt(s), "wkt", 5179)),
      "wkt_lines" -> (s => Wkt.linesStage(lineWkt(s), "wkt", 5179)),
      "wkt_rings" -> (s => Wkt.polygonsRingsStage(polyWkt(s), "wkt", 5179)),
      "wkt_multi" -> (s => Wkt.multiPolygonsStage(
        graft.ops.GeoQueries.multiPolyWktText(s, dir), "wkt", 5179)),
      "wkt_geometries" -> (s => Wkt.geometriesStage(pointWkt(s), "wkt", 5179)))

    val unknown = args.tail.filterNot(stages.contains)
    require(unknown.isEmpty, s"unknown stage(s): ${unknown.mkString(", ")}")
    val spark = graft.SparkEntry.harnessSession()
    args.tail.foreach { name =>
      println(s"==== stage $name ====")
      stages(name)(spark).explain("formatted")
    }
    spark.stop()
  }
}
