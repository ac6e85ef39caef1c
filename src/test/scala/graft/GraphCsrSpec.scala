package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Graph

/** The co-purchase graph's one root artifact is the CSR adjacency
  * (`Graph.prCsr`), built from lineitem in one aggregate and one
  * checkpoint. Every other graph form derives from it, so each must
  * equal what the lazy `Graph.coEdges` self-join reference gives:
  *  - on the spec data, row for row;
  *  - on a hand-made lineitem holding the cases the two builds treat
  *    differently: null order keys (grouping keeps a null-key group,
  *    the self-join drops it), a one-line order, an order listing one
  *    part twice, and an empty table.
  */
class GraphCsrSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The reference forms, from the self-join. */
  private def refDirected(dir: String): DataFrame = {
    val e = Graph.coEdges(spark, dir)
    e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
  }
  private def refDegrees(dir: String): DataFrame =
    refDirected(dir).groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))

  private def assertMatchesReference(dir: String): Unit = {
    assert(rows(Graph.coEdgesHot(spark, dir)) == rows(Graph.coEdges(spark, dir)),
      s"$dir: coEdgesHot differs from the coEdges reference")
    assert(rows(Graph.dirEdges(spark, dir)) == rows(refDirected(dir)),
      s"$dir: dirEdges differs from the reference")
    val (deg, nVerts) = Graph.degrees(spark, dir)
    assert(deg.schema("deg").dataType == LongType)
    assert(rows(deg) == rows(refDegrees(dir)),
      s"$dir: degrees differ from the reference")
    assert(nVerts == refDegrees(dir).count())
    // nbrs is sorted and distinct, and deg is its size
    val (csr, _) = Graph.prCsr(spark, dir)
    csr.collect().foreach { r =>
      val nbrs = r.getSeq[Any](2).map(_.toString.toLong)
      assert(nbrs == nbrs.distinct.sorted && r.getInt(1) == nbrs.size,
        s"$dir: CSR row $r is not a sorted distinct neighbor array")
    }
  }

  /** `lineitem` with just the two columns the graph reads. */
  private def withLineitem(lines: Seq[(java.lang.Long, java.lang.Long)])
                          (body: String => Unit): Unit = {
    val dir: Path = Files.createTempDirectory("graft-csr")
    try {
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
      spark.createDataFrame(
          spark.sparkContext.parallelize(lines.map { case (o, p) => Row(o, p) }, 1),
          schema)
        .write.parquet(dir.resolve("lineitem.parquet").toString)
      body(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("in a fresh session the CSR builds with exactly one checkpoint job") {
    val fresh = spark.newSession()
    val jobs = jobsDuring(Graph.prCsr(fresh, sfDir))
    // the perfbench rule: a job whose call site is a checkpoint action
    // inside Tables (schema inference runs as "parquet at …")
    val ckpts = jobs.filter(n => n.contains("Tables.scala") && !n.startsWith("parquet at"))
    assert(ckpts.size == 1, s"CSR build ran ${ckpts.size} checkpoint jobs: $jobs")
  }

  test("derived edges and degrees equal the coEdges reference on the spec data") {
    assert(Graph.coEdges(spark, sfDir).count() > 0)
    assertMatchesReference(sfDir)
  }

  test("a hand-made lineitem gives the reference edge set") {
    val L = java.lang.Long.valueOf(_: Long)
    withLineitem(Seq(
      (L(1), L(10)), (L(1), L(20)), (L(1), L(30)),  // a triangle
      (L(2), L(20)), (L(2), L(20)), (L(2), L(40)),  // one part twice
      (L(3), L(50)),                                // one-line order
      (L(4), L(60)), (L(4), L(60)),                 // only one part, twice
      (null, L(10)), (null, L(60)),                 // null order keys
      (L(5), L(70)), (L(5), null))) { dir =>        // a null part
      assertMatchesReference(dir)
      assert(rows(Graph.coEdgesHot(spark, dir)) ==
        Seq("[10,20]", "[10,30]", "[20,30]", "[20,40]"))
    }
  }

  test("an empty lineitem gives an empty CSR") {
    withLineitem(Nil) { dir =>
      val (csr, nVerts) = Graph.prCsr(spark, dir)
      assert(nVerts == 0L && csr.isEmpty)
      assertMatchesReference(dir)
    }
  }
}
