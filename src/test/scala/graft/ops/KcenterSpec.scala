package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KcenterSpec extends SparkSpec {
  import spark.implicits._

  test("farthest-first picks the known order on crafted geometry") {
    // points on a line (padded to 2 dims): 0, 100, 10, 55, 99.
    // seed = vec_id 0 (at 0). Farthest from {0} is 100 (id 1,
    // d²=10000). Farthest from {0,100} is 55 (id 3, min d² = 2025).
    // Then 10 (id 2: min(100, 8100, 2025)=100) vs 99 (id 4: min d²=1)
    // → 10. Then 99 last.
    val e = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(100.0, 0.0)), (2L, Seq(10.0, 0.0)),
      (3L, Seq(55.0, 0.0)), (4L, Seq(99.0, 0.0)))
      .toDF("vec_id", "v")
    val got = VectorOps.kcenterFrom(e, 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._2).toSeq == Seq(0L, 1L, 3L, 2L, 4L))
    assert(got.map(_._3).toSeq == Seq(0.0, 10000.0, 2025.0, 100.0, 1.0))
  }

  test("registered selection: distinct picks, radius non-increasing " +
    "after the seed") {
    val rows = VectorOps.sampleKcenter(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 8)
    assert(rows.map(_._2).distinct.length == 8, "picks must be distinct")
    val radii = rows.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"coverage radius must be non-increasing: ${radii.mkString(",")}")
    assert(radii.forall(_ > 0.0))
  }
}
