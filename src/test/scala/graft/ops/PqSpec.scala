package graft.ops

import graft.{SparkSpec, Tables}
import graft.functions.Vec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {

  private def e = {
    Tables.fanout(Tables.load(spark, sfDir, "embeddings"))
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("v"))
  }

  test("codes are in range and errors non-negative") {
    val rows = VectorOps.embedPq(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (1 to 4).foreach { i =>
        val c = r.getLong(i)
        assert(c >= 0 && c < VectorOps.PqK, s"code out of range: $c")
      }
      assert(r.getDouble(5) >= 0.0)
    }
  }

  test("ADC distance of a vector to its own codes equals its reconstruction error") {
    val corpus = e
    val cents = broadcast(Tables.hot(VectorOps.pqCodebook(corpus)))
    val codes = VectorOps.pqAssign(corpus, cents)
    // the per-(vec, sub) argmin residual IS the ADC lookup for the
    // vector's own code — their fixed-order sum must equal recon_err
    val selfAdc = codes.groupBy("vec_id")
      .agg(
        max(when(col("sub") === 0, col("cd"))).as("d0"),
        max(when(col("sub") === 1, col("cd"))).as("d1"),
        max(when(col("sub") === 2, col("cd"))).as("d2"),
        max(when(col("sub") === 3, col("cd"))).as("d3"))
      .select(col("vec_id"),
        round(col("d0") + col("d1") + col("d2") + col("d3"), 6).as("self_ad"))
    val enc = VectorOps.pqEncode(corpus, VectorOps.pqCodebook(corpus))
      .select(col("vec_id"), col("recon_err"))
    val diff = selfAdc.join(enc, "vec_id")
      .filter(abs(col("self_ad") - col("recon_err")) > 1e-9)
      .count()
    assert(diff == 0, s"$diff vectors violate the self-ADC identity")
  }

  test("ann_ivf_pq: per-query ranking is well-formed and distances sane") {
    val rows = VectorOps.annIvfPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length),
        s"query $qid: rn must be consecutive from 1")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq,
        s"query $qid: adist must be non-decreasing in rank")
      sorted.foreach { case (_, cid, ad, _) =>
        assert(ad >= 0.0 && cid != qid)
      }
    }
  }

  test("one Lloyd refinement does not worsen mean reconstruction error") {
    def meanErr(iters: Int): Double =
      VectorOps.pqEncode(e, VectorOps.pqCodebook(e, iters))
        .agg(avg("recon_err")).collect()(0).getDouble(0)
    val seedErr = meanErr(0)
    val refined = meanErr(1)
    assert(refined <= seedErr + 1e-9,
      s"Lloyd step worsened mean PQ error: seed=$seedErr refined=$refined")
  }
}
