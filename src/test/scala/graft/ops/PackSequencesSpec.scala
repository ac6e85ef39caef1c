package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

class PackSequencesSpec extends SparkSpec {

  private def ffd(sizesAsc: Seq[Long], cap: Int): Int =
    graft.functions.FfdMath.bins(
      new GenericArrayData(sizesAsc.toArray), cap)

  test("ffd_bins: exact packing on known sizes") {
    // desc walk: 8 -> b1(rem 2), 7 -> b2(rem 3), 3 -> b2(0), 2 -> b1(0),
    // 1 -> b3 — first-fit-decreasing opens exactly 3 bins
    assert(ffd(Seq(1L, 2L, 3L, 7L, 8L), 10) == 3)
    // perfect fit: two bins, zero waste
    assert(ffd(Seq(4L, 6L, 10L), 10) == 2)
    // oversized item clamps to cap and occupies one bin alone
    assert(ffd(Seq(3L, 15L), 10) == 2)
    assert(ffd(Seq.empty, 10) == 0)
  }

  test("pack_sequences: feasibility + the FFD half-full bound on " +
    "every bucket, exact waste arithmetic") {
    val cap = 4096
    val out = Corpus.packSequences(spark, sfDir, cap).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (tok, bins, waste) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bins * cap >= tok, "packing must be feasible")
      assert(waste == 1000000L * (bins * cap - tok) / (bins * cap))
    }
    // per BUCKET (the grain FFD actually runs at): at most one bin can
    // end at most half full, else the later bin's first item would
    // have first-fit into the earlier — so n_bins <= 2*tok/cap + 1
    val d = graft.Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        least(size(split(col("text"), " ")).cast("long"),
          lit(cap.toLong)).as("n_tok"),
        expr(s"""CAST(conv(substring(md5(concat('pack:',
          CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 8""")
          .as("bucket"))
    val per = d.groupBy("source", "bucket")
      .agg(call_function("ffd_bins",
          array_sort(collect_list(col("n_tok"))), lit(cap)).as("b"),
        sum("n_tok").as("t"))
      .collect()
    per.foreach { r =>
      val (b, t) = (r.getInt(2).toLong, r.getLong(3))
      assert(b <= 2 * t / cap + 1,
        s"FFD bound violated: $b bins for $t tokens at cap $cap")
    }
  }
}
