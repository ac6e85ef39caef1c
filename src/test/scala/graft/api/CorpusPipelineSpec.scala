package graft.api

import graft.SparkSpec
import graft.ops.Corpus
import org.apache.spark.sql.functions._

/** CorpusPipeline steps that rewrite `text` over a Text.docToks-shaped
  * frame, and the packed (doc_id, pos) guard both the steps and the
  * certified report cores key their canonical argmin on. */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i")

  test("text-rewriting steps drop the stale toks/n_tok of a docToks frame") {
    // a 12-token motif shared by both docs (aligned to 4-token blocks
    // in both) and held by the benchmark
    val motif = toks("m", 12)
    val d0 = (motif ++ toks("a", 8)).mkString(" ")
    val d1 = (toks("b", 4) ++ motif).mkString(" ")
    val docs = Seq(0L -> d0, 1L -> d1).toDF("doc_id", "text")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
    val bench = Seq(9000L -> motif.mkString(" ")).toDF("doc_id", "text")
    val b = toks("b", 4).mkString(" ")
    val steps = Seq(
      ("dedupParagraphs", CorpusPipeline(docs).dedupParagraphs(4),
        Map(0L -> d0, 1L -> b)),
      ("dedupSubstrings", CorpusPipeline(docs).dedupSubstrings(10),
        Map(0L -> d0, 1L -> b)),
      ("decontamSpan", CorpusPipeline(docs).decontamSpan(bench, 10),
        Map(0L -> toks("a", 8).mkString(" "), 1L -> b)))
    steps.foreach { case (name, p, expected) =>
      val cols = p.df.columns
      assert(!cols.contains("toks") && !cols.contains("n_tok"),
        s"$name keeps stale token columns: ${cols.mkString(", ")}")
      val texts = p.df.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(texts == expected, s"$name rewrote text to $texts")
    }
  }

  test("the packed (doc_id, pos) guard names the op and the offending " +
    "pair on every path") {
    val big = 1L << 42
    // exactly one 10-token block and one 10-token window (pos 0), so
    // the failing pair is determinate
    val docs = Seq(big -> toks("g", 10).mkString(" ")).toDF("doc_id", "text")
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    val paths = Seq(
      ("CorpusPipeline.dedupParagraphs", "dedup_paragraphs",
        () => CorpusPipeline(docs).dedupParagraphs().df.collect()),
      ("CorpusPipeline.dedupSubstrings", "dedup_substrings",
        () => CorpusPipeline(docs).dedupSubstrings(10).df.collect()),
      ("dedup_paragraphs core", "dedup_paragraphs",
        () => Corpus.dedupParagraphsCore(docs).collect()),
      ("dedup_substrings core", "dedup_substrings",
        () => Corpus.substringDedupCore(docs, 10).collect()))
    paths.foreach { case (path, op, run) =>
      val msg = messages(intercept[Exception](run()))
      assert(msg.contains(s"$op: unpackable (doc_id, pos)=($big,0)"),
        s"$path: $msg")
    }
  }
}
