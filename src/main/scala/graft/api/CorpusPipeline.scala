package graft.api

import graft.ops.Corpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fluent corpus-assembly pipeline — the LLM-data analogue of the
  * reference's fluent Calculator chain (reference duckpipe/core.py:
  * add_point_with_table → calculators → get_result): each step is a
  * lazy DataFrame transform, so the whole chain compiles into ONE
  * Catalyst plan (no per-step materialization) and optimizes globally
  * — filters sink below windows where legal, column pruning reaches
  * the scan once at the end.
  *
  * Steps are deterministic pure functions of the data (md5-prefix
  * sampling, doc_id-ordered packing), never RNG/driver state: the
  * same input produces the same corpus at any cluster size, and a
  * failed 100 TB run re-executes to identical output.
  *
  * Every step that has an oracle-certified report op in ops.Corpus
  * (dedup_paragraphs, dedup_substrings, text_decontam_span,
  * pack_mixture, pack_shards, sample_stratified, text_gopher) runs
  * that op's own core and projects it to rows; there is no second
  * copy of the algorithm here. Steps that rewrite `text` drop the
  * `toks`/`n_tok` columns a Text.docToks frame carries.
  *
  * {{{
  * CorpusPipeline(docs)
  *   .dedupExact          // keep the lowest doc_id per exact text
  *   .sampleStratified()  // per-language md5-prefix downsampling
  *   .packShards(2000)    // token-budget contiguous shards
  *   .shardStats          // (source, shard, n_docs, tok_sum)
  * }}}
  */
final case class CorpusPipeline(df: DataFrame) {

  /** Quality gate BEFORE any shuffle-bearing step: token-count band +
    * distinct-token ratio, all within-row — a pure filter that Catalyst
    * pushes to the scan, so rejected documents never enter the dedup
    * window or any later exchange. The predicate is Corpus.qualityGate,
    * the one corpus_quality_filter adds its native bigram repetition
    * signal to. */
  def qualityFilter(minTok: Int = 20, maxTok: Int = 100000,
                    minDistinctRatio: Double = 0.1): CorpusPipeline =
    CorpusPipeline(df.filter(
      Corpus.qualityGate(minTok, maxTok, minDistinctRatio)))

  /** Gopher rule gate (Rae et al. 2021 §A1.1) as a chain step — the
    * published heavier sibling of [[qualityFilter]]: word-count band,
    * mean word length, stop-word presence, alphabetic-word ratio and
    * symbol ratio, every comparison in cross-multiplied integer
    * arithmetic. The predicates are THE SAME column expressions the
    * registered `text_gopher` report certifies against the oracle
    * (ops.Retrieval.gopherRules — one definition, no drift), and the
    * step is a pure within-row filter Catalyst pushes to the scan. */
  def gopherFilter(): CorpusPipeline =
    CorpusPipeline(df.filter(
      !graft.ops.Retrieval.gopherRules(graft.ops.Text.toksOf(df))
        .map(_._2).reduce(_ || _)))

  /** TRAINED quality gate (FineWeb-Edu/CCNet class) — apply a weight
    * vector learned by `ops.QualityLr.trainLr` as a pure within-row
    * filter: keep documents whose fixed-point logit is ≥ 0 (p ≥ ½).
    * The logit is THE SAME integer arithmetic training used
    * (QualityLr.logitZ — one definition, no drift), the model rides
    * in as an O(Buckets) array literal, and the predicate pushes like
    * any other scan filter — no join, no shuffle, model-serving at
    * scan speed. */
  def lrQualityFilter(weights: Array[Long]): CorpusPipeline =
    CorpusPipeline(df.filter(
      graft.ops.QualityLr.logitZ(split(col("text"), " "), weights)
        >= 0L))

  /** Cross-corpus duplicate-BLOCK removal: every `blockTokens`-token
    * block already seen at a smaller (doc_id, pos) is dropped and the
    * document is rebuilt from its survivors; documents losing every
    * block drop out. Runs the same blocks + canonical-keep core as the
    * certified `dedup_paragraphs` report (Corpus.paragraphBlocks /
    * keptBlocks), but stays ONE lazy plan — two block-key shuffles and
    * a doc-key join, no materialization, so the later steps' column
    * pruning still reaches the scan. */
  def dedupParagraphs(blockTokens: Int = 10): CorpusPipeline = {
    val rebuilt = Corpus.keptBlocks(Corpus.paragraphBlocks(df, blockTokens))
      .groupBy("doc_id").agg(Corpus.keptText.as("_rebuilt"))
    // text is rewritten: a docToks frame's toks/n_tok would go stale
    CorpusPipeline(df.drop("toks", "n_tok").join(rebuilt, Seq("doc_id"))
      .withColumn("text", col("_rebuilt")).drop("_rebuilt"))
  }

  /** Exact shared-SUBSTRING removal (Lee et al. 2021 ExactSubstr):
    * every w-token window whose content occurs at a smaller (doc_id,
    * pos) marks its tokens for removal, overlapping windows merge into
    * spans, and text rebuilds from the survivors. Runs the same core
    * as the certified `dedup_substrings` report — its duplicate-window
    * hits (Corpus.substringDupHits) and its per-doc span fold, here
    * projected to the rebuilt text (Corpus.spanExcise). Only hit
    * positions shuffle to their document; a document whose every
    * token is removed keeps an empty-text row (drop it with
    * qualityFilter downstream if that's the policy). */
  def dedupSubstrings(w: Int = 50): CorpusPipeline =
    CorpusPipeline(Corpus.spanExcise(df, Corpus.substringDupHits(df, w), w))

  /** Substring-grain benchmark decontamination: excise every token
    * covered by a ≥ w-token verbatim overlap with `bench` (a
    * (doc_id, text) benchmark frame), keep the rest of the document.
    * Runs the same core as the certified `text_decontam_span` report
    * — the broadcast benchmark-window semi-join (Corpus.decontamHits)
    * and the per-doc span fold — so the corpus window stream never
    * shuffles. */
  def decontamSpan(bench: DataFrame, w: Int = 25): CorpusPipeline =
    CorpusPipeline(Corpus.spanExcise(df,
      Corpus.decontamHits(Corpus.benchWindowSet(bench, w), df, w), w))

  /** Exact dedup keeping the smallest doc_id per identical text —
    * one hash shuffle; rows keep their full schema (window argmin,
    * not a groupBy that would drop columns). */
  def dedupExact: CorpusPipeline = {
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    CorpusPipeline(
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn"))
  }

  /** Deterministic stratified sampling: keep a row iff the first two
    * hex digits of md5(text) fall below its language's threshold
    * (a pure map stage — no shuffle, no RNG). Thresholds are hex
    * prefixes: "29"/256 ≈ 16%, "80"/256 = 50%. */
  def sampleStratified(rates: Map[String, String] = Map("en" -> "29"),
                       default: String = "80"): CorpusPipeline =
    CorpusPipeline(df.filter(Corpus.stratifiedKeep(rates, default)))

  /** Token-budget contiguous sharding within each source (doc_id
    * order): shard = floor(tokens-before-this-doc / budget). One
    * narrow per-source window — no global sort. */
  def packShards(budget: Int): CorpusPipeline = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nTok = size(split(col("text"), " "))
    CorpusPipeline(
      df.withColumn("_n_tok", nTok)
        .withColumn("shard",
          floor((sum(col("_n_tok")).over(w) - col("_n_tok")) /
            lit(budget.toDouble)).cast("bigint")))
  }

  /** Mixture-scheduled physical interleave: replicate every document
    * by its source's scheduled epoch count (⌊e_s⌋ + a deterministic
    * md5-threshold Bernoulli for the fraction) and assign each
    * instance its run position — `slice` (which of `slices` equal
    * timeline slices of the training run) and `mix_h` (the order key
    * within the slice). Uniform hashes spread every source evenly
    * along the run, so no source is front-loaded; the physical write
    * is partitionBy(slice) + sortWithinPartitions(mix_h). Runs the
    * same instance core as the certified `pack_mixture` report
    * (Corpus.mixtureInstances), which aggregates these rows. Rows
    * keep their full schema plus (rep, mix_h, slice). */
  def packMixture(slices: Int = 64): CorpusPipeline =
    CorpusPipeline(Corpus.mixtureInstances(df,
      size(split(col("text"), " ")).cast("long"), slices))

  /** Per-shard rollup after packShards. */
  def shardStats: DataFrame =
    df.groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("_n_tok")).as("tok_sum"))
      .orderBy("source", "shard")
}
