package graft.api

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
    * window or any later exchange. (The registered standalone
    * corpus_quality_filter adds the native bigram repetition signal;
    * this chain step keeps the two cheapest gates.) */
  def qualityFilter(minTok: Int = 20, maxTok: Int = 100000,
                    minDistinctRatio: Double = 0.1): CorpusPipeline = {
    val t = split(col("text"), " ")
    CorpusPipeline(df.filter(
      size(t) >= minTok && size(t) <= maxTok &&
        size(array_distinct(t)).cast("double") / size(t)
          >= minDistinctRatio))
  }

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
      !graft.ops.Retrieval.gopherRules.map(_._2).reduce(_ || _)))

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

  /** Cross-corpus duplicate-BLOCK removal (the ops.Corpus
    * dedup_paragraphs rewrite as a chain step): every 10-token block
    * already seen at a smaller (doc_id, pos) is dropped and the
    * document is rebuilt from its survivors; documents losing every
    * block drop out. Stays ONE lazy plan — two block-key shuffles and
    * a doc-key join, but no materialization, so the later steps'
    * column pruning still reaches the scan. */
  def dedupParagraphs(blockTokens: Int = 10): CorpusPipeline = {
    val t = split(col("text"), " ")
    val nBlocks = ceil(size(t) / lit(blockTokens.toDouble)).cast("int")
    val blockArr = transform(sequence(lit(1), nBlocks),
      i => concat_ws(" ", slice(t, (i - 1) * blockTokens + 1,
        lit(blockTokens))))
    val b = df.select(col("doc_id"),
      posexplode(blockArr).as(Seq("pos", "blk")))
    val packed = expr("""CASE WHEN doc_id >= 0 AND doc_id < 4398046511104
        AND pos >= 0 AND pos < 1048576
      THEN doc_id * 1048576 + pos
      ELSE raise_error('dedupParagraphs: unpackable (doc_id, pos)') END""")
    val canon = b.select(xxhash64(col("blk")).as("bh"), packed.as("pk"))
      .groupBy("bh").agg(min(col("pk")).as("cp"))
    val rebuilt = b
      .select(col("doc_id"), col("pos"), col("blk"),
        xxhash64(col("blk")).as("bh"), packed.as("pk"))
      .join(canon, Seq("bh"))
      .filter(col("pk") === col("cp"))
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("blk")))),
          x => x.getField("blk"))).as("_rebuilt"))
    CorpusPipeline(df.join(rebuilt, Seq("doc_id"))
      .withColumn("text", col("_rebuilt")).drop("_rebuilt"))
  }

  /** Exact shared-SUBSTRING removal as a chain step (Lee et al. 2021
    * ExactSubstr — see the registered `dedup_substrings` report op,
    * which certifies this exact rebuild byte-for-byte against the
    * DuckDB oracle): every w-token window whose content occurs at a
    * smaller (doc_id, pos) marks its tokens for removal, overlapping
    * windows merge into spans via the running-max coverage, and text
    * rebuilds from the survivors. Keyed by the native rolling hash
    * (O(n)/doc, no w× window-string blowup). Only AFFECTED documents
    * re-aggregate (left-semi on the removed set); untouched documents
    * keep their text without riding the rebuild shuffle. A document
    * whose every token is removed keeps an empty-text row (drop it
    * with qualityFilter downstream if that's the policy). */
  def dedupSubstrings(w: Int = 50): CorpusPipeline = {
    val wins = graft.Tables.hot(graft.ops.Corpus.substringWindows(df, w))
    val packed = expr("""CASE WHEN doc_id >= 0 AND doc_id < 4398046511104
        AND pos >= 0 AND pos < 1048576
      THEN doc_id * 1048576 + pos
      ELSE raise_error('dedupSubstrings: unpackable (doc_id, pos)') END""")
    val canon = wins.groupBy("h1", "h2").agg(min(packed).as("cp"))
    val removed = wins.join(canon, Seq("h1", "h2"))
      .filter(packed =!= col("cp"))
      .select(col("doc_id"), col("pos"),
        (col("pos") + lit(w - 1)).as("cend"))
    excise(removed)
  }

  /** Shared span surgery: rebuild `text` with every token covered by
    * a `removed` (doc_id, pos, cend) hit window excised. Docs without
    * hits never pay the explode/rebuild (left_semi prefilter) — at
    * scale the rebuild cost tracks the true duplication/contamination
    * volume, not the corpus size. */
  private def excise(removed: DataFrame): CorpusPipeline = {
    val cov = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rebuilt = df
      .join(removed.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .join(removed, Seq("doc_id", "pos"), "left")
      .withColumn("cov", max(col("cend")).over(cov))
      .withColumn("dropped",
        col("cov").isNotNull && col("cov") >= col("pos"))
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(when(!col("dropped"),
          struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("_rebuilt"))
    CorpusPipeline(df.join(rebuilt, Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("_rebuilt"), col("text")))
      .drop("_rebuilt"))
  }

  /** Substring-grain benchmark decontamination — the surgery
    * `text_decontam_span` certifies, as a chain step: excise every
    * token covered by a ≥ w-token verbatim overlap with `bench` (a
    * (doc_id, text) benchmark frame), keep the rest of the document.
    * The benchmark window set is tiny by nature and broadcasts; the
    * corpus window stream pays a map-side semi-join and never
    * shuffles. */
  def decontamSpan(bench: DataFrame, w: Int = 25): CorpusPipeline = {
    val bw = graft.ops.Corpus.substringWindows(bench, w)
      .select("h1", "h2").distinct()
    val hits = graft.ops.Corpus.substringWindows(df, w)
      .join(broadcast(bw), Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"),
        (col("pos") + lit(w - 1)).as("cend"))
    excise(hits)
  }

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
                       default: String = "80"): CorpusPipeline = {
    val thr = rates.foldLeft(lit(default)) { case (acc, (lang, hex)) =>
      when(col("lang") === lang, hex).otherwise(acc)
    }
    CorpusPipeline(df.filter(substring(md5(col("text")), 1, 2) < thr))
  }

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

  /** Mixture-scheduled physical interleave (the ops.Corpus
    * pack_mixture construction as a chain step — that report op
    * certifies this exact instance set against the DuckDB oracle):
    * replicate every document by its source's scheduled epoch count
    * (⌊e_s⌋ + a deterministic md5-threshold Bernoulli for the
    * fraction) and assign each instance its run position — `slice`
    * (which of `slices` equal timeline slices of the training run)
    * and `mix_h` (the order key within the slice). Uniform hashes
    * spread every source evenly along the run, so no source is
    * front-loaded; the physical write is partitionBy(slice) +
    * sortWithinPartitions(mix_h). Rows keep their full schema plus
    * (rep, slice, mix_h). */
  def packMixture(slices: Int = 64): CorpusPipeline = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val q = df.select(col("source"), nTok.as("_nt"))
      .groupBy("source").agg(sum(col("_nt")).as("src_tok"))
      .withColumn("wq",
        floor(sqrt(col("src_tok").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long"))
    val t = q.agg((sum(col("src_tok")) * 2L).as("budget"),
      sum(col("wq")).as("sumwq"))
    val e = least(lit(graft.ops.Corpus.EpochCap),
      col("budget").cast("double") * col("wq") / col("sumwq")
        / col("src_tok"))
    val sched = q.crossJoin(broadcast(t))
      .select(col("source"), floor(e).cast("long").as("_full_e"),
        floor((e - floor(e)) * lit(1152921504606846976L).cast("double"))
          .cast("long").as("_thr"))
    val h60 = expr("""CAST(conv(substring(md5(concat('mixk:',
      CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)""")
    val h32 = expr("""CAST(conv(substring(md5(concat('mix:',
      CAST(doc_id AS STRING), '#', CAST(rep AS STRING))), 1, 8),
      16, 10) AS BIGINT)""")
    CorpusPipeline(df.join(broadcast(sched), "source")
      .withColumn("_reps",
        col("_full_e") + when(h60 < col("_thr"), 1L).otherwise(0L))
      .where(col("_reps") >= 1L) // sequence(0, n) descends for n < 0
      .withColumn("rep", explode(sequence(lit(0L), col("_reps") - 1L)))
      .withColumn("mix_h", h32)
      .withColumn("slice",
        floor(col("mix_h") / lit(4294967296.0 / slices)).cast("long"))
      .drop("_full_e", "_thr", "_reps"))
  }

  /** Per-shard rollup after packShards. */
  def shardStats: DataFrame =
    df.groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("_n_tok")).as("tok_sum"))
      .orderBy("source", "shard")
}
