package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the incremental twin of
  * ops.TextDedup.dedupExact: documents arriving on a stream are
  * deduplicated by content hash with `dropDuplicates` state, bounded
  * by a watermark on arrival time in production (here the synthetic
  * table has no arrival column, so state is unbounded — the pattern
  * is the point).
  */
object StreamDedup {

  def distinctDocs(spark: SparkSession, dir: String): DataFrame =
    readDocs(spark, dir)
      .withColumn("h", md5(col("text")))
      .dropDuplicates("h")
      .select("doc_id", "h")

  /** Watermark-bounded streaming dedup — the production shape: state
    * for a key is dropped once the watermark passes it, so state stays
    * bounded no matter how long the stream runs (the unbounded
    * `distinctDocs` above exists because the documents table has no
    * arrival column). Works on any stream carrying (event_id,
    * event_ts); the events binding below uses real event time. */
  def dedupWatermarked(events: DataFrame): DataFrame =
    events.withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "ts_us")

  def dedupEventsWatermarked(spark: SparkSession, dir: String): DataFrame =
    dedupWatermarked(EventStream.readEvents(spark, dir))

  /** Documents as a stream, schema from the `Tables` catalog (the
    * readEvents pattern — parquet-type drift cannot desync sides). */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(graft.Tables.schema(spark, dir, "documents"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Streaming twin of ops.TextDedup.dedupIncremental — the daily
    * crawl as it actually runs: the INCREMENT arrives on a stream and
    * deduplicates against the STATIC existing-corpus index. The base
    * index (packed LSH band keys + shingle arrays, both from the
    * batch-shared constructions) is a static DataFrame; each incoming
    * doc maps to its band keys stateless, stream-static LEFT-joins the
    * index, pairs dedupe with `dropDuplicates` state, and the exact
    * Jaccard verification is a PROJECTION — `array_intersect` of the
    * two carried shingle arrays, no second aggregation — so the
    * per-doc verdict is the single allowed streaming aggregation
    * (Update mode). Sig-null (short) docs ride a null band key that
    * joins nothing and verdict as kept. Final emissions equal the
    * batch dedup_incremental rows exactly (EventStreamSpec).
    */
  def incrementalDedupStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextDedup
    val isNew = col("doc_id") % 4 === 0

    val baseDocs = graft.Tables.load(spark, dir, "documents")
      .filter(!isNew)
      .select(col("doc_id"), TextDedup.harrOf(graft.ops.Text.toks).as("harr"))
    val baseIdx = graft.Tables.hot(
      TextDedup.packedBandKeys(baseDocs, Seq("doc_id", "harr"))
        .select(col("key"), col("doc_id").as("db"),
          col("harr").as("harr_b")))

    val incoming = readDocs(spark, dir)
      .filter(isNew)
      .select(col("doc_id"), TextDedup.harrOf(graft.ops.Text.toks).as("harr"))
    val keyed = TextDedup.packedBandKeys(incoming, Seq("doc_id", "harr"))
      .select(col("doc_id"), col("harr"), col("key"))
    val nullSig = incoming
      .filter(call_function("minhash_signature", col("harr"),
        lit(graft.ops.TextDedup.NumPerms)).isNull)
      .select(col("doc_id"), col("harr"), lit(null).cast("long").as("key"))

    val pairs = keyed.unionByName(nullSig)
      .join(baseIdx, Seq("key"), "left")
      .select(col("doc_id").as("da"), col("db"), col("harr"), col("harr_b"))
      .dropDuplicates("da", "db")
    // sorted_common over the kernel-sorted arrays — same count as the
    // former array_intersect, minus its per-call OpenHashSet build
    val c = call_function("sorted_common", col("harr"), col("harr_b"))
    val j = when(col("db").isNotNull, c.cast("double") /
      (size(col("harr")) + size(col("harr_b")) - c))
    pairs.withColumn("j", j)
      .groupBy(col("da").as("doc_id"))
      .agg(sum(when(col("j") >= 0.5, 1L).otherwise(0L)).as("n_dups"),
        coalesce(max(when(col("j") >= 0.5, col("j"))), lit(0.0)).as("best_j"))
      .withColumn("kept", col("n_dups") === 0)
  }

  /** Streaming twin of ops.Corpus.textDecontamSpan — the crawl
    * screened against the FROZEN benchmark window index as documents
    * arrive (cert #21): the benchmark (h1, h2) window set is the
    * static side (built by the batch-shared `benchWindowSet`
    * construction — eval suites are fixed and tiny, so the index
    * broadcasts), each incoming doc's stride-1 windows come from the
    * same native rolling_hash_windows STATELESS (explode_outer keeps
    * sub-w docs alive with a null window that joins nothing), a
    * stream-static LEFT join marks hit positions, and the per-doc
    * (starts array, text) fold state is the single allowed streaming
    * aggregation (Update mode). Coverage merge + gap-slice rebuild
    * are the SAME shared fold expressions the batch op evaluates
    * (Corpus.coveredCount / rebuiltString), applied as a projection
    * after the aggregation — final emissions equal the batch surgery
    * rows exactly (EventStreamSpec). The starts set only grows
    * across batches, so covered count is monotone non-decreasing and
    * equal counts imply equal covered sets — the max emission IS the
    * final state. */
  def decontamSpanStream(spark: SparkSession, dir: String,
                         w: Int = 25): DataFrame = {
    import graft.ops.Corpus
    val isBench = col("doc_id") % 31 === 0
    val bench = graft.Tables.hot(Corpus.benchWindowSet(
      graft.Tables.load(spark, dir, "documents").filter(isBench), w))
      .withColumn("hit", lit(1))
    val wins = readDocs(spark, dir).filter(!isBench)
      .select(col("doc_id"), col("text"),
        explode_outer(call_function("rolling_hash_windows",
          split(col("text"), " "), lit(w))).as("wh"))
      .select(col("doc_id"), col("text"), col("wh.pos").as("pos"),
        col("wh.h1").as("h1"), col("wh.h2").as("h2"))
    val agg = wins.join(broadcast(bench), Seq("h1", "h2"), "left")
      .groupBy("doc_id")
      .agg(first(col("text")).as("text"),
        sort_array(collect_list(when(col("hit") === 1, col("pos"))))
          .as("starts"))
    val tk = split(col("text"), " ")
    val n = size(tk)
    agg.select(col("doc_id"), n.cast("bigint").as("n_tok"),
      Corpus.coveredCount(col("starts"), n, w).cast("bigint")
        .as("n_contam"),
      when(size(col("starts")) === 0, md5(col("text")))
        .otherwise(md5(Corpus.rebuiltString(col("starts"), tk, n, w)))
        .as("rebuilt_md5"))
  }

  /** Streaming twin of the corpus ASSEMBLY chain head —
    * api.CorpusPipeline.qualityFilter().dedupExact as documents arrive:
    * the quality gate is a stateless filter (the batch step's own
    * Corpus.qualityGate column), and the exact-dedup keeper is running
    * state — min doc_id per content hash (a streaming groupBy, Update
    * mode), which converges to the batch window-argmin keeper
    * REGARDLESS of arrival order, unlike a first-arrival
    * dropDuplicates whose keeper is order-dependent.
    * Emits (h, keep_id, n_seen); the final min per hash equals the
    * batch chain's kept set exactly (EventStreamSpec cert #17 — the
    * first streaming cert over the documents table). */
  def corpusAssemblyStream(spark: SparkSession, dir: String): DataFrame = {
    readDocs(spark, dir)
      .filter(graft.ops.Corpus.qualityGate())
      .withColumn("h", md5(col("text")))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_seen"))
  }

  /** Streaming twin of the ops.Retrieval.mmAlign GATE — multimodal
    * pairs scored as they arrive: the documents stream STREAM-STATIC
    * inner-joins the static embeddings table on id (stateless — the
    * production shape: the encoder index is a published artifact, the
    * crawl is the stream) and every alignment quantity is a per-row
    * projection, so emissions ride pure Append mode with ZERO state:
    * the hashed-BoW bucket counts fold into a 64-long array by HOFs
    * (md5 once per token), the text·embedding dot product replays
    * qsum128's exact arithmetic — Σ floor(cnt·e·1e6 + 0.5) as LONGS
    * inside one aggregate() HOF, then double(Σ)/1e6 — so the per-doc
    * cos6 is BIT-EQUAL to the batch operator's, and the cert
    * re-aggregates emissions per source against the oracle-certified
    * mm_align report (EventStreamSpec cert #18). */
  /** Streaming twin of the BM25 scorer — documents scored as they
    * arrive against the FROZEN index artifact (ops.Retrieval.bm25Stats:
    * per-term idf6 + corpus avgdl, built batch and broadcast as the
    * static side — the production pattern: stats frozen from
    * yesterday's corpus, today's crawl scored against them). Term
    * frequency is STATELESS (a filter() HOF over the carried token
    * array — the batch side's per-(doc, term) aggregate is not
    * available under the one-aggregation streaming rule), the partial
    * score is the SAME shared bm25Ts6 expression, and the per-doc
    * (n_hit, dsum score) aggregate is the single allowed streaming
    * aggregation (Update mode; score is monotone non-decreasing across
    * emissions since partial scores are positive, so the max emission
    * per doc is the final state). Final per-doc rows equal
    * ops.Retrieval.bm25Scores exactly (EventStreamSpec cert #19). */
  def bm25ScoreStream(spark: SparkSession, dir: String): DataFrame = {
    val stats = broadcast(graft.Tables.hot(
      graft.ops.Retrieval.bm25Stats(spark, dir)))
    val t = split(col("text"), " ")
    readDocs(spark, dir)
      .select(col("doc_id"), t.as("tk"), size(t).as("dl"))
      .crossJoin(stats)
      .withColumn("tf",
        size(filter(col("tk"), x => x === col("w"))).cast("long"))
      .filter(col("tf") > 0)
      .select(col("doc_id"), graft.ops.Retrieval.bm25Ts6.as("ts6"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"),
        graft.QueryDef.dsum(col("ts6"), 6).as("score"))
  }

  /** Per-SOURCE BM25 scoring totals as a stream — the recovery-cert
    * subject for the NATIVE aggregates: the per-source (count, dsum128
    * score sum) state must survive a checkpoint restart, i.e. the
    * 128-bit DeclarativeAggregate buffer slots serialize into the
    * state store and restore exactly (StreamRecoverySpec cert #4).
    * Takes the document stream as a parameter so the recovery spec can
    * drive a two-phase file source. */
  def bm25SourceStream(spark: SparkSession, dir: String,
                       docsStream: DataFrame): DataFrame = {
    val stats = broadcast(graft.Tables.hot(
      graft.ops.Retrieval.bm25Stats(spark, dir)))
    val t = split(col("text"), " ")
    docsStream
      .select(col("source"), t.as("tk"), size(t).as("dl"))
      .crossJoin(stats)
      .withColumn("tf",
        size(filter(col("tk"), x => x === col("w"))).cast("long"))
      .filter(col("tf") > 0)
      .select(col("source"), graft.ops.Retrieval.bm25Ts6.as("ts6"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_hits"),
        graft.QueryDef.dsum(col("ts6"), 6).as("score_sum"))
  }

  def alignGateStream(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    def bucketOf(w: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit("clip:"), w)), 1, 8), 16, 10)
        .cast("long") % 64
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.Vec.asDouble(col("embedding")).as("v"))
    readDocs(spark, dir)
      .select(col("doc_id"), col("source"),
        transform(toks, bucketOf(_)).as("barr"))
      .join(e, col("doc_id") === col("vec_id"))
      .withColumn("cnt", transform(sequence(lit(0L), lit(63L)),
        b => size(filter(col("barr"), x => x === b)).cast("long")))
      // qsum128's exact arithmetic, replayed stateless: quantized LONG
      // terms, order-free exact sum, one double division at the end.
      // cnt=0 buckets contribute floor(±0.0 + 0.5) = 0 — same sum as
      // the batch op's cnt>0-only aggregation.
      .withColumn("sq",
        aggregate(sequence(lit(1), lit(64)), lit(0L), (acc, i) =>
          acc + floor(element_at(col("cnt"), i) *
            element_at(col("v"), i) * lit(1e6) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6))
      .withColumn("c2", aggregate(col("cnt"), lit(0L), (a, c) => a + c * c))
      .withColumn("e2", call_function("vec_dot", col("v"), col("v")))
      .select(col("doc_id"), col("source"),
        round(col("sq") / (sqrt(col("c2").cast("double")) *
          sqrt(col("e2"))), 6).as("cos6"))
  }

  /** Streaming NEAREST-NEIGHBOR search against the FROZEN IVF index —
    * the production vector-store shape end to end: the index (Lloyd
    * coarse cells + per-vector assignment, ops.VectorOps.ivfIndex) is
    * the session-frozen artifact every batch consumer already serves
    * from; QUERIES arrive on a stream. Probe selection is STATELESS —
    * the ≤NCells centroids fold to one broadcast array row and each
    * query picks its NProbe nearest cells with a sort-slice HOF (the
    * batch side's row_number window is unavailable in streaming, but
    * over one in-row array the lexicographic (cd, cent_id) sort is the
    * identical ordering). Candidates come from a stream-static join to
    * the frozen assignment on the cell key, the cosine is the same
    * native-dot projection, and the nearest-1 per query is the single
    * allowed streaming aggregation — min over the (−cos, cid) struct,
    * Update mode, monotone non-increasing per query, replaying the
    * batch orderBy(cos DESC, cid) rank-1 exactly (EventStreamSpec
    * cert #20). */
  def annIvfStream(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, cents) = graft.ops.VectorOps.ivfIndex(spark, dir)
    val centArr = broadcast(graft.Tables.hot(cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("cv"))))
        .as("ca"))))
    val qs = spark.readStream.schema(graft.Tables.schema(spark, dir, "embeddings"))
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .filter(expr("vec_id % 100 = 0"))
      .select(col("vec_id").as("qid"),
        graft.functions.Vec.asDouble(col("embedding")).as("qv"))
    qs.crossJoin(centArr)
      .withColumn("pc", slice(array_sort(transform(col("ca"), c =>
        struct(
          call_function("vec_l2", col("qv"), c.getField("cv")).as("cd"),
          c.getField("cent_id").as("cent_id")))),
        1, graft.ops.VectorOps.ivfNProbe))
      .select(col("qid"), col("qv"),
        explode(transform(col("pc"), p => p.getField("cent_id")))
          .as("cent_id"))
      .join(assigned, Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"),
        (-graft.functions.Vec.cosine(col("qv"), col("v"))).as("nc"),
        col("vec_id").as("cid"))
      .groupBy("qid")
      .agg(min(struct(col("nc"), col("cid"))).as("m"))
      .select(col("qid"), col("m.nc").as("nc"), col("m.cid").as("cid"))
  }
}
