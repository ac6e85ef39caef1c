package graft.streaming

import graft.SparkSpec
import graft.ops.Events
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class EventStreamSpec extends SparkSpec {

  test("streaming tumbling agg equals the batch plan") {
    val q = EventStream.tumbling(spark, sfDir)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_out")
      .select("hour_us", "event_type", "n", "total_value")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val batch = Events.tumbling(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-static enrichment join matches the batch join") {
    val dim = graft.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val enriched = EventStream.readEvents(spark, sfDir)
      .select("event_id", "user_id")
      .join(dim, Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enrich_out")
      .select("event_id", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = graft.Tables.loadEventsUs(spark, sfDir)
      .select("event_id", "user_id").join(dim, Seq("user_id"), "left")
      .select("event_id", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-static as-of join equals the batch as-of join") {
    val q = EventStream.asofOrders(spark, sfDir)
      .writeStream.format("memory").queryName("asof_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "matched_order").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val streamed = key(spark.table("asof_out"))
    val batch = key(Events.asof(spark, sfDir))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join equals the batch pair join") {
    val q = EventStream.clickPurchases(spark, sfDir)
      .writeStream.format("memory").queryName("ss_join_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = key(spark.table("ss_join_out"))
    val ev = graft.Tables.loadEventsUs(spark, sfDir)
    val batch = key(
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts_us").as("click_us"))
        .join(ev.filter(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user"), col("ts_us").as("purchase_us")),
          col("c_user") === col("p_user") &&
            col("purchase_us") >= col("click_us") &&
            col("purchase_us") <= col("click_us") + lit(3600L * 1000000L)))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup keeps one row per distinct content hash") {
    val q = StreamDedup.distinctDocs(spark, sfDir)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_out")
    val expected = graft.ops.TextDedup.dedupExact(spark, sfDir).count()
    assert(streamed.count() == expected)
    assert(streamed.select("h").distinct().count() == expected)
  }

  test("watermarked streaming dedup collapses injected duplicates") {
    // duplicate every event 2x in-stream, then dedup within watermark
    val doubled = EventStream.readEvents(spark, sfDir)
      .withColumn("copy", explode(array(lit(0), lit(1))))
    val q = StreamDedup.dedupWatermarked(doubled)
      .writeStream.format("memory").queryName("wmdedup_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wmdedup_out")
    val expected = graft.Tables.loadEventsUs(spark, sfDir)
      .select("event_id").distinct().count()
    assert(streamed.count() == expected)
    assert(streamed.select("event_id").distinct().count() == expected)
  }

  test("streaming latest-state equals batch CDC compaction") {
    val q = EventStream.latestState(spark, sfDir)
      .writeStream.format("memory").queryName("cdc_state_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode appends each batch's refreshed rows; the final state
    // per key is the one with the highest version count
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), math.round(r.getDouble(4) * 1e6),
          r.getLong(5))).toMap
    val streamed = key(spark.table("cdc_state_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(col("n_versions").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "latest_ts_us", "latest_event_id",
        "latest_value", "n_versions"))
    val batch = key(Events.cdcCompact(spark, sfDir))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming funnel levels equal the batch ordered funnel") {
    val q = EventStream.funnelLevels(spark, sfDir)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode: levels are monotone per user — the max is final
    val streamed = spark.table("funnel_out")
      .groupBy("user_id").agg(max("funnel_level").as("l"))
      .filter(col("l") >= 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = Events.funnelWindow(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming sliding distinct actives equals the batch decomposition") {
    val q = EventStream.slidingActive(spark, sfDir)
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode: counts are monotone per day — the max is the final
    val streamed = spark.table("sliding_out")
      .groupBy("report_day_us").agg(max("n_active_7d").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Relational8.qSlidingDistinct(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)
    // streaming emits a superset of report days (any window containing
    // an event); on the batch day set the counts must agree exactly
    batch.foreach { case (d, n) =>
      assert(streamed.get(d).contains(n),
        s"day $d: streamed=${streamed.get(d)} batch=$n")
    }
    assert(streamed.keySet.size >= batch.size)
  }

  test("streaming sessionization emits exactly the batch sessions closed in-stream") {
    val q = EventStream.sessions(spark, sfDir)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sessions_out")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val all = Events.sessionize(spark, sfDir)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // Bounded run: non-final sessions are closed inline by the next
    // event; each user's final session stays in state UNLESS its
    // event-time timeout (end + gap) fell behind the final watermark
    // (max event time - 1h), in which case the timeout batch emitted it.
    val lastPerUser = Events.sessionize(spark, sfDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("session_id").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val maxTsUs = graft.Tables.loadEventsUs(spark, sfDir)
      .agg(max("ts_us")).head().getLong(0)
    val watermarkMs = maxTsUs / 1000 - 3600 * 1000
    val stillOpen = lastPerUser.filter { case (_, _, endUs, _) =>
      endUs / 1000 + graft.api.EventPipeline.SessionGapUs / 1000 >= watermarkMs
    }
    val expected = all -- stillOpen
    assert(streamed == expected,
      s"missing=${(expected -- streamed).take(3)} extra=${(streamed -- expected).take(3)}")
    assert(expected.nonEmpty)
  }
  test("streaming interval concurrency equals the batch sweep") {
    val q = EventStream.sweepConcurrency(spark, sfDir)
      .writeStream.format("memory").queryName("sweep_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode: max_concurrent is monotone per type; peak_t_us is
    // paired with it, so the row carrying the final max carries the
    // final peak instant
    val streamed = spark.table("sweep_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("max_concurrent").desc)))
      .filter(col("rn") === 1)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val batch = graft.ops.TimeSeries.intervalSweep(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming last-touch attribution equals the batch window carry") {
    val q = EventStream.attributionStream(spark, sfDir)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("attr_out")
      .groupBy("touch").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Journey.attribution(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming Markov transitions equal the batch lag construction") {
    val q = EventStream.markovStream(spark, sfDir)
      .writeStream.format("memory").queryName("markov_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("markov_out")
      .groupBy("from_type", "to_type").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.Journey.markov(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming KMV sketch state equals the batch tournament sketch") {
    val q = EventStream.kmvSketches(spark, sfDir)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // a true global bottom-256 hash is never displaced once seen, so the
    // bottom-256 of the union of all per-batch emissions IS the final state
    val streamed = spark.table("kmv_out").collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) =>
        t -> rows.flatMap(_.getSeq[Long](1)).distinct.sorted.take(256).toSeq
      }
    val dp = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("t"),
        graft.ops.Sketches.h60(col("user_id").cast("string")).as("h"))
      .distinct()
    val batch = graft.ops.Sketches.kmvSketch(dp).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming sequence-NFA state equals the batch NFA decomposition") {
    val q = EventStream.sequenceNfaStream(spark, sfDir)
      .writeStream.format("memory").queryName("seqnfa_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode: n_seen is monotone per user — the max row is final
    val fin = spark.table("seqnfa_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("n_seen").desc)))
      .filter(col("rn") === 1)
    val streamed = Map(
      "browse_buy" -> fin.filter(col("browse_buy")).count(),
      "error_churn" -> fin.filter(col("error_churn")).count(),
      "direct_buy" -> fin.filter(col("direct_buy")).count(),
      "n_users" -> fin.count())
    val batchRows = graft.ops.Journey.sequenceMatchNfa(spark, sfDir).collect()
    val batch = batchRows
      .map(r => r.getString(0) -> r.getLong(2)).toMap +
      ("n_users" -> batchRows.head.getLong(1))
    assert(batchRows.nonEmpty)
    assert(streamed == batch)
  }

  test("attribution eviction: timed-out touch state emits nothing, no duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val T0 = 1000000000000000L // µs
    val H = 3600000000L
    val in = MemoryStream[(Long, Long, Long, String)]
    val events = in.toDF()
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
    val q = EventStream.attributionStreamFrom(events)
      .writeStream.format("memory").queryName("attr_evict_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // B1: user 1 clicks; user 3 clicks then purchases in-window
      in.addData((1L, T0, 1L, "click"), (3L, T0, 2L, "click"),
        (3L, T0 + H, 3L, "purchase"))
      q.processAllAvailable()
      // B2: far-future event pushes the watermark past T0 + 24 h + 1 h
      in.addData((2L, T0 + 30 * H, 4L, "view"))
      q.processAllAvailable()
      // B3: any batch lets user 1's timed-out touch state evict
      in.addData((2L, T0 + 31 * H, 5L, "view"))
      q.processAllAvailable()
      // B4: user 1 purchases after eviction — must resolve "none"
      in.addData((1L, T0 + 32 * H, 6L, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("attr_evict_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    // exactly one emission per purchase — eviction added nothing,
    // dropped nothing, and the evicted touch resolves to "none"
    assert(out == Set(
      (3L, T0 + H, 3L, "click"),
      (1L, T0 + 32 * H, 6L, "none")))
    assert(spark.table("attr_evict_out").count() == 2)
  }

  test("streaming incremental dedup of the increment equals the batch verdicts") {
    val q = StreamDedup.incrementalDedupStream(spark, sfDir)
      .writeStream.format("memory").queryName("incdedup_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    def tup(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getLong(1), r.getDouble(2), r.getBoolean(3))
    // Update mode: n_dups is monotone per doc — the max row is final
    val streamed = spark.table("incdedup_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("n_dups").desc)))
      .filter(col("rn") === 1)
      .select("doc_id", "n_dups", "best_j", "kept")
      .collect().map(tup).toMap
    val batch = graft.ops.TextDedup.dedupIncremental(spark, sfDir)
      .collect().map(tup).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming corpus assembly (quality gate + exact dedup) equals " +
    "the batch CorpusPipeline kept set") {
    val q = StreamDedup.corpusAssemblyStream(spark, sfDir)
      .writeStream.format("memory").queryName("corpus_asm_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode: keep_id is monotone non-increasing per hash — the
    // min across emissions is the final state
    val streamed = spark.table("corpus_asm_out")
      .groupBy("h").agg(min("keep_id").as("keep_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.api.CorpusPipeline(
        graft.Tables.load(spark, sfDir, "documents"))
      .qualityFilter().dedupExact.df
      .select(md5(col("text")).as("h"), col("doc_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming BM25 scoring against the frozen index equals the " +
    "batch scorer per document") {
    val q = StreamDedup.bm25ScoreStream(spark, sfDir)
      .writeStream.format("memory").queryName("bm25_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode: partial scores are positive so score is monotone
    // non-decreasing per doc — the max emission is the final state
    val streamed = spark.table("bm25_out")
      .groupBy("doc_id")
      .agg(max(struct(col("score"), col("n_hit"))).as("m"))
      .select(col("doc_id"), col("m.n_hit"), col("m.score"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val batch = graft.ops.Retrieval.bm25Scores(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming mm_align gate (stream-static join, zero state) equals " +
    "the batch per-source report") {
    val q = StreamDedup.alignGateStream(spark, sfDir)
      .writeStream.format("memory").queryName("align_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    // Append mode, stateless: one emission per pair; re-aggregate the
    // per-doc cos6 emissions per source exactly as the batch op does
    val streamed = spark.table("align_out")
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cos6") > 0.0, 1L).otherwise(0L)).as("n_keep"),
        graft.QueryDef.dsum(col("cos6"), 6).as("sum_cos"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val batch = graft.ops.Retrieval.mmAlign(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming vector search against the frozen IVF index equals " +
    "the batch nearest-1") {
    val q = StreamDedup.annIvfStream(spark, sfDir)
      .writeStream.format("memory").queryName("ivf_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode: the (−cos, cid) struct is monotone non-increasing
    // per query — the min across emissions is the final state
    val streamed = spark.table("ivf_out")
      .groupBy("qid").agg(min(struct(col("nc"), col("cid"))).as("m"))
      .select(col("qid"), col("m.cid").as("cid"),
        round(-col("m.nc"), 6).as("score"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val batch = graft.ops.VectorOps.annIvf(spark, sfDir)
      .filter(col("rn") === 1)
      .select(col("qid"), col("cid"), col("score"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming span decontamination against the frozen benchmark " +
    "index equals the batch surgery per document") {
    // w = 10 at spec scale: the sf0.001 corpus holds real >=10-token
    // benchmark overlaps but none at the production default 25
    val q = StreamDedup.decontamSpanStream(spark, sfDir, 10)
      .writeStream.format("memory").queryName("despan_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    // Update mode: the per-doc starts set only grows across batches,
    // so the covered count is monotone non-decreasing AND equal
    // counts imply equal covered sets (supersets of equal size are
    // equal) — the max (n_contam, rebuilt_md5) emission is the final
    // state, and the md5 tie-break never fires on differing rebuilds
    val streamed = spark.table("despan_out")
      .groupBy("doc_id")
      .agg(max(struct(col("n_contam"), col("n_tok"),
        col("rebuilt_md5"))).as("m"))
      .select(col("doc_id"), col("m.n_tok"), col("m.n_contam"),
        col("m.rebuilt_md5"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val batch = graft.ops.Corpus.textDecontamSpan(spark, sfDir, 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(batch.nonEmpty)
    assert(batch.exists(_._2._2 > 0L),
      "fixture must contain real contamination")
    assert(streamed == batch)
  }

  test("streaming fluent-pipeline summary equals the batch EventPipeline") {
    val q = EventStream.pipelineSummary(spark, sfDir)
      .writeStream.format("memory").queryName("pipe_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    def tup(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))
    // Update mode: n_events is monotone per user — the max row is final
    val streamed = spark.table("pipe_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("n_events").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "n_events", "n_sessions", "n_purchases",
        "rev_click", "rev_view", "rev_none")
      .collect().map(tup).toMap
    val batch = graft.ops.Journey.eventsPipeline(spark, sfDir)
      .collect().map(tup).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }
}
