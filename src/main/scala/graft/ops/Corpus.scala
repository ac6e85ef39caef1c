package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators — the steps between "deduped documents"
  * and "training shards" in an LLM data pipeline:
  *
  *   pack_shards        token-budget contiguous sharding
  *   sample_stratified  deterministic per-stratum hash sampling
  *   text_scrub         denylist decontamination (redact + count)
  *   text_entropy       token-distribution Shannon entropy
  *
  * All four are single-scan, shuffle-minimal shapes: sharding is one
  * window over (source, doc_id); sampling and scrubbing are pure map
  * stages whose decisions re-derive from md5/regex (no RNG state, no
  * driver round-trip — rerunnable and cluster-size-independent);
  * entropy is explode + two-level aggregation with map-side combine.
  */
object Corpus {

  // the session-frozen tokenized corpus (Text.docToks): same rows as
  // fanout(load(documents)) plus precomputed toks/n_tok — every text
  // query reads the pinned base table instead of re-scanning parquet
  // and re-splitting per query
  private def docs(s: SparkSession, dir: String) = Text.docToks(s, dir)

  private val toks = Text.toks

  /** Token-budget contiguous sharding: within each source, documents
    * (in doc_id order) are laid end-to-end and cut into shards every
    * `budget` tokens — shard = floor(tokens-before-this-doc / budget).
    * The window is per-source, so at 100 TB each source partitions
    * independently (one narrow shuffle on source); no global sort.
    * Emits per-shard document counts and token sums — the
    * CorpusPipeline.packShards step and its shardStats rollup. */
  def packShards(s: SparkSession, dir: String,
                 budget: Int = 2000): DataFrame =
    graft.api.CorpusPipeline(docs(s, dir)).packShards(budget).shardStats

  val packShardsSql: String = """
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT source, CAST(FLOOR((cum - n_tok) / 2000.0) AS BIGINT) AS shard,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
    FROM c GROUP BY 1, 2 ORDER BY source, shard"""

  /** Deterministic stratified sampling: keep a document iff the hex
    * prefix of md5(text) falls below its language's threshold — en is
    * downsampled to ~16% (0x29/0x100), everything else to 50%. The
    * decision is a pure function of the row (identical on DuckDB, on
    * rerun, at any cluster size); no RNG, no seed plumbing. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(stratifiedKeep(Map("en" -> "29"), "80"), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy("lang")

  /** The stratified keep predicate (sample_stratified and the
    * CorpusPipeline.sampleStratified step): the first two hex digits
    * of md5(text) fall below the row's language threshold — `rates`
    * per language, `default` for the rest. */
  private[graft] def stratifiedKeep(rates: Map[String, String],
                                    default: String): Column = {
    val thr = rates.foldLeft(lit(default)) { case (acc, (lang, hex)) =>
      when(col("lang") === lang, hex).otherwise(acc)
    }
    substring(md5(col("text")), 1, 2) < thr
  }

  val sampleStratifiedSql: String = """
    SELECT lang, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN substring(md5(text), 1, 2) <
                         (CASE WHEN lang = 'en' THEN '29' ELSE '80' END)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents GROUP BY 1 ORDER BY lang"""

  /** Denylist decontamination: redact whole-word denylist terms (the
    * shape of benchmark-string / eval-contamination scrubbing), count
    * the hits, and emit the hash of the clean text. Word-boundary
    * regex — identical semantics in Java regex and DuckDB's RE2. */
  val DenyPattern = "\\b(spark|vector)\\b"

  def textScrub(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
        col("doc_id"),
        regexp_count(col("text"), lit(DenyPattern)).as("n_hits"),
        md5(regexp_replace(col("text"), DenyPattern, "[REMOVED]"))
          .as("clean_h"))
      .orderBy("doc_id")

  val textScrubSql: String = """
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '\b(spark|vector)\b')) AS INTEGER) AS n_hits,
      md5(regexp_replace(text, '\b(spark|vector)\b', '[REMOVED]', 'g')) AS clean_h
    FROM documents ORDER BY doc_id"""

  /** Token-distribution Shannon entropy per document (nats):
    * H = ln N − Σ c·ln c / N over per-token counts c. A standard
    * quality/diversity signal; explode + two aggregations, both with
    * map-side partial combine. Rounded to 6 dp — the float sums are
    * order-sensitive only below 1e-10 at this document size. */
  def textEntropy(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(toks).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(
        log(sum(col("c")).cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum(col("c")).cast("double"),
        6).as("entropy"))
      .orderBy("doc_id")

  val textEntropySql: String = """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    c AS (
      SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
    SELECT doc_id,
      ROUND(ln(CAST(SUM(c) AS DOUBLE))
            - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
              / CAST(SUM(c) AS DOUBLE), 6) AS entropy
    FROM c GROUP BY 1 ORDER BY doc_id"""

  /** Context-length chunking: each document's tokens cut into windows
    * of `win` tokens every `stride` tokens (overlap = win − stride),
    * the shape that turns variable-length documents into fixed-length
    * training examples. A document shorter than one window emits one
    * (possibly short) window. Pure map stage — the window list is a
    * `transform` over a guarded `sequence` (ceil count ≥ 1 always, so
    * the descending-sequence trap can't fire) followed by one explode;
    * no shuffle until the final ORDER BY, which exists only for the
    * oracle compare. */
  def chunkWindows(s: SparkSession, dir: String,
                   win: Int = 64, stride: Int = 48): DataFrame = {
    val n = size(toks)
    val nw = when(n <= win, lit(1L)).otherwise(
      ceil((n - lit(win)).cast("double") / stride).cast("long") + 1L)
    docs(s, dir)
      .select(col("doc_id"), toks.as("w"), nw.as("nw"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), col("nw") - 1L), i =>
          struct(i.as("win_id"),
            slice(col("w"), (i * stride + 1L).cast("int"), lit(win)).as("wt"))))
          .as("e"))
      .select(col("doc_id"), col("e.win_id").as("win_id"),
        size(col("e.wt")).as("n_tok"),
        md5(array_join(col("e.wt"), " ")).as("h"))
      .orderBy("doc_id", "win_id")
  }

  /** Sentence-aware chunking: split on boundary markers and pack whole
    * sentences into ~budget-token chunks (chunk = floor(tokens-before-
    * this-sentence / budget), the pack_shards rule at sentence grain
    * inside each document) — the C4-style alternative to fixed token
    * windows that never cuts mid-sentence. Shape: one posexplode (map)
    * + one per-doc window cumsum (single shuffle on doc_id) + one
    * aggregation; sentence order inside chunks is positional and
    * deterministic. The registered binding splits on ' the ' because
    * the synthetic corpus carries no punctuation — real corpora pass
    * sep = "\\. "; the engine path is identical either way. */
  def chunkSentences(s: SparkSession, dir: String,
                     budget: Int = 40, sep: String = " the "): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("sent_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), sep)).as(Seq("sent_id", "sent")))
      .withColumn("n_tok", size(split(col("sent"), " ")))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("chunk",
        expr(s"(cum - n_tok) DIV $budget"))
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_sentences"),
        sum("n_tok").as("n_tokens"),
        min("sent_id").as("first_sent"))
      .orderBy("doc_id", "chunk")
  }

  val chunkSentencesSql: String = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' the ') AS sents FROM documents),
    sidx AS (
      SELECT doc_id, sents,
             unnest(generate_series(1, len(sents))) AS i
      FROM t),
    se AS (
      SELECT doc_id, i - 1 AS sent_id,
             len(string_split(sents[i], ' ')) AS n_tok
      FROM sidx),
    c AS (
      SELECT doc_id, sent_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY sent_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM se)
    SELECT doc_id, CAST((cum - n_tok) // 40 AS BIGINT) AS chunk,
           COUNT(*) AS n_sentences,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(sent_id) AS first_sent
    FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk"""

  val chunkWindowsSql: String = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents),
    nw AS (
      SELECT doc_id, w,
             CASE WHEN n <= 64 THEN 1
                  ELSE CAST(CEIL(CAST(n - 64 AS DOUBLE) / 48) AS BIGINT) + 1
             END AS nw
      FROM t),
    win AS (
      SELECT doc_id, i.i AS win_id, w[(i.i * 48 + 1):(i.i * 48 + 64)] AS wt
      FROM nw, LATERAL (SELECT unnest(generate_series(0, nw - 1)) AS i) i)
    SELECT doc_id, win_id,
           CAST(len(wt) AS INTEGER) AS n_tok,
           md5(array_to_string(wt, ' ')) AS h
    FROM win ORDER BY doc_id, win_id"""

  /** Token-budget EPOCH scheduler — the data-mixing table every
    * training run publishes next to its rates (corpus_mix /
    * sample_temperature set per-source RATES; this answers "how many
    * epochs of each source fit a fixed token budget"): temperature
    * weights w_s = √n_s (α = 0.5 — small sources upweighted), each
    * source's ideal allocation is budget·w_s/Σw, its epoch count is
    * ideal/n_s CAPPED at [[EpochCap]] (the repeated-data bound —
    * Muennighoff et al. 2023 find ~4 epochs the useful limit), and
    * the scheduled tokens are min(cap·n_s, ideal). Budget = 2×
    * corpus tokens (a 2-epoch-average run), derived from the data so
    * the schedule is scale-free.
    *
    * Determinism: weights quantize to integers (floor(√n·10⁶+0.5) —
    * sqrt IS exactly rounded IEEE), every sum is an integer sum, and
    * the continuous outputs are single correctly-rounded mult/div
    * chains mirrored expression-for-expression in the oracle. Scale
    * shape: one map-side-combined aggregate to ≤|sources| rows, one
    * broadcast of the two totals — nothing else touches the corpus. */
  val EpochCap = 4.0

  def corpusEpochs(s: SparkSession, dir: String): DataFrame = {
    val ideal =
      col("budget").cast("double") * col("wq") / col("sumwq")
    epochWeights(docs(s, dir), col("n_tok"))
      .select(col("source"), col("src_tok").as("n_tok"),
        round(col("wq").cast("double") / col("sumwq"), 6).as("share"),
        round(least(lit(EpochCap), ideal / col("src_tok")), 6)
          .as("epochs"),
        floor(least(lit(EpochCap) * col("src_tok"), ideal)).cast("long")
          .as("toks_alloc"),
        when(ideal / col("src_tok") > EpochCap, 1L).otherwise(0L)
          .as("capped"))
      .orderBy("source")
  }

  /** Per-source token totals `src_tok` (of `nTok`) and integer √n
    * weights `wq`, crossed with the run totals `budget` (2× corpus
    * tokens) and `sumwq` — the schedule corpus_epochs reports and
    * [[mixtureInstances]] replicates by. */
  private def epochWeights(d: DataFrame, nTok: Column): DataFrame = {
    val q = d.groupBy("source").agg(sum(nTok).as("src_tok"))
      .withColumn("wq",
        floor(sqrt(col("src_tok").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long"))
    q.crossJoin(broadcast(q.agg((sum(col("src_tok")) * 2L).as("budget"),
      sum(col("wq")).as("sumwq"))))
  }

  val corpusEpochsSql: String = """
    WITH c AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
      FROM documents GROUP BY 1),
    q AS (
      SELECT source, n_tok,
             CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5)
               AS BIGINT) AS wq
      FROM c),
    t AS (
      SELECT CAST(SUM(n_tok) AS BIGINT) * 2 AS budget,
             CAST(SUM(wq) AS BIGINT) AS sumwq
      FROM q)
    SELECT source, n_tok,
           ROUND(CAST(wq AS DOUBLE) / sumwq, 6) AS share,
           ROUND(LEAST(4.0, CAST(budget AS DOUBLE) * wq / sumwq
             / n_tok), 6) AS epochs,
           CAST(floor(LEAST(4.0 * n_tok,
             CAST(budget AS DOUBLE) * wq / sumwq)) AS BIGINT)
             AS toks_alloc,
           CAST(CASE WHEN CAST(budget AS DOUBLE) * wq / sumwq / n_tok
             > 4.0 THEN 1 ELSE 0 END AS BIGINT) AS capped
    FROM q, t ORDER BY source"""

  /** Mixture-scheduled physical interleave (pack_mixture) — the step
    * between [[corpusEpochs]] (how many epochs of each source fit the
    * budget) and [[packSequences]] (how instances pack into fixed
    * windows) that a trainer actually consumes: MATERIALIZE the epoch
    * schedule into a training ORDER in which every source is uniform
    * ALONG the run, not front-loaded (a curriculum that accidentally
    * front-loads one source biases early training — the mixture
    * schedule published next to every data recipe).
    *
    * Construction (all decisions pure md5 functions of the row —
    * rerunnable, cluster-size independent):
    *   - per-source epochs e_s = the corpus_epochs ratio (UNROUNDED,
    *     same integer-quantized √n weights);
    *   - each doc replicates ⌊e_s⌋ times, plus once more iff its
    *     60-bit keep hash falls under floor(frac(e_s)·2⁶⁰) — the
    *     sample_temperature integer-threshold idiom, so the expected
    *     token mass per source IS the scheduled allocation;
    *   - every instance (doc, rep) gets a 32-bit position hash mix_h;
    *     the run order is (slice, mix_h), slice = mix_h / 2²⁶ — 64 equal
    *     timeline slices of the training run. Uniform hashes ⇒ every
    *     source's instances spread uniformly across slices.
    *
    * Output: the per-(slice, source) audit table — instance count,
    * token mass, and an order-free content hash sum pinning the exact
    * instance set (the set under a deterministic total order IS the
    * physical order, so content equality certifies order equality).
    *
    * Scale shape: one ≤4× map-side explode, one broadcast of the
    * ≤|sources| schedule, ONE map-side-combined hash aggregate to
    * slices·|sources| rows. No window, no global sort — at 100 TB the
    * physical write is partitionBy(slice) + sortWithinPartitions(mix_h),
    * embarrassingly parallel. */
  def packMixture(s: SparkSession, dir: String, slices: Int = 64): DataFrame =
    mixtureAudit(mixtureInstances(docs(s, dir), col("n_tok"), slices),
      col("n_tok"))

  /** The pack_mixture instance core (also the CorpusPipeline.packMixture
    * step): every row of `d` replicated by its source's scheduled epoch
    * count, each instance carrying (rep, mix_h, slice); `nTok` is the
    * row's token count, which weights the schedule. */
  private[graft] def mixtureInstances(d: DataFrame, nTok: Column,
                                      slices: Int): DataFrame = {
    // the corpus_epochs ratio, unrounded — one mult/div chain mirrored
    // operation-for-operation in the oracle (identical IEEE doubles)
    val e = least(lit(EpochCap),
      col("budget").cast("double") * col("wq") / col("sumwq")
        / col("src_tok"))
    val sched = epochWeights(d, nTok)
      .select(col("source"), floor(e).cast("long").as("_full_e"),
        floor((e - floor(e)) * lit(1152921504606846976L).cast("double"))
          .cast("long").as("_thr"))
    val h60 = expr("""CAST(conv(substring(md5(concat('mixk:',
      CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)""")
    val h32 = expr("""CAST(conv(substring(md5(concat('mix:',
      CAST(doc_id AS STRING), '#', CAST(rep AS STRING))), 1, 8),
      16, 10) AS BIGINT)""")
    d.join(broadcast(sched), "source")
      .withColumn("_reps",
        col("_full_e") + when(h60 < col("_thr"), 1L).otherwise(0L))
      // Spark sequence(0, n) DESCENDS for n < 0 — zero-rep docs must
      // leave through the filter, never reach the sequence
      .where(col("_reps") >= 1L)
      .withColumn("rep", explode(sequence(lit(0L), col("_reps") - 1L)))
      .withColumn("mix_h", h32)
      // mix_h/2^26 is an exact dyadic double — floor identical both
      // engines
      .withColumn("slice",
        floor(col("mix_h") / lit(4294967296.0 / slices)).cast("long"))
      .drop("_full_e", "_thr", "_reps")
  }

  /** The pack_mixture audit over [[mixtureInstances]]: per (slice,
    * source) instance count, token mass and the order-free content
    * hash sum (u32 terms are exact 0-digit doubles, well inside the
    * dsum128 envelope). */
  private[graft] def mixtureAudit(inst: DataFrame, nTok: Column): DataFrame =
    inst.groupBy("slice", "source")
      .agg(count(lit(1)).as("n_inst"), sum(nTok).as("tok_sum"),
        QueryDef.dsum(col("mix_h"), 0).as("h_sum"))
      .orderBy("slice", "source")

  val packMixtureSql: String = s"""
    WITH ${mixtureSql("documents")}"""

  /** Oracle of [[mixtureInstances]] + [[mixtureAudit]] over the
    * (source, doc_id, text) CTE `from` — pack_mixture's and
    * corpus_pipeline_v4's. */
  private def mixtureSql(from: String): String = s"""c AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM $from),
    q AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tok,
             CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * 1000000.0
               + 0.5) AS BIGINT) AS wq
      FROM c GROUP BY 1),
    t AS (
      SELECT CAST(SUM(src_tok) AS BIGINT) * 2 AS budget,
             CAST(SUM(wq) AS BIGINT) AS sumwq FROM q),
    sched AS (
      SELECT source, CAST(floor(e) AS BIGINT) AS full_e,
             CAST(floor((e - floor(e)) *
               CAST(1152921504606846976 AS DOUBLE)) AS BIGINT) AS thr
      FROM (SELECT source, LEAST(4.0,
              CAST(budget AS DOUBLE) * wq / sumwq / src_tok) AS e
            FROM q, t)),
    inst AS (
      SELECT source, doc_id, n_tok,
             unnest(generate_series(0, reps - 1)) AS rep
      FROM (SELECT c.source, c.doc_id, c.n_tok,
              s.full_e + (CASE WHEN ('0x' || substring(md5('mixk:' ||
                  CAST(c.doc_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
                  < s.thr THEN 1 ELSE 0 END) AS reps
            FROM c JOIN sched s USING (source))
      WHERE reps >= 1),
    h AS (
      SELECT source, n_tok,
             ('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR) ||
               '#' || CAST(rep AS VARCHAR)), 1, 8))::UBIGINT::BIGINT
               AS h32
      FROM inst)
    SELECT CAST(floor(h32 / 67108864.0) AS BIGINT) AS slice, source,
           COUNT(*) AS n_inst, CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
           CAST(SUM(CAST(h32 AS DECIMAL(18,0))) AS DOUBLE) AS h_sum
    FROM h GROUP BY 1, 2 ORDER BY slice, source"""

  /** Quality-ascending CURRICULUM schedule (pack_curriculum) — the
    * ordering companion to [[packMixture]]: where pack_mixture makes
    * every source uniform along the run, a curriculum deliberately
    * orders the run so training ENDS on the highest-quality data (the
    * FineWeb-Edu / OLMo-2 midtraining-anneal recipe). Stage = the
    * document's quality band — distinct-token ratio (the Gopher-style
    * diversity signal sample_importance weights by) cut into 8 STATIC
    * fractional bands, ascending along the run; within a stage every
    * doc is hash-positioned (md5 h32), so each stage is internally
    * order-free and source-uniform (no source front-loads within its
    * band — the pack_mixture property, per stage).
    *
    * Banding is floor(r·8) with r = distinct/total: r is a correctly
    * rounded rational in both engines and ·8 is an exponent shift
    * (EXACT in IEEE), so the band is bit-deterministic cross-engine —
    * no .5-boundary exposure. The exact-quantile alternative
    * (ntile over a global sort) needs a range partition of the whole
    * corpus; static bands are shuffle-free and cluster-size
    * independent, the corpus_mix/sample_* determinism contract.
    *
    * Output: the per-(stage, source) audit table — doc count, token
    * mass, the summed 1e6-quantized quality (certifying the ascent is
    * monotone in stage), and the order-free h_sum position-set hash
    * (the set under (stage, h32) total order IS the physical order).
    * Scale shape: ONE corpus scan, ONE map-side-combined hash
    * aggregate to ≤ 8·|sources| rows; the 100 TB write is
    * partitionBy(stage) + sortWithinPartitions(h32). */
  def packCurriculum(s: SparkSession, dir: String,
                     stages: Int = 8): DataFrame = {
    val d = docs(s, dir)
    val r = size(array_distinct(toks)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
    val h32 = expr("""CAST(conv(substring(md5(concat('cur:',
      CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)""")
    d.select(col("source"), col("n_tok"),
        least(lit(stages - 1), floor(r * stages).cast("int")).as("stage"),
        floor(r * lit(1e6) + lit(0.5)).cast("long").as("q6"),
        h32.as("h32"))
      .groupBy("stage", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
        sum(col("q6")).as("q_sum"),
        QueryDef.dsum(col("h32"), 0).as("h_sum"))
      .orderBy("stage", "source")
  }

  val packCurriculumSql: String = """
    WITH c AS (
      SELECT source, doc_id,
             string_split(text, ' ') AS t FROM documents),
    s AS (
      SELECT source, doc_id,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(t)) AS DOUBLE) /
               GREATEST(len(t), 1) AS r,
             ('0x' || substring(md5('cur:' || CAST(doc_id AS VARCHAR)),
               1, 8))::UBIGINT::BIGINT AS h32
      FROM c)
    SELECT CAST(LEAST(7, floor(r * 8)) AS INTEGER) AS stage, source,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
           CAST(SUM(CAST(floor(r * 1000000.0 + 0.5) AS BIGINT))
             AS BIGINT) AS q_sum,
           CAST(SUM(CAST(h32 AS DECIMAL(18,0))) AS DOUBLE) AS h_sum
    FROM s GROUP BY 1, 2 ORDER BY stage, source"""

  /** Mixture rebalancing: downsample every language stratum to the
    * size of the smallest one (equal target shares — the "rebalance a
    * skewed source mix" pipeline step). The per-stratum rate is DERIVED
    * FROM CORPUS STATISTICS (min count / stratum count, a broadcast of
    * a 5-row aggregate), not a constant — the part sample_stratified
    * doesn't exercise. The keep decision hashes the row (md5 prefix as
    * a uniform u32 fraction), so it stays deterministic and
    * cluster-size-independent; both engines compute the identical
    * double (exact u32 → double, division by 2^32 exact). */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val minN = counts.agg(min("n_total").as("n_min"))
    val rates = counts.join(broadcast(minN))
      .select(col("lang"), col("n_total"),
        (col("n_min").cast("double") / col("n_total")).as("rate"))
    val frac = expr("CAST(conv(substring(md5(text), 1, 8), 16, 10) AS DOUBLE)") /
      lit(4294967296.0)
    d.select(col("lang").as("dl"), frac.as("frac"))
      .join(broadcast(rates), col("dl") === col("lang"))
      .groupBy("lang")
      .agg(first(col("n_total")).as("n_total"), first(col("rate")).as("rate"),
        sum(when(col("frac") < col("rate"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("lang")
  }

  val corpusMixSql: String = """
    WITH c AS (
      SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY 1),
    m AS (SELECT MIN(n_total) AS n_min FROM c),
    r AS (
      SELECT lang AS rlang, n_total, CAST(n_min AS DOUBLE) / n_total AS rate
      FROM c, m)
    SELECT r.rlang AS lang, r.n_total AS n_total, r.rate AS rate,
           CAST(SUM(CASE WHEN ('0x' || substring(md5(d.text), 1, 8))::UBIGINT::DOUBLE
                              / 4294967296.0 < r.rate
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN r ON d.lang = r.rlang
    GROUP BY 1, 2, 3 ORDER BY lang"""

  /** Per-document top-k TF-IDF terms — the classic text-featurization
    * step (salient-term extraction feeds tagging, clustering and
    * quality filters). Three aggregations, all map-side combining:
    * per-(doc, term) counts, per-term document frequency (a
    * vocabulary-sized table, broadcast back), then a bounded top-k per
    * doc via sorted-slice aggregation — never a global sort, and the
    * per-doc state is k structs, not the full term list. Scores are
    * single IEEE ops off exact integer counts, rounded at 6 dp; ties
    * break on the term string so both engines pick identical rows. */
  def textTfidf(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val d = docs(s, dir)
    val tf = d.select(col("doc_id"), explode(toks).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val total = d.select(count(lit(1)).as("n_docs"))
    val df_ = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df_), Seq("w"))
      .join(broadcast(total))
      .select(col("doc_id"), col("w"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("score"))
    scored.groupBy("doc_id")
      .agg(slice(array_sort(collect_list(struct(
          (-col("score")).as("neg"), col("w"), col("score")))), 1, k)
        .as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.w").as("term"), col("col.score").as("score"))
      .orderBy("doc_id", "rank")
  }

  val textTfidfSql: String = """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY 1, 2),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tf.w AS w,
             ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
    ranked AS (
      SELECT doc_id, w, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, w) AS rank
      FROM scored)
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, w AS term, score
    FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""

  /** Benchmark decontamination: flag training documents that share
    * word 5-grams with a benchmark/eval set (here: a deterministic
    * held-out slice, doc_id % 31 = 0 — the shape of "is the test set
    * leaking into the training corpus?"). The benchmark side of the
    * join is a DISTINCT shingle set — benchmarks are small by nature,
    * so at 100 TB it broadcasts and the corpus side never shuffles:
    * explode → broadcast-hash semi-match → one aggregation by doc_id.
    * Emits every corpus document with its overlapping-shingle count
    * and a contaminated flag (any 5-gram hit; at 5 tokens a chance
    * collision is ~vocab^-5, so hits mean real overlap). */
  def textDecontam(s: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val d = docs(s, dir)
    val g = Text.grams(n)
    val bench = d.filter(col("doc_id") % 31 === 0)
      .select(explode(g).as("g")).distinct()
    val corpus = d.filter(col("doc_id") % 31 =!= 0)
    val overlaps = corpus.select(col("doc_id"), explode(g).as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy("doc_id").agg(countDistinct(col("g")).as("n_overlap"))
    corpus.select(col("doc_id"))
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("n_overlap") > 0, lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  val textDecontamSql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 4),
            i -> array_to_string(w[i:i+4], ' '))) AS g FROM t),
    b AS (SELECT DISTINCT g FROM g WHERE doc_id % 31 = 0),
    o AS (SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_overlap
          FROM g c JOIN b USING (g) WHERE c.doc_id % 31 <> 0 GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(o.n_overlap, 0) AS n_overlap,
           COALESCE(o.n_overlap > 0, false) AS contaminated
    FROM documents d LEFT JOIN o USING (doc_id)
    WHERE d.doc_id % 31 <> 0 ORDER BY d.doc_id"""

  /** SESSION-FROZEN ARTIFACT (the incIndex / bm25Stats pattern): the
    * benchmark side's DISTINCT window-hash set for
    * [[textDecontamSpan]] — the "eval-set index" of the
    * decontamination scenario. At 100 TB the benchmark suite is fixed
    * and tiny (eval sets are KB-MB by nature); its window index is
    * built once and every corpus snapshot screens against it, so the
    * per-run cost is the corpus scan alone. */
  private def benchWindows(s: SparkSession, dir: String,
                           w: Int): DataFrame =
    graft.Artifacts.frozen(s, ("corpus.benchWindows", dir, w)) {
      graft.Artifacts.pin(benchWindowSet(
        docs(s, dir).filter(col("doc_id") % 31 === 0), w))
    }

  /** A benchmark frame's distinct (h1, h2) w-token window set. */
  private[graft] def benchWindowSet(bench: DataFrame, w: Int): DataFrame =
    substringWindows(bench, w).select("h1", "h2").distinct()

  /** The (doc_id, pos) of every corpus window whose content is in the
    * benchmark window set — a map-side semi-join against the broadcast
    * set, so the corpus window stream never shuffles. */
  private[graft] def decontamHits(benchWins: DataFrame, corpusDf: DataFrame,
                                  w: Int): DataFrame =
    substringWindows(corpusDf, w)
      .join(broadcast(benchWins), Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"))

  /** Span surgery, hit-gathering half: `corpusDf` left-joined with each
    * document's SORTED w-token hit start positions (`starts`, null for
    * a hit-free doc). The ONLY shuffled rows are the hits themselves
    * (bounded by the true duplication/contamination volume); coverage
    * merge and rebuild then run PER DOCUMENT as O(n + h) folds over
    * (tokens, starts) — the cdc_chunks rule (work that never leaves
    * its document never leaves its row): no token explode, no
    * per-token join, no coverage window. Two projections read it:
    * [[spanFoldReport]] and [[spanExcise]]. */
  private def spanStarts(corpusDf: DataFrame, hits: DataFrame): DataFrame =
    corpusDf.join(hits.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts")),
      Seq("doc_id"), "left")

  /** Span-surgery report projection: per-document (n_tok, covered-token
    * count `cntName`, rebuilt md5). */
  private[graft] def spanFoldReport(corpusDf: DataFrame, hits: DataFrame,
                                    w: Int, cntName: String): DataFrame = {
    // bind the token array to a MATERIALIZED column when the caller
    // carries one (docToks does): the fold lambdas are interpreted,
    // and an inline split(text) expression would re-split per lambda
    // step after CollapseProject inlines it (the PCA hoist lesson —
    // O(n·h) re-splits on a boilerplate-heavy doc). Constructed spec
    // frames fall back to the expression at toy scale.
    val base =
      if (corpusDf.columns.contains("toks"))
        corpusDf.select(col("doc_id"), col("text"), col("toks"))
      else corpusDf.select(col("doc_id"), col("text"), toks.as("toks"))
    val tk = col("toks")
    val n = size(tk)
    // clean docs (the overwhelming majority) take the lazy CASE fast
    // path: split+rejoin is byte-faithful, so rebuilt_md5 = md5(text)
    spanStarts(base, hits)
      .select(col("doc_id"), n.cast("bigint").as("n_tok"),
        when(col("starts").isNull, lit(0L))
          .otherwise(coveredCount(col("starts"), n, w).cast("bigint"))
          .as(cntName),
        when(col("starts").isNull, md5(col("text")))
          .otherwise(md5(rebuiltString(col("starts"), tk, n, w)))
          .as("rebuilt_md5"))
      .orderBy("doc_id")
  }

  /** Span-surgery chain-step projection (CorpusPipeline.dedupSubstrings
    * and decontamSpan): `text` rebuilt with every hit-covered token
    * excised, every other column kept. The stale `toks`/`n_tok` of a
    * docToks frame are dropped, and the fold's token array is bound
    * from the CURRENT text as its own column (split only for docs
    * with hits), never inlined into the lambdas. */
  private[graft] def spanExcise(corpusDf: DataFrame, hits: DataFrame,
                                w: Int): DataFrame = {
    val tk = col("_toks")
    spanStarts(corpusDf.drop("toks", "n_tok"), hits)
      .withColumn("_toks", when(col("starts").isNotNull, toks))
      .withColumn("text", when(col("starts").isNull, col("text"))
        .otherwise(rebuiltString(col("starts"), tk, size(tk), w)))
      .drop("_toks", "starts")
  }

  /** Coverage-merge fold: how many tokens of an n-token doc are
    * covered by ≥1 of the w-token windows starting at the SORTED
    * positions in `starts` — newly covered tokens of [s, s+w−1]
    * given the running max covered end e (ascending starts make e
    * the only state). Shared with the streaming twin
    * (streaming/StreamDedup.decontamSpanStream) so the two sides
    * cannot drift. */
  private[graft] def coveredCount(starts: Column, n: Column,
                                  w: Int): Column = {
    val wl = lit(w)
    aggregate(starts,
      struct(lit(-1).as("e"), lit(0).as("c")),
      (a, s) => struct(
        greatest(a.getField("e"), s + wl - 1).as("e"),
        (a.getField("c") + greatest(lit(0),
          least(s + wl - 1, n - 1) - greatest(s, a.getField("e") + 1)
            + 1)).as("c")),
      a => a.getField("c"))
  }

  /** Gap-slice rebuild: the doc's tokens with every covered span
    * excised, gaps joined by single spaces — O(n) copied tokens, h
    * interpreted lambda steps (h = hits in THIS doc, typically
    * tiny). Shared with the streaming twin. */
  private[graft] def rebuiltString(starts: Column, tk: Column,
                                   n: Column, w: Int): Column = {
    val wl = lit(w)
    aggregate(starts,
      struct(lit(0).as("nxt"), array().cast("array<string>").as("ps")),
      (a, s) => struct(
        greatest(a.getField("nxt"), s + wl).as("nxt"),
        when(s > a.getField("nxt"),
          concat(a.getField("ps"), array(array_join(
            slice(tk, a.getField("nxt") + 1, s - a.getField("nxt")),
            " "))))
          .otherwise(a.getField("ps")).as("ps")),
      a => concat_ws(" ",
        when(n > a.getField("nxt"),
          concat(a.getField("ps"), array(array_join(
            slice(tk, a.getField("nxt") + 1, n - a.getField("nxt")),
            " "))))
          .otherwise(a.getField("ps"))))
  }

  private[graft] def decontamSpanCore(benchWins: DataFrame,
                                      corpusDf: DataFrame,
                                      w: Int): DataFrame =
    spanFoldReport(corpusDf, decontamHits(benchWins, corpusDf, w), w,
      "n_contam")

  /** Substring-grain benchmark decontamination — the span-removal
    * standard (GPT-3 appendix C / Lee et al. 2021 applied to the
    * test-leak screen) that [[textDecontam]]'s 5-gram FLAG
    * under-serves: instead of discarding a whole document for one
    * shared 5-gram, remove exactly the tokens covered by a ≥ w-token
    * verbatim overlap with the benchmark set and keep the rest. Every
    * w-token window of every corpus document is keyed at stride 1
    * (any shared run of ≥ w tokens is caught at every alignment);
    * a token is contaminated iff ANY matching window covers it
    * (overlapping hits merge into spans via the fold's running max
    * covered end); documents rebuild from surviving tokens, certified
    * byte-exact by md5 against the oracle's string-content replay.
    * Benchmark = the deterministic held-out slice (doc_id % 31 = 0),
    * the same split textDecontam screens — the two operators are the
    * flag/surgery pair over one scenario.
    *
    * Scale shape: the `rolling_hash_windows` native expression rolls
    * two independent 64-bit polynomial hashes per window — O(n) per
    * document, no w× window-string materialization (dedup_substrings
    * Scaladoc). The benchmark index is a session-frozen BROADCAST set
    * (benchmarks are small by nature), so the corpus window stream
    * pays a map-side semi-join and NEVER shuffles — unlike
    * dedup_substrings there is no global first-occurrence aggregate;
    * the only full-data exchange is the corpus side of the per-doc
    * fold join ([[spanStarts]]), and hit rows (the only join output)
    * are bounded by the true contamination volume. */
  def textDecontamSpan(s: SparkSession, dir: String,
                       w: Int = 25): DataFrame =
    decontamSpanCore(benchWindows(s, dir, w),
      docs(s, dir).filter(col("doc_id") % 31 =!= 0), w)

  val textDecontamSpanSql: String = s"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),${decontamCoverSql("toks")}
    SELECT doc_id, COUNT(*) AS n_tok,
           CAST(SUM(CASE WHEN cov IS NOT NULL AND cov >= pos
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
           COALESCE(md5(string_agg(
             CASE WHEN cov IS NULL OR cov < pos THEN tk END, ' '
             ORDER BY pos)), md5('')) AS rebuilt_md5
    FROM cv GROUP BY doc_id ORDER BY doc_id"""

  /** Oracle of [[decontamHits]] (benchmark = doc_id % 31 = 0) +
    * per-token coverage over the (doc_id, t) CTE `toks`: CTEs w, b,
    * hits, tok, cv — text_decontam_span's and corpus_pipeline_v4's. */
  private def decontamCoverSql(toks: String): String = s"""
    w AS (
      SELECT doc_id, pos, array_to_string(t[pos + 1 : pos + 25], ' ') AS c
      FROM (SELECT doc_id, t,
              unnest(generate_series(0, len(t) - 25)) AS pos
            FROM $toks)),
    b AS (SELECT DISTINCT c FROM w WHERE doc_id % 31 = 0),
    hits AS (
      SELECT w.doc_id, w.pos, w.pos + 24 AS cend
      FROM w JOIN b USING (c) WHERE w.doc_id % 31 <> 0),
    tok AS (
      SELECT doc_id, pos, t[pos + 1] AS tk
      FROM (SELECT doc_id, t,
              unnest(generate_series(0, len(t) - 1)) AS pos
            FROM $toks)
      WHERE doc_id % 31 <> 0),
    cv AS (
      SELECT tok.doc_id, tok.pos, tok.tk,
             MAX(h.cend) OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
                               ROWS UNBOUNDED PRECEDING) AS cov
      FROM tok LEFT JOIN hits h
        ON tok.doc_id = h.doc_id AND tok.pos = h.pos)"""

  /** Per-document repetition signals (the Gopher-style quality
    * filters: repetitious documents are low-value training data):
    * distinct-token ratio, fraction of bigram instances that are
    * repeats (their bigram occurs ≥2× in the doc), and the share of
    * the single most frequent bigram. Entirely within-row, so the
    * whole operator is one map stage with ZERO shuffle at any scale —
    * and linearithmic per document: sort the bigram array once, then a
    * single `aggregate` fold over the sorted array accumulates run
    * lengths (equal bigrams are adjacent after the sort), from which
    * both signals derive. Shipped as the native `bigram_run_stats`
    * Catalyst expression (`functions/BigramRunStats.scala`) — the
    * equivalent `array_sort` + `aggregate` HOF fold is interpreted
    * per element (Catalyst HOFs have no codegen) and measured ~16
    * CPU-s at sf0.1 vs ~4 for the native kernel; the naive nested-HOF
    * counting (`transform(g, x => size(filter(g, y => y === x)))`) is
    * O(len²) and measured 1052 CPU-s. Equivalence to the naive form
    * is spec-pinned. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("doc_id"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 6)
          .as("distinct_ratio"),
        // one native pass; materialized once so the reads below share it
        call_function("bigram_run_stats", toks).as("f"))
      .select(col("doc_id"), col("distinct_ratio"),
        when(col("f.ng") > 0,
          round(col("f.dup").cast("double") / col("f.ng"), 6))
          .otherwise(0.0).as("dup_gram_frac"),
        when(col("f.ng") > 0,
          round(col("f.mx").cast("double") / col("f.ng"), 6))
          .otherwise(0.0).as("top_gram_share"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (SELECT doc_id, w,
            CASE WHEN len(w) >= 2 THEN
              list_transform(generate_series(1, len(w) - 1),
                i -> array_to_string(w[i:i+1], ' '))
            ELSE [] END AS g
          FROM t),
    c AS (SELECT doc_id, w, g,
            list_transform(g, x -> len(list_filter(g, y -> y = x))) AS cnt
          FROM g)
    SELECT doc_id,
      ROUND(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS distinct_ratio,
      CASE WHEN len(g) > 0 THEN
        ROUND(CAST(len(list_filter(cnt, x -> x >= 2)) AS DOUBLE) / len(g), 6)
      ELSE 0.0 END AS dup_gram_frac,
      CASE WHEN len(g) > 0 THEN
        ROUND(CAST(list_max(cnt) AS DOUBLE) / len(g), 6)
      ELSE 0.0 END AS top_gram_share
    FROM c ORDER BY doc_id"""

  /** Fixed-SIZE deterministic per-stratum sample — k docs per source,
    * the fixed-count companion to sample_stratified's fixed-fraction
    * hash sampling. Selection ranks docs inside each source by a
    * salted content hash (rerunnable: hash-derived, no RNG state) and
    * keeps the k smallest. Two-level tournament so no stratum is ever
    * sorted whole: per-(source, 64-way hash bucket) top-k windows run
    * over partitions 64× smaller than the stratum, then a second
    * window picks the global k from the ≤ 64·k survivors — the same
    * rows a single global ranking would pick (every bucket keeps k, so
    * no global winner can be eliminated early), which is exactly what
    * the oracle's one-window QUALIFY computes. */
  def sampleReservoir(s: SparkSession, dir: String,
                      k: Int = 20): DataFrame = {
    val ranked = docs(s, dir)
      .select(col("source"), col("doc_id"),
        md5(concat(lit("rsv1:"), col("doc_id").cast("string"))).as("hk"),
        pmod(xxhash64(col("doc_id")), lit(64)).as("bkt"))
    val w1 = Window.partitionBy("source", "bkt").orderBy("hk", "doc_id")
    val w2 = Window.partitionBy("source").orderBy("hk", "doc_id")
    ranked
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("r2", row_number().over(w2)).filter(col("r2") <= k)
      .select(col("source"), col("doc_id"), col("hk"))
      .orderBy("source", "doc_id")
  }

  val sampleReservoirSql: String = """
    SELECT source, doc_id, md5('rsv1:' || CAST(doc_id AS VARCHAR)) AS hk
    FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source
      ORDER BY md5('rsv1:' || CAST(doc_id AS VARCHAR)), doc_id) <= 20
    ORDER BY source, doc_id"""

  /** Deterministic train/val/test assignment — the split step every
    * training corpus needs, rerunnable at any cluster size: the split
    * derives from a salted md5 of the doc id (hex-prefix bands ≈
    * 5.1% val / 5.1% test / 89.8% train), never from RNG state, so a
    * document lands in the same split on every run and any engine.
    * Emits per-(source, split) doc counts and token sums — one
    * map-side-combinable aggregation, one shuffle. */
  def textHashSplit(s: SparkSession, dir: String): DataFrame = {
    val h2 = substring(md5(concat(lit("split1:"),
      col("doc_id").cast("string"))), 1, 2)
    docs(s, dir)
      .select(col("source"),
        when(h2 < "0d", "val").when(h2 < "1a", "test")
          .otherwise("train").as("split"),
        size(toks).cast("long").as("n_tok"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"))
      .orderBy("source", "split")
  }

  val textHashSplitSql: String = """
    WITH t AS (
      SELECT source,
        CASE WHEN substring(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
               THEN 'val'
             WHEN substring(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
               THEN 'test'
             ELSE 'train' END AS split,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents)
    SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
    FROM t GROUP BY 1, 2 ORDER BY source, split"""

  /** Sub-document (line-level) dedup signals — the C4/RefinedWeb-style
    * pass that measures boilerplate shared ACROSS documents at finer
    * grain than whole-doc dedup. The test corpus carries no newlines,
    * so a "line" is a non-overlapping 10-token block (the operator's
    * splitter is one expression — swap in split-on-newline for real
    * text). Per doc: distinct blocks, blocks also present in ≥1 OTHER
    * doc, and the duplicated fraction. Shape: explode blocks →
    * distinct → one hash aggregation counting docs per block → join
    * back on the block → per-doc aggregation. Two shuffles on the
    * block key, both map-side combined; no broadcast of corpus-sized
    * state. */
  def dedupLines(s: SparkSession, dir: String): DataFrame = {
    val blockArr = transform(
      sequence(lit(1), floor(size(toks) / 10).cast("int")),
      i => concat_ws(" ", slice(toks, (i - 1) * 10 + 1, lit(10))))
    val blocks = docs(s, dir)
      .select(col("doc_id"),
        explode(when(size(toks) >= 10, blockArr)
          .otherwise(array().cast("array<string>"))).as("blk"))
      .distinct()
    val perBlock = blocks.groupBy("blk")
      .agg(count(lit(1)).as("n_docs")) // blocks distinct per doc
    val perDoc = blocks.join(perBlock, Seq("blk"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_blocks"))
    docs(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_dup_blocks"), lit(0L)).as("n_dup_blocks"),
        when(coalesce(col("n_blocks"), lit(0L)) > 0,
          round(col("n_dup_blocks").cast("double") / col("n_blocks"), 6))
          .otherwise(0.0).as("dup_frac"))
      .orderBy("doc_id")
  }

  val dedupLinesSql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    b AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(w) // 10),
          i -> array_to_string(w[(i-1)*10+1:i*10], ' '))) AS blk
      FROM t WHERE len(w) >= 10),
    c AS (SELECT blk, COUNT(*) AS n_docs FROM b GROUP BY 1),
    d AS (
      SELECT b.doc_id, COUNT(*) AS n_blocks,
             SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_blocks
      FROM b JOIN c USING (blk) GROUP BY 1)
    SELECT t.doc_id,
           CAST(COALESCE(d.n_blocks, 0) AS BIGINT) AS n_blocks,
           CAST(COALESCE(d.n_dup_blocks, 0) AS BIGINT) AS n_dup_blocks,
           CASE WHEN COALESCE(d.n_blocks, 0) > 0 THEN
             ROUND(CAST(d.n_dup_blocks AS DOUBLE) / d.n_blocks, 6)
           ELSE 0.0 END AS dup_frac
    FROM t LEFT JOIN d ON t.doc_id = d.doc_id
    ORDER BY t.doc_id"""

  /** Heavy-hitter 3-grams above frequency N/k — the SKETCH-then-
    * exact-verify companion to q_top_ngrams' exact histogram. At
    * 100 TB the n-gram vocabulary is long-tailed enough that even the
    * map-side-combined exact groupBy shuffles the full vocabulary;
    * here each partition first runs a Misra–Gries summary (bounded k
    * counters, classic decrement-on-overflow), and only the surviving
    * CANDIDATE grams are recounted exactly. The MG guarantee makes
    * the final output exact, not approximate: if a gram's global
    * frequency exceeds N/k, then on at least one partition its local
    * frequency exceeds that partition's share of N/k (else summing
    * the per-partition bounds contradicts the global count), so it
    * survives that partition's sketch and reaches the recount. The
    * recount is a plain filtered aggregation, so every emitted count
    * is exact and every qualifying gram is present — the sketch only
    * prunes the shuffle. One scalar driver read (total instance
    * count) sets the threshold, like dedup_ngram's guard count. */
  def textHeavyHitters(s: SparkSession, dir: String,
                       k: Int = 5000): DataFrame = {
    import s.implicits._
    // word_ngrams: the native kernel emits the same gram strings as
    // the Text.grams HOF chain (bit-certified in TextVecSpec) in one
    // compiled pass — Catalyst ran that transform/slice/concat_ws
    // lambda INTERPRETED per position. The gram stream stays LAZY:
    // re-exploding the pinned token arrays per pass is cheaper than
    // checkpoint-writing + re-reading millions of tiny gram strings
    // (measured ~20 → 8.3 CPU-s at sf0.1 from dropping the hot()).
    val gramRows = docs(s, dir)
      .select(explode(
        call_function("word_ngrams", col("toks"), lit(3))).as("g"))
    // the threshold count is ARITHMETIC — Σ max(n_tok − 2, 0) over the
    // pinned base table; no explode, no full gram pass
    val n = docs(s, dir)
      .agg(coalesce(sum(greatest(col("n_tok") - 2, lit(0))), lit(0L))
        .as("n"))
      .head().getLong(0)
    val thresh = n.toDouble / k
    val candidates = gramRows.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { g =>
        if (m.contains(g) || m.size < k) m.update(g, m.getOrElse(g, 0L) + 1L)
        else {
          // decrement every counter; evict the zeroed (Misra–Gries)
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          m.keysIterator.foreach { key =>
            val v = m(key) - 1L
            if (v == 0L) dead += key else m.update(key, v)
          }
          dead.foreach(m.remove)
        }
      }
      m.keysIterator
    }.toDF("g").distinct()
    gramRows.join(broadcast(candidates), Seq("g"))
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > thresh)
      .orderBy(col("g"))
  }

  val textHeavyHittersSql: String = """
    WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
    g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 2),
            i -> array_to_string(w[i:i+2], ' '))) AS g FROM t),
    tot AS (SELECT COUNT(*) AS n FROM g)
    SELECT g, COUNT(*) AS cnt FROM g
    GROUP BY g
    HAVING COUNT(*) > (SELECT n / 5000.0 FROM tot)
    ORDER BY g"""

  /** The quality GATE every training pipeline runs before assembly:
    * combine the in-row signals (token count band, distinct-token
    * ratio, top-bigram share) into one keep/drop decision and report
    * per-source survival. All signals are within-row expressions, so
    * the whole gate is one scan + one map-side-combined aggregation —
    * no joins, no windows, nothing that grows with corpus size beyond
    * the scan itself. Thresholds follow the Gopher-style filters the
    * individual signal operators document. */
  def corpusQualityFilter(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("source"), qualityGate().as("gate"),
        call_function("bigram_run_stats", toks).as("f"))
      .select(col("source"),
        (col("gate") && (when(col("f.ng") > 0,
          col("f.mx").cast("double") / col("f.ng")).otherwise(0.0) <= 0.2))
          .as("keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        round(col("n_keep").cast("double") / col("n_docs"), 6)
          .as("keep_rate"))
      .orderBy("source")
  }

  /** The in-row quality gate: token-count band + distinct-token ratio.
    * One definition for corpus_quality_filter, the
    * CorpusPipeline.qualityFilter step and its streaming twin
    * (StreamDedup.corpusAssemblyStream). */
  private[graft] def qualityGate(minTok: Int = 20, maxTok: Int = 100000,
                                 minDistinctRatio: Double = 0.1): Column =
    size(toks) >= minTok && size(toks) <= maxTok &&
      size(array_distinct(toks)).cast("double") / size(toks) >=
        minDistinctRatio

  val corpusQualityFilterSql: String = """
    WITH t AS (
      SELECT source, string_split(text, ' ') AS w FROM documents),
    g AS (SELECT source, w,
            CASE WHEN len(w) >= 2 THEN
              list_transform(generate_series(1, len(w) - 1),
                i -> array_to_string(w[i:i+1], ' '))
            ELSE [] END AS g
          FROM t),
    sig AS (
      SELECT source, len(w) AS n_tok,
        CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dr,
        CASE WHEN len(g) > 0 THEN
          CAST(list_max(list_transform(g, x ->
            len(list_filter(g, y -> y = x)))) AS DOUBLE) / len(g)
        ELSE 0.0 END AS tg
      FROM g),
    flagged AS (
      SELECT source,
        (n_tok >= 20 AND n_tok <= 100000 AND dr >= 0.1 AND tg <= 0.2)
          AS keep
      FROM sig)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS keep_rate
    FROM flagged GROUP BY source ORDER BY source"""

  /** End-to-end fluent pipeline (graft.api.CorpusPipeline): exact
    * dedup → stratified sample → token-budget pack → shard stats, all
    * fused into one Catalyst plan. The oracle mirrors the chain as
    * CTEs (QUALIFY argmin ≡ the window dedup). */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame =
    graft.api.CorpusPipeline(docs(s, dir))
      .dedupExact
      .sampleStratified()
      .packShards(2000)
      .shardStats

  val pipelineE2eSql: String = s"""
    WITH ${dedupSampledSql("documents")}${shardStatsSql("sampled")}"""

  /** Oracle of dedupExact → sampleStratified over the CTE `from`:
    * CTEs dedup, sampled. */
  private def dedupSampledSql(from: String): String = s"""dedup AS (
      SELECT * FROM $from
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
    sampled AS (
      SELECT * FROM dedup
      WHERE substring(md5(text), 1, 2) <
            (CASE WHEN lang = 'en' THEN '29' ELSE '80' END)),"""

  /** Oracle of packShards(2000).shardStats over the CTE `from`. */
  private def shardStatsSql(from: String): String = s"""
    packed AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM $from)
    SELECT source, CAST(FLOOR((cum - n_tok) / 2000.0) AS BIGINT) AS shard,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
    FROM packed GROUP BY 1, 2 ORDER BY source, shard"""

  /** The full assembly chain with the quality gate up front — still
    * ONE fused Catalyst plan: quality filter (pushed to the scan) →
    * exact dedup → stratified sample → token-budget shards. */
  def pipelineFull(s: SparkSession, dir: String): DataFrame =
    graft.api.CorpusPipeline(docs(s, dir))
      .qualityFilter()
      .dedupExact
      .sampleStratified()
      .packShards(2000)
      .shardStats

  val pipelineFullSql: String = s"""
    WITH q AS (
      SELECT * FROM documents
      WHERE len(string_split(text, ' ')) >= 20
        AND len(string_split(text, ' ')) <= 100000
        AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) >= 0.1),
    ${dedupSampledSql("q")}${shardStatsSql("sampled")}"""

  /** The assembly chain with cross-corpus duplicate-BLOCK removal
    * fused in: qualityFilter → dedupParagraphs (documents REWRITTEN
    * from their surviving 10-token blocks) → dedupExact →
    * sampleStratified → packShards — still ONE lazy Catalyst plan (the
    * rewrite adds two block-key shuffles and a doc join, never a
    * materialization), and every later step operates on the REBUILT
    * text (the md5 sampling threshold provably sees the rewritten
    * bytes — the oracle replays the rebuild with string_agg and then
    * the same md5 cuts). */
  def pipelineV2(s: SparkSession, dir: String): DataFrame =
    graft.api.CorpusPipeline(docs(s, dir))
      .qualityFilter()
      .dedupParagraphs()
      .dedupExact
      .sampleStratified()
      .packShards(2000)
      .shardStats

  val pipelineV2Sql: String = s"""
    WITH q AS (
      SELECT * FROM documents
      WHERE len(string_split(text, ' ')) >= 20
        AND len(string_split(text, ' ')) <= 100000
        AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) >= 0.1),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM q),$blockCanonSql,
    reb AS (
      SELECT b.doc_id, string_agg(b.blk, ' ' ORDER BY b.pos) AS text
      FROM b JOIN canon c ON b.blk = c.blk
      WHERE b.doc_id * 1048576 + b.pos = c.cp
      GROUP BY b.doc_id),
    rw AS (
      SELECT q.doc_id, reb.text, q.lang, q.source
      FROM q JOIN reb ON q.doc_id = reb.doc_id),
    ${dedupSampledSql("rw")}${shardStatsSql("sampled")}"""

  /** The round-11 assembly chain — the fluent pipeline composing the
    * PUBLISHED gates end-to-end under the oracle: Gopher rules
    * (Rae et al. 2021) → exact ≥50-token shared-substring removal
    * (Lee et al. 2021) → exact dedup → token-budget shards. One lazy
    * Catalyst plan up to the dedup windows; the oracle replays every
    * step (the Gopher predicate, the window/coverage/rebuild chain,
    * the min-id keeper, the running-sum shard cut) in SQL. Next to
    * corpus_pipeline_v2 (heuristic gate + block-grain dedup), this is
    * the chain a 2024-class pipeline actually ships. */
  def pipelineV3(s: SparkSession, dir: String): DataFrame =
    graft.api.CorpusPipeline(docs(s, dir))
      .gopherFilter()
      .dedupSubstrings()
      .dedupExact
      .packShards(2000)
      .shardStats

  val pipelineV3Sql: String = s"""
    WITH d0 AS (
      SELECT *, string_split(text, ' ') AS t0,
        len(string_split(text, ' ')) AS dl,
        len(text) - (len(string_split(text, ' ')) - 1) AS wc
      FROM documents),
    g AS (
      SELECT doc_id, text, lang, source FROM d0
      WHERE NOT (dl < 50 OR dl > 100000)
        AND NOT (wc < 3 * dl OR wc > 10 * dl)
        AND NOT (len(list_intersect(list_distinct(t0),
              ['the', 'a', 'of', 'and', 'to', 'in'])) < 2)
        AND NOT (5 * len(list_filter(t0,
              x -> regexp_matches(x, '[A-Za-z]'))) < 4 * dl)
        AND NOT (10 * len(list_filter(t0,
              x -> x = '#' OR x = '...')) > dl)),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM g),$substringCoverSql,
    reb AS (
      SELECT doc_id,
        COALESCE(string_agg(
          CASE WHEN cov IS NULL OR cov < pos THEN tk END, ' '
          ORDER BY pos), '') AS text
      FROM cv GROUP BY doc_id),
    rw AS (
      SELECT g.doc_id, reb.text, g.source
      FROM g JOIN reb ON g.doc_id = reb.doc_id),
    dedup AS (
      SELECT * FROM rw
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),${shardStatsSql("dedup")}"""

  /** The round-16 RELEASE chain (corpus_pipeline_v4): screen the
    * corpus against the benchmark (span surgery), drop exact
    * duplicates of the CLEANED text (a contaminated doc and its clean
    * twin collapse after surgery — order matters, and this order is
    * the one a release runs), then materialize the mixture schedule
    * and report the per-(slice, source) audit. Each step runs the
    * same core as its certified standalone op — decontamHits + the
    * span fold (text_decontam_span), mixtureInstances + mixtureAudit
    * (pack_mixture) — composed end-to-end under one oracle replay. */
  def pipelineV4(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cleaned = graft.api.CorpusPipeline(d.filter(col("doc_id") % 31 =!= 0))
      .decontamSpan(d.filter(col("doc_id") % 31 === 0), 25)
      .dedupExact
    mixtureAudit(cleaned.packMixture(64).df,
      size(split(col("text"), " ")).cast("long"))
  }

  val pipelineV4Sql: String = s"""
    WITH toksAll AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),${decontamCoverSql("toksAll")},
    reb AS (
      SELECT doc_id,
             COALESCE(string_agg(
               CASE WHEN cov IS NULL OR cov < pos THEN tk END, ' '
               ORDER BY pos), '') AS text
      FROM cv GROUP BY doc_id),
    rw AS (
      SELECT d.doc_id, reb.text, d.source
      FROM documents d JOIN reb USING (doc_id)),
    dedup AS (
      SELECT * FROM rw
      QUALIFY row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) = 1),
    ${mixtureSql("dedup")}"""

  /** The corpus DATASHEET — the per-source summary every corpus
    * release publishes: document/token/char totals, mean lengths, and
    * the language mix, in ONE map-side-combined aggregate pass.
    * Language mix as conditional counts (the lang domain is the
    * generator's five codes; an unexpected code lands in n_lang_other
    * so the row still reconciles). Integer sums exact; means are
    * single divisions. */
  def corpusDatasheet(s: SparkSession, dir: String): DataFrame = {
    def langN(l: String) =
      sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"n_$l")
    docs(s, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(toks).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("tokens"),
        sum("n_chars").as("chars"),
        round(sum("n_tok").cast("double") / count(lit(1)), 4)
          .as("mean_tokens"),
        langN("en"), langN("de"), langN("es"), langN("fr"), langN("zh"),
        sum(when(col("lang").isin("en", "de", "es", "fr", "zh"), 0L)
          .otherwise(1L)).as("n_lang_other"))
      .orderBy("source")
  }

  val corpusDatasheetSql: String = """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_tokens,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
           CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
           CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
           CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh,
           CAST(SUM(CASE WHEN lang IN ('en','de','es','fr','zh')
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_lang_other
    FROM documents GROUP BY 1 ORDER BY source"""

  /** C4-style duplicate-block REMOVAL — the rewrite companion to
    * dedup_lines' signals: every 10-token block that already occurred
    * anywhere else in the corpus (canonical first occurrence = smallest
    * (doc_id, pos), the deterministic analog of C4's processing order)
    * is dropped, documents are rebuilt from their surviving blocks,
    * and the rebuilt text is certified byte-for-byte by md5. Two
    * map-side-combined shuffles on the block key (canonical argmin as
    * ONE primitive-MIN hash aggregate over a packed (doc_id, pos)
    * long, guarded — the dedup_keep_best recipe) plus one per-doc
    * aggregate; the block STRING never rides a shuffle twice (joins on
    * the 8-byte hash). Unlike dedup_lines this keeps the tail partial
    * block — removal must cover the whole document.
    */
  def dedupParagraphs(s: SparkSession, dir: String): DataFrame =
    dedupParagraphsCore(docs(s, dir))

  private[graft] def dedupParagraphsCore(docsDf: DataFrame): DataFrame = {
    val b = Tables.hot(paragraphBlocks(docsDf, 10))
    val reb = keptBlocks(b).groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"), md5(keptText).as("rebuilt_md5"))
    val tot = b.groupBy("doc_id").agg(count(lit(1)).as("n_blocks"))
    tot.join(reb, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_blocks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("rebuilt_md5"), md5(lit(""))).as("rebuilt_md5"))
      .orderBy("doc_id")
  }

  /** (doc_id, pos, bh, blk) for every `blockTokens`-token block of
    * every document, the tail partial block included. */
  private[graft] def paragraphBlocks(docsDf: DataFrame,
                                     blockTokens: Int): DataFrame = {
    val nBlocks = ceil(size(toks) / lit(blockTokens.toDouble)).cast("int")
    val blockArr = transform(sequence(lit(1), nBlocks),
      i => concat_ws(" ", slice(toks, (i - 1) * blockTokens + 1,
        lit(blockTokens))))
    docsDf
      .select(col("doc_id"), posexplode(blockArr).as(Seq("pos", "blk")))
      .select(col("doc_id"), col("pos"), xxhash64(col("blk")).as("bh"),
        col("blk"))
  }

  /** The blocks that are their content's canonical (smallest packed
    * (doc_id, pos)) occurrence — dedup_paragraphs' keep decision, also
    * the CorpusPipeline.dedupParagraphs step's. */
  private[graft] def keptBlocks(blocks: DataFrame): DataFrame = {
    val packed = packedDocPos("dedup_paragraphs")
    val canon = blocks.select(col("bh"), packed.as("pk"))
      .groupBy("bh").agg(min(col("pk")).as("cp"))
    blocks.join(canon, Seq("bh")).filter(packed === col("cp"))
  }

  /** Per-doc aggregate over kept blocks: their text rejoined in
    * position order. */
  private[graft] def keptText: Column =
    concat_ws(" ",
      transform(array_sort(collect_list(struct(col("pos"), col("blk")))),
        x => x.getField("blk")))

  val dedupParagraphsSql: String = s"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),$blockCanonSql,
    kept AS (
      SELECT b.doc_id, b.pos, b.blk
      FROM b JOIN canon c ON b.blk = c.blk
      WHERE b.doc_id * 1048576 + b.pos = c.cp),
    reb AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(blk, ' ' ORDER BY pos)) AS rebuilt_md5
      FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_blocks FROM b GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(r.n_kept, 0) AS n_kept,
           t.n_blocks - COALESCE(r.n_kept, 0) AS n_dropped,
           COALESCE(r.rebuilt_md5, md5('')) AS rebuilt_md5
    FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
    ORDER BY t.doc_id"""

  /** Oracle of [[paragraphBlocks]] + the canonical (smallest packed
    * (doc_id, pos)) occurrence per block over the (doc_id, t) CTE
    * `toks`: CTEs b, canon — dedup_paragraphs' and
    * corpus_pipeline_v2's. */
  private def blockCanonSql: String = """
    b AS (
      SELECT doc_id, pos,
             array_to_string(t[pos * 10 + 1 : pos * 10 + 10], ' ') AS blk
      FROM (SELECT doc_id, t,
              unnest(generate_series(0,
                CAST(ceil(len(t) / 10.0) AS INT) - 1)) AS pos
            FROM toks)),
    canon AS (
      SELECT blk, MIN(doc_id * 1048576 + pos) AS cp FROM b GROUP BY blk)"""

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how target-domain-like its hashed bag-of-words is —
    * per-token log-ratio of the target vs raw bucket distributions
    * (Laplace-smoothed), averaged per token — and report per-source
    * survival at the above-corpus-average gate: keep iff
    * lw · n_docs_total > Σ lw, evaluated in EXACT decimal arithmetic
    * (multiply, never divide — a decimal quotient's scale rules differ
    * across engines; the cross-multiplied comparison is exact in
    * both). The published selection method between hard quality gates
    * (corpus_quality_filter) and diversity selection (sample_kcenter).
    *
    * Determinism: feature buckets are md5-derived (oracle-replayable,
    * engine-independent); the log-ratio sums ln of INTEGER-derived
    * counts and rounds at 6 dp BEFORE the keep comparison (the
    * text_langid_stat recipe — both engines compare the same rounded
    * value); the per-source score reports as sum_logw + n_docs (NOT a
    * rounded mean: the quotient of a 6dp-quantized sum by a small
    * count can land exactly on a .5e-6 boundary where Spark's
    * shortest-repr half-up and DuckDB's binary rounding diverge — the
    * q_rfm ROUND rule; consumers divide sum_logw / n_docs themselves).
    * Scale shape: ONE pass builds per-bucket counts (tiny: `buckets`
    * rows, broadcast back; totals re-aggregate from it), per-doc
    * scores are a broadcast join + one hash aggregate on the
    * checkpointed token stream. */
  def sampleDsir(s: SparkSession, dir: String, target: String = "src0",
                 buckets: Int = 256): DataFrame = {
    // fold token MULTIPLICITY per (doc, bucket) before anything else:
    // the exploded stream collapses map-side into ≤ `buckets` rows per
    // doc, so the checkpoint, the bucket-count pass and the per-doc
    // score join all touch the compact table — the raw token stream is
    // scanned exactly once. The score term becomes k·(ln ratios) in
    // BOTH engines (same doubles — the text_langid_stat recipe).
    val b = Tables.hot(docs(s, dir)
      .select(col("doc_id"), col("source"), explode(toks).as("w"))
      .withColumn("b", expr(s"""CAST(conv(substring(md5(concat('dsir:',
        w)), 1, 8), 16, 10) AS BIGINT) % $buckets"""))
      .groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("k")))
    val cnt = b.groupBy("b").agg(sum("k").as("call"),
      sum(when(col("source") === target, col("k")).otherwise(0L)).as("ctgt"))
    val tot = cnt.agg(sum("call").as("na"), sum("ctgt").as("nt"))
    val perdoc = b.join(broadcast(cnt), Seq("b"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id", "source")
      .agg(sum(col("k").cast("double") *
          (log((col("ctgt") + lit(1L)).cast("double")) -
           log((col("call") + lit(1L)).cast("double")))).as("sl"),
        sum(col("k")).as("n"),
        first(col("na")).as("na"), first(col("nt")).as("nt"))
      .select(col("source"),
        round((col("sl") + col("n") *
          (log((col("na") + lit(buckets.toLong)).cast("double")) -
           log((col("nt") + lit(buckets.toLong)).cast("double"))))
          / col("n"), 6).as("lw"))
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val glob = perdoc.agg(count(lit(1)).as("n_all"),
      sum(col("lw").cast(dec6)).as("s_all"))
    perdoc.crossJoin(broadcast(glob))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lw").cast(dec6) * col("n_all") > col("s_all"), 1L)
          .otherwise(0L)).as("n_kept"),
        graft.QueryDef.dsum(col("lw"), 6).as("sum_logw"))
      .orderBy("source")
  }

  val sampleDsirSql: String = """
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      FROM documents),
    bk AS (
      SELECT doc_id, source,
             CAST(('0x' || substring(md5('dsir:' || w), 1, 8)) AS UBIGINT)
               % 256 AS b
      FROM tok),
    tb AS (
      SELECT doc_id, source, b, COUNT(*) AS k FROM bk GROUP BY 1, 2, 3),
    cnt AS (
      SELECT b, SUM(k) AS call,
             SUM(CASE WHEN source = 'src0' THEN k ELSE 0 END) AS ctgt
      FROM tb GROUP BY b),
    tot AS (SELECT SUM(call) AS na, SUM(ctgt) AS nt FROM cnt),
    perdoc AS (
      SELECT tb.doc_id, tb.source,
        ROUND((SUM(CAST(k AS DOUBLE) * (ln(CAST(c.ctgt + 1 AS DOUBLE))
                   - ln(CAST(c.call + 1 AS DOUBLE))))
               + SUM(k) * (ln(CAST((SELECT na FROM tot) + 256 AS DOUBLE))
                   - ln(CAST((SELECT nt FROM tot) + 256 AS DOUBLE))))
              / SUM(k), 6) AS lw
      FROM tb JOIN cnt c USING (b)
      GROUP BY 1, 2),
    gall AS (
      SELECT COUNT(*) AS n_all, SUM(CAST(lw AS DECIMAL(18,6))) AS s_all
      FROM perdoc)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN CAST(lw AS DECIMAL(18,6)) * g.n_all > g.s_all
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(lw AS DECIMAL(18,6))) AS DOUBLE) AS sum_logw
    FROM perdoc, gall g GROUP BY source ORDER BY source"""

  /** Best-fit SEQUENCE packing — the trainer-side op next to
    * pack_shards: documents pack into fixed `cap`-token training
    * sequences by first-fit-decreasing, and the per-source padding
    * waste (the number every trainer actually budgets — pad tokens are
    * burned FLOPs) is reported in exact ppm. pack_shards cuts
    * contiguous token budgets and answers "how many shards"; this
    * answers "how many sequences and how full are they".
    *
    * Determinism + scale: FFD is sequential, so it runs per HASH
    * BUCKET (md5-derived from doc_id — rerunnable, engine- and
    * cluster-size-independent, NOT Spark partition ids which vary
    * with parallelism), one bounded `ffd_bins` native-expression
    * evaluation per (source, bucket) group — the corpus never
    * serializes through one task, and bucket count scales with corpus
    * size. Bin count depends only on the size multiset, so the oracle
    * replays the identical FFD with a recursive-CTE bin-state walk
    * (first fit found via list_position over the remaining-capacity
    * list) and matches exactly. Waste is integer arithmetic
    * (`div` — a double ratio could land on a .5 rounding boundary,
    * the CLAUDE.md ROUND rule). Oversized docs clamp to cap on BOTH
    * sides (they'd be truncated by the trainer).
    */
  def packSequences(s: SparkSession, dir: String, cap: Int = 4096,
                    buckets: Int = 0): DataFrame = {
    val base = docs(s, dir).select(col("source"), col("doc_id"),
      least(size(toks).cast("long"), lit(cap.toLong)).as("n_tok"))
    // Per-bucket FFD is O(items × open_bins): a FIXED bucket count lets
    // a large single-source corpus concentrate n/k docs in one bucket
    // and go quadratic. buckets ≤ 0 (the default) derives the count
    // from corpus size — ≥8, ≤4096 expected docs per bucket — as a
    // deterministic function of COUNT(*) the oracle replays in SQL, so
    // results stay cluster-size-independent AND per-bucket work stays
    // bounded. (At the gate scales n ≤ 32768 ⇒ auto = 8, the historic
    // constant.)
    val nb = if (buckets > 0) lit(buckets.toLong)
      else greatest(lit(8L), expr("(n_corpus + 4095) div 4096"))
    val d = base
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n_corpus"))))
      .withColumn("bucket",
        expr("""CAST(conv(substring(md5(concat('pack:',
          CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)""") % nb)
      .drop("n_corpus")
    d.groupBy("source", "bucket")
      .agg(call_function("ffd_bins",
          array_sort(collect_list(col("n_tok"))), lit(cap))
          .cast("long").as("n_bins"),
        count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"))
      .groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("tok_sum").as("tok_sum"),
        sum("n_bins").as("n_bins"))
      .select(col("source"), col("n_docs"), col("tok_sum"), col("n_bins"),
        // pad·1e6 in a 38-digit decimal: past ~9.2e12 pad tokens a LONG
        // multiply wraps silently under non-ANSI arithmetic (DuckDB's
        // BIGINT would error loudly — a silent-vs-loud divergence);
        // 100 TB corpora sit inside that range. div of positives
        // truncates identically in both engines.
        expr(s"""CAST(CAST(n_bins * $cap - tok_sum AS DECIMAL(38,0))
          * 1000000 div (n_bins * $cap) AS BIGINT)""").as("waste_ppm"))
      .orderBy("source")
  }

  val packSequencesSql: String = """
    WITH RECURSIVE d AS (
      SELECT source, doc_id,
             LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 4096)
               AS n_tok,
             CAST(CAST(('0x' || substring(md5('pack:' ||
                 CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS BIGINT)
               % GREATEST(8, (SELECT (COUNT(*) + 4095) // 4096
                              FROM documents)) AS bucket
      FROM documents),
    it AS (
      SELECT source, bucket, n_tok,
             ROW_NUMBER() OVER (PARTITION BY source, bucket
                                ORDER BY n_tok DESC, doc_id) AS i,
             COUNT(*) OVER (PARTITION BY source, bucket) AS n
      FROM d),
    walk AS (
      SELECT source, bucket, 0 AS i, CAST([] AS BIGINT[]) AS rems,
             MAX(n) AS n
      FROM it GROUP BY source, bucket
      UNION ALL
      SELECT w.source, w.bucket, w.i + 1,
        -- list_position returns 0 (not NULL) when no bin fits
        CASE WHEN COALESCE(list_position(
               list_transform(w.rems, r -> r >= it.n_tok), true), 0) = 0
          THEN list_append(w.rems, 4096 - it.n_tok)
          ELSE list_transform(generate_series(1, len(w.rems)), x ->
            CASE WHEN x = list_position(
                   list_transform(w.rems, r -> r >= it.n_tok), true)
              THEN w.rems[x] - it.n_tok ELSE w.rems[x] END)
        END,
        w.n
      FROM walk w JOIN it
        ON it.source = w.source AND it.bucket = w.bucket
          AND it.i = w.i + 1),
    fin AS (
      SELECT source, bucket, len(rems) AS n_bins
      FROM walk WHERE i = n),
    agg AS (
      SELECT d.source, COUNT(*) AS n_docs,
             CAST(SUM(d.n_tok) AS BIGINT) AS tok_sum
      FROM d GROUP BY d.source),
    bins AS (
      SELECT source, CAST(SUM(n_bins) AS BIGINT) AS n_bins
      FROM fin GROUP BY source)
    SELECT a.source, a.n_docs, a.tok_sum, b.n_bins,
           CAST((CAST(b.n_bins * 4096 - a.tok_sum AS HUGEINT) * 1000000)
             // (b.n_bins * 4096) AS BIGINT) AS waste_ppm
    FROM agg a JOIN bins b ON a.source = b.source
    ORDER BY a.source"""

  /** The (doc_id, pos) → one-long packing every canonical-first-
    * occurrence argmin keys on: doc_id·2²⁰ + pos, so the argmin is ONE
    * primitive-MIN hash aggregate (a struct min would regress it to a
    * SortAggregate — the dedup_keep_best trap). Outside doc_id ∈
    * [0, 2⁴²), pos ∈ [0, 2²⁰) two pairs would share a key, so the row
    * fails loudly, naming `op` and the offending pair. */
  private[graft] def packedDocPos(op: String): Column =
    expr(s"""CASE WHEN doc_id >= 0 AND doc_id < 4398046511104
        AND pos >= 0 AND pos < 1048576
      THEN doc_id * 1048576 + pos
      ELSE raise_error(concat('$op: unpackable (doc_id, pos)=(',
        CAST(doc_id AS STRING), ',', CAST(pos AS STRING), ')')) END""")

  /** The window-keying stage of dedup_substrings, pre-checkpoint:
    * (doc_id, pos, h1, h2) for every w-token window. Exposed so
    * PlanAuditSpec can pin the native rolling-hash shape (the
    * checkpointed final plan no longer contains this subtree). */
  private[graft] def substringWindows(docsDf: DataFrame,
                                      w: Int): DataFrame =
    docsDf
      .select(col("doc_id"),
        explode(call_function("rolling_hash_windows", toks, lit(w)))
          .as("wh"))
      .select(col("doc_id"), col("wh.pos").as("pos"),
        col("wh.h1").as("h1"), col("wh.h2").as("h2"))

  /** The duplicate windows of dedup_substrings (also the
    * CorpusPipeline.dedupSubstrings step): (doc_id, pos) of every
    * w-token window whose content occurs at a smaller packed
    * (doc_id, pos). */
  private[graft] def substringDupHits(docsDf: DataFrame,
                                      w: Int): DataFrame = {
    val packed = packedDocPos("dedup_substrings")
    val wins = Tables.hot(substringWindows(docsDf, w))
    val canon = wins.groupBy("h1", "h2").agg(min(packed).as("cp"))
    wins.join(canon, Seq("h1", "h2"))
      .filter(packed =!= col("cp"))
      .select(col("doc_id"), col("pos"))
  }

  /** Exact shared-substring removal — the published dedup standard the
    * block-grain ops under-match (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": remove every
    * ≥50-token substring shared across the corpus; C4/Pile-class
    * pipelines run exactly this). `dedup_lines`/`dedup_paragraphs`
    * hash FIXED 10-token blocks, so a duplicated span that straddles a
    * block edge leaves both partial blocks unmatched; here every
    * w-token window at STRIDE 1 is keyed, so any shared run of ≥ w
    * tokens is caught at every alignment (spec: a straddling span this
    * op removes and dedup_paragraphs misses). Semantics: a window is
    * duplicate iff its content occurs at a smaller packed (doc_id,
    * pos) — first occurrence kept, the deterministic analog of the
    * paper's suffix-array order; a token is removed iff ANY duplicate
    * window covers it (overlapping windows merge into spans for free
    * via the fold's running max covered end); documents rebuild from surviving
    * tokens, certified byte-exact by md5 against the oracle's
    * string-content replay.
    *
    * Scale shape: the `rolling_hash_windows` native expression hashes
    * each token once and rolls two independent 64-bit polynomial
    * hashes per window — O(n) per document with NO w× window-string
    * materialization (the naive slice+concat plan hashes 5 PB to scan
    * 100 TB at w=50), and only 20-byte (pos, h1, h2) rows ever ride a
    * shuffle. First-occurrence is ONE map-side-combined primitive-MIN
    * hash aggregate over the packed key (the dedup_paragraphs/
    * dedup_keep_best recipe — partial aggregation absorbs boilerplate
    * skew, e.g. a license header duplicated 10^9 times, where a
    * per-key window sort would concentrate the key in one task); the
    * verdict join is an 8+8-byte-key hash join AQE can skew-split.
    * Coverage, span merge, and rebuild run PER DOCUMENT as two
    * O(n + h) folds over (toks, sorted hit starts) — see
    * [[spanFoldReport]]: only the non-canonical window positions ever
    * shuffle, the token stream itself never leaves its scan task.
    * Reference anchor: the grain the reference's
    * duplicate-filter rows imply, generalized to the published
    * exact-substring standard.
    */
  private[graft] def substringDedupCore(docsDf: DataFrame,
                                        w: Int): DataFrame =
    spanFoldReport(docsDf, substringDupHits(docsDf, w), w, "n_dropped")

  def dedupSubstrings(s: SparkSession, dir: String): DataFrame =
    substringDedupCore(docs(s, dir), 50)

  val dedupSubstringsSql: String = s"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),$substringCoverSql
    SELECT doc_id, COUNT(*) AS n_tok,
           CAST(SUM(CASE WHEN cov IS NOT NULL AND cov >= pos
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           COALESCE(md5(string_agg(
             CASE WHEN cov IS NULL OR cov < pos THEN tk END, ' '
             ORDER BY pos)), md5('')) AS rebuilt_md5
    FROM cv GROUP BY doc_id ORDER BY doc_id"""

  /** Oracle of [[substringDupHits]] + per-token coverage over the
    * (doc_id, t) CTE `toks`: CTEs w, canon, removed, tok, cv —
    * dedup_substrings' and corpus_pipeline_v3's. */
  private def substringCoverSql: String = """
    w AS (
      SELECT doc_id, pos, array_to_string(t[pos + 1 : pos + 50], ' ') AS c
      FROM (SELECT doc_id, t,
              unnest(generate_series(0, len(t) - 50)) AS pos
            FROM toks)),
    canon AS (SELECT c, MIN(doc_id * 1048576 + pos) AS cp FROM w GROUP BY c),
    removed AS (
      SELECT w.doc_id, w.pos, w.pos + 49 AS cend
      FROM w JOIN canon ON w.c = canon.c
      WHERE w.doc_id * 1048576 + w.pos != canon.cp),
    tok AS (
      SELECT doc_id, pos, t[pos + 1] AS tk
      FROM (SELECT doc_id, t,
              unnest(generate_series(0, len(t) - 1)) AS pos
            FROM toks)),
    cv AS (
      SELECT tok.doc_id, tok.pos, tok.tk,
             MAX(r.cend) OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
                               ROWS UNBOUNDED PRECEDING) AS cov
      FROM tok LEFT JOIN removed r
        ON tok.doc_id = r.doc_id AND tok.pos = r.pos)"""

  /** Importance sampling — keep probability PROPORTIONAL to a per-doc
    * quality weight (here the distinct-token ratio, the Gopher-style
    * diversity signal), not a flat per-stratum rate: the
    * quality-weighted downsampling step between corpus_quality_filter's
    * hard gate and corpus_mix's stratum equalization. The keep decision
    * is u(doc) < w(doc) with u an md5-derived uniform — a pure function
    * of the row (sample_stratified contract: rerunnable, engine- and
    * cluster-size-independent, no RNG state), so the oracle replays it
    * exactly. One scan, one map-side-combined aggregate; E[kept] =
    * Σw certified by emitting both.
    */
  def sampleImportance(s: SparkSession, dir: String): DataFrame = {
    val w = (size(array_distinct(toks)).cast("double") /
      greatest(size(toks), lit(1))).as("w")
    val u = (expr(
      "CAST(conv(substring(md5(concat('imp1:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS DOUBLE)")
      / lit(4294967296.0)).as("u")
    docs(s, dir).select(col("source"), w, u)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("u") < col("w"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(col("w").cast(
          org.apache.spark.sql.types.DecimalType(38, 12))).cast("double"), 6)
          .as("expected_kept"),
        round(sum(when(col("u") < col("w"), col("w")).otherwise(lit(0.0))
          .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .cast("double"), 6).as("kept_weight"))
      .orderBy("source")
  }

  val sampleImportanceSql: String = """
    WITH d AS (
      SELECT source,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / GREATEST(len(string_split(text, ' ')), 1) AS w,
             CAST(('0x' || substring(md5('imp1:' || CAST(doc_id AS VARCHAR)),
               1, 8)) AS UBIGINT)::DOUBLE / 4294967296.0 AS u
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN u < w THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE), 6)
             AS expected_kept,
           ROUND(CAST(SUM(CAST(CASE WHEN u < w THEN w ELSE 0.0 END
             AS DECIMAL(38,12))) AS DOUBLE), 6) AS kept_weight
    FROM d GROUP BY source ORDER BY source"""

  // ---- content-defined chunking (CDC) ---------------------------------
  /** Content-defined chunking: a chunk boundary falls after token i
    * exactly when the hash of the trigram ENDING at i ≡ 0 (mod 8) — so
    * boundaries are a function of local CONTENT, not position, and an
    * insertion near the head re-chunks only its neighborhood instead of
    * shifting every window (the rsync/LBFS/storage-dedup property;
    * certified on an edited document in spec). Expected chunk length 8
    * tokens, geometric tail — chunk_windows' fixed stride is the
    * position-fragile sibling. Per-source output reports the duplicate-
    * chunk fraction: how much of the corpus a chunk store would dedup
    * away. Boundary hashes use the md5-derived 60-bit value (oracle-
    * replayable ordering-free modulus). Shapes: fanout → ONE native
    * per-doc pass (functions.CdcChunks: hash, segment and re-join in a
    * tight loop — the former posexplode + two LAG windows + cumulative
    * sum + collect_list rebuild shuffled every TOKEN four times for
    * work that never leaves its document) → posexplode of the per-doc
    * chunk array → md5-key shuffle join for global chunk counts (chunk
    * vocab never broadcasts) → one source aggregate.
    */
  private[graft] def cdcChunks(docsDf: DataFrame): DataFrame = {
    docsDf
      .select(col("doc_id"), col("source"),
        posexplode(call_function("cdc_chunks", split(col("text"), " ")))
          .as(Seq("cid", "ch")))
      .select(col("doc_id"), col("source"), col("cid").cast("long").as("cid"),
        col("ch.ctext").as("ctext"), col("ch.clen").as("clen"))
  }

  def chunkCdc(s: SparkSession, dir: String): DataFrame = {
    val ch = Tables.hot(cdcChunks(docs(s, dir)))
    val cnt = ch.select(md5(col("ctext")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
    ch.withColumn("h", md5(col("ctext")))
      .join(cnt.hint("shuffle_hash"), "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("n_tokens"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("source"), col("n_chunks"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_chunks"), 6)
          .as("avg_len"),
        col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6)
          .as("dup_frac"))
      .orderBy("source")
  }

  val chunkCdcSql: String = """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    ex AS (
      SELECT doc_id, source,
             unnest(generate_series(1, len(t))) AS pos,
             unnest(t) AS w
      FROM toks),
    lagd AS (
      SELECT doc_id, source, pos, w,
             LAG(w, 1) OVER wn AS t1, LAG(w, 2) OVER wn AS t2
      FROM ex WINDOW wn AS (PARTITION BY doc_id ORDER BY pos)),
    fl AS (
      SELECT doc_id, source, pos, w,
        CASE WHEN t2 IS NOT NULL AND
          CAST(('0x' || substr(md5(t2 || ' ' || t1 || ' ' || w), 1, 15))
            ::UBIGINT AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS b
      FROM lagd),
    cids AS (
      SELECT doc_id, source, pos, w,
        COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      FROM fl),
    ch AS (
      SELECT doc_id, source, cid,
             string_agg(w, ' ' ORDER BY pos) AS ctext, COUNT(*) AS clen
      FROM cids GROUP BY 1, 2, 3),
    cnt AS (SELECT md5(ctext) AS h, COUNT(*) AS c FROM ch GROUP BY 1)
    SELECT source, COUNT(*) AS n_chunks,
           CAST(SUM(clen) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(clen) AS DOUBLE) / COUNT(*), 6) AS avg_len,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           ROUND(CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac
    FROM ch JOIN cnt ON cnt.h = md5(ch.ctext)
    GROUP BY source ORDER BY source"""

  // ---- temperature sampling -------------------------------------------
  /** Temperature-based mixture rebalancing at α = 1/2 (the mBERT/XLM-R
    * exponentiated-sampling rule, at the one temperature whose math is
    * IEEE-exact cross-engine: rate_i = min(1, √(n_min/n_i)) needs only
    * sqrt, never pow/log): the smallest source keeps everything, a 4×
    * larger source keeps half its docs and still ends up 2× the
    * smallest — the soft compromise between corpus_mix's hard
    * min-count equalization and no rebalancing at all. The keep
    * decision is a pure function of the row: md5-60-bit uniform vs an
    * INTEGER threshold floor(rate·2⁶⁰), so the float boundary cannot
    * flip between engines and the sample is rerunnable on any cluster
    * size (sample_stratified contract). One 5-row aggregate broadcast
    * back, single scan.
    */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"))
    val counts = d.groupBy("source").agg(count(lit(1)).as("n"))
    val ref = counts.agg(min(col("n")).as("n_ref"))
    val rates = counts.crossJoin(broadcast(ref))
      .select(col("source"), col("n"),
        round(least(lit(1.0), sqrt(col("n_ref").cast("double") / col("n"))), 9)
          .as("rate"))
      .withColumn("thr",
        floor(col("rate") * lit(1152921504606846976L).cast("double"))
          .cast("long"))
    d.join(broadcast(rates), "source")
      .withColumn("h", expr("""CAST(conv(substring(md5(concat('temp:',
        CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"""))
      .groupBy("source", "n", "rate")
      .agg(sum(when(col("h") < col("thr"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n").as("n_docs"), col("rate"),
        col("n_kept"),
        round(col("n_kept").cast("double") / col("n"), 6).as("achieved"))
      .orderBy("source")
  }

  val sampleTemperatureSql: String = """
    WITH d AS (SELECT doc_id, source FROM documents),
    c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
    r AS (SELECT MIN(n) AS n_ref FROM c),
    rates AS (
      SELECT source, n,
             ROUND(LEAST(1.0, sqrt(CAST(n_ref AS DOUBLE) / n)), 9) AS rate
      FROM c, r),
    t AS (
      SELECT source, n, rate,
             CAST(floor(rate * CAST(1152921504606846976 AS DOUBLE))
               AS BIGINT) AS thr
      FROM rates),
    j AS (
      SELECT d.source, t.n, t.rate, t.thr,
        CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 15))
          ::UBIGINT AS BIGINT) AS h
      FROM d JOIN t USING (source))
    SELECT source, n AS n_docs, rate,
           CAST(SUM(CASE WHEN h < thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           ROUND(CAST(SUM(CASE WHEN h < thr THEN 1 ELSE 0 END) AS DOUBLE)
                 / n, 6) AS achieved
    FROM j GROUP BY 1, 2, 3, thr ORDER BY 1"""

  /** Zipf-law audit per source — the corpus-naturalness datasheet row:
    * OLS slope and R² of ln(freq) on ln(rank) over the top-1000 terms
    * (natural text runs slope ≈ −1; machine-generated or boilerplated
    * sources drift flat or cliff — a standard screen next to
    * text_entropy/text_repetition). Determinism: ln of INTEGER-derived
    * counts/ranks rounds at 6 dp before any sum (the text_langid_stat
    * recipe), the five OLS sums ride dsum (products of two 6-dp values
    * are exact 12-dp decimals — within the dsum128 digit envelope, and
    * the double product sits ≪ 0.5 ulp-of-1e-12 from it so both
    * engines quantize identically), and the slope/R² formulas divide
    * with fixed parenthesization then round at 6 dp. One token pass,
    * one per-source rank window over ≤1000 rows per source. */
  def corpusZipf(s: SparkSession, dir: String, topR: Int = 1000): DataFrame = {
    val freq = docs(s, dir)
      .select(col("source"), explode(toks).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
    val ranked = freq.withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("freq").desc, col("w"))))
      .filter(col("rk") <= topR)
      .select(col("source"),
        round(log(col("rk").cast("double")), 6).as("x"),
        round(log(col("freq").cast("double")), 6).as("y"))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        graft.QueryDef.dsum(col("x"), 6).as("sx"),
        graft.QueryDef.dsum(col("y"), 6).as("sy"),
        // scale-12 products exceed dsum128's scale cap; the sums are
        // ≤1000 rows per source, so the plain decimal route is free
        graft.QueryDef.dsumDec(col("x") * col("x"), 12).as("sxx"),
        graft.QueryDef.dsumDec(col("y") * col("y"), 12).as("syy"),
        graft.QueryDef.dsumDec(col("x") * col("y"), 12).as("sxy"))
      .select(col("source"), col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
          / (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6)
          .as("slope"),
        round(((col("n_terms") * col("sxy") - col("sx") * col("sy"))
          * (col("n_terms") * col("sxy") - col("sx") * col("sy")))
          / ((col("n_terms") * col("sxx") - col("sx") * col("sx"))
            * (col("n_terms") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
      .orderBy("source")
  }

  val corpusZipfSql: String = """
    WITH freq AS (
      SELECT source, w, COUNT(*) AS freq
      FROM (SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY source, w),
    ranked AS (
      SELECT source,
        ROUND(ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY freq DESC, w) AS DOUBLE)), 6) AS x,
        ROUND(ln(CAST(freq AS DOUBLE)), 6) AS y
      FROM freq
      QUALIFY ROW_NUMBER() OVER (PARTITION BY source
        ORDER BY freq DESC, w) <= 1000),
    m AS (
      SELECT source, COUNT(*) AS n_terms,
        CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x * x AS DECIMAL(18,12))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y * y AS DECIMAL(18,12))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(x * y AS DECIMAL(18,12))) AS DOUBLE) AS sxy
      FROM ranked GROUP BY source)
    SELECT source, n_terms,
      ROUND((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
        AS slope,
      ROUND(((n_terms * sxy - sx * sy) * (n_terms * sxy - sx * sy))
        / ((n_terms * sxx - sx * sx) * (n_terms * syy - sy * sy)), 6)
        AS r2
    FROM m ORDER BY source"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("corpus_zipf", (s, d) => corpusZipf(s, d), Some(corpusZipfSql)),
    QueryDef("chunk_cdc", chunkCdc, Some(chunkCdcSql)),
    QueryDef("sample_temperature", sampleTemperature, Some(sampleTemperatureSql)),
    QueryDef("corpus_epochs", corpusEpochs, Some(corpusEpochsSql)),
    QueryDef("pack_curriculum", (s, d) => packCurriculum(s, d),
      Some(packCurriculumSql)),
    QueryDef("pack_mixture", (s, d) => packMixture(s, d),
      Some(packMixtureSql)),
    QueryDef("sample_importance", sampleImportance, Some(sampleImportanceSql)),
    QueryDef("sample_dsir", (s, d) => sampleDsir(s, d), Some(sampleDsirSql)),
    QueryDef("dedup_paragraphs", dedupParagraphs, Some(dedupParagraphsSql)),
    QueryDef("dedup_substrings", dedupSubstrings, Some(dedupSubstringsSql)),
    QueryDef("corpus_datasheet", corpusDatasheet, Some(corpusDatasheetSql)),
    QueryDef("corpus_pipeline_full", pipelineFull, Some(pipelineFullSql)),
    QueryDef("corpus_pipeline_v2", pipelineV2, Some(pipelineV2Sql)),
    QueryDef("corpus_pipeline_v3", pipelineV3, Some(pipelineV3Sql)),
    QueryDef("corpus_pipeline_v4", pipelineV4, Some(pipelineV4Sql)),
    QueryDef("pack_shards", (s, d) => packShards(s, d), Some(packShardsSql)),
    QueryDef("pack_sequences", (s, d) => packSequences(s, d),
      Some(packSequencesSql)),
    QueryDef("sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    QueryDef("sample_reservoir", (s, d) => sampleReservoir(s, d),
      Some(sampleReservoirSql)),
    QueryDef("text_hash_split", textHashSplit, Some(textHashSplitSql)),
    QueryDef("dedup_lines", dedupLines, Some(dedupLinesSql)),
    QueryDef("text_heavy_hitters", (s, d) => textHeavyHitters(s, d),
      Some(textHeavyHittersSql)),
    QueryDef("corpus_quality_filter", corpusQualityFilter,
      Some(corpusQualityFilterSql)),
    QueryDef("text_scrub", textScrub, Some(textScrubSql)),
    QueryDef("text_entropy", textEntropy, Some(textEntropySql)),
    QueryDef("chunk_windows", (s, d) => chunkWindows(s, d), Some(chunkWindowsSql)),
    QueryDef("chunk_sentences", (s, d) => chunkSentences(s, d), Some(chunkSentencesSql)),
    QueryDef("corpus_mix", corpusMix, Some(corpusMixSql)),
    QueryDef("text_tfidf", (s, d) => textTfidf(s, d), Some(textTfidfSql)),
    QueryDef("text_decontam", (s, d) => textDecontam(s, d), Some(textDecontamSql)),
    QueryDef("text_decontam_span", (s, d) => textDecontamSpan(s, d),
      Some(textDecontamSpanSql)),
    QueryDef("text_repetition", textRepetition, Some(textRepetitionSql)),
    QueryDef("corpus_pipeline", pipelineE2e, Some(pipelineE2eSql)))
}
