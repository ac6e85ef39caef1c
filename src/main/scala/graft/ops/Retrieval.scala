package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Vec

/** Retrieval scoring and curation gates over the documents/embeddings
  * pair: BM25 ranking, reciprocal-rank fusion of lexical and dense
  * lists, the Gopher rule report, and a CLIP-score-shaped text↔vector
  * alignment gate. Reference anchor: the reference pipeline curates
  * training corpora (duckpipe's dedup/filter checklist rows); these are
  * the retrieval-side operators a modern data pipeline adds on top
  * (Robertson & Zaragoza 2009 BM25; Cormack et al. 2009 RRF; Rae et
  * al. 2021 Gopher §A1.1; Schuhmann et al. 2021 LAION CLIP-filtering).
  */
object Retrieval {

  // session-frozen tokenized corpus (Text.docToks) - the pinned base
  // table every text query reads instead of re-scanning + re-splitting
  private def docs(s: SparkSession, dir: String) = Text.docToks(s, dir)

  // docToks' pinned token array and count: every frame below that
  // reads them is docs(s, dir), so nothing re-splits `text`
  private val toks = col("toks")
  private val nTok = col("n_tok")

  /** The fixed lexical query for the registered retrieval queries —
    * mixed-df terms so idf actually spreads. */
  private val QTerms = Seq("spark", "join", "window", "vector")

  /** BM25 parameters (Robertson/Okapi, Lucene +1 idf form) — the ONLY
    * place the values live. bm25Ts6 and bm25ScoresSql both derive their
    * literals from these; k1+1 = 2.2 and 1−b = 0.25 are exact in IEEE
    * double, so the derived text matches the historical pinned
    * literals bit-for-bit. */
  private val K1 = 1.2
  private val B = 0.75

  /** Per-(doc, term) BM25 partial scores for `QTerms`, quantized at
    * 6 dp so the per-doc sum is order-free (dsum) and the ln(idf)
    * rounds before use (the text_langid_stat recipe — both engines
    * compare the same rounded value).
    *
    * Scale shape: term frequencies ride ONE map-side-combined hash
    * aggregate over the FILTERED token stream (only query-term hits
    * ever shuffle — at 100 TB that is |matches| rows, not the corpus);
    * document frequencies and the corpus length stats are tiny
    * broadcasts. Top-k lands in TakeOrderedAndProject — no global
    * sort. */
  /** The frozen per-term index artifact (w, idf6, avgdl) — built once
    * from the corpus; the streaming scorer broadcasts it as the static
    * side (the production pattern: stats frozen from yesterday's
    * corpus, today's crawl scored against them). */
  private[graft] def bm25Stats(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frozen(s, ("retrieval.bm25Stats", dir)) {
      val d = docs(s, dir).select(col("doc_id"), nTok.as("dl"))
      val hits = docs(s, dir)
        .select(col("doc_id"), nTok.as("dl"), explode(toks).as("w"))
        .filter(col("w").isin(QTerms: _*))
        .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
      val stats = broadcast(d.agg(count(lit(1)).as("n"),
        sum(col("dl")).as("sl")))
      graft.Artifacts.pin(
        hits.groupBy("w").agg(count(lit(1)).as("df")).crossJoin(stats)
          .select(col("w"),
            round(log((col("n") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5)) + lit(1.0)), 6).as("idf6"),
            (col("sl").cast("double") / col("n")).as("avgdl")))
    }

  /** The BM25 per-(doc, term) partial score expression — ONE
    * definition shared by the batch scorer and the streaming twin. */
  private[graft] def bm25Ts6: org.apache.spark.sql.Column =
    round(col("idf6") * (col("tf") * lit(K1 + 1) /
      (col("tf") + lit(K1) * (lit(1 - B) +
        lit(B) * col("dl") / col("avgdl")))), 6)

  private[graft] def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val hits = docs(s, dir)
      .select(col("doc_id"), nTok.as("dl"), explode(toks).as("w"))
      .filter(col("w").isin(QTerms: _*))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    hits.join(broadcast(bm25Stats(s, dir)), "w")
      .select(col("doc_id"), bm25Ts6.as("ts6"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), QueryDef.dsum(col("ts6"), 6).as("score"))
  }

  private def bm25ScoresSql(alias: String): String = s"""
    $alias AS (
      WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
                 FROM documents),
      stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) AS sld
                FROM d),
      hits AS (
        SELECT doc_id, dl, w, COUNT(*) AS tf
        FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                     unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w IN ('spark', 'join', 'window', 'vector')
        GROUP BY doc_id, dl, w),
      dft AS (SELECT w, COUNT(*) AS df FROM hits GROUP BY w),
      ts AS (
        SELECT doc_id,
          ROUND(ROUND(ln((n - df + 0.5) / (df + 0.5) + 1.0), 6)
            * (tf * ${K1 + 1} / (tf + $K1 * (${1 - B} + $B * dl / (sld / n)))), 6)
            AS ts6
        FROM hits JOIN dft USING (w), stats)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
             CAST(SUM(CAST(ts6 AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM ts GROUP BY doc_id)"""

  /** BM25 top-k retrieval (Robertson/Okapi, k1=1.2 b=0.75, the Lucene
    * +1 idf form) for the fixed query over the corpus. */
  def textBm25(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  val textBm25Sql: String = s"""
    WITH ${bm25ScoresSql("sc").trim}
    SELECT doc_id, n_hit, score FROM sc
    ORDER BY score DESC, doc_id LIMIT 20"""

  /** Reciprocal-rank fusion (Cormack et al. 2009, k=60) of the BM25
    * lexical list and the dense cosine list against the probe
    * embedding (vec_id 0) — the standard hybrid-retrieval combiner.
    * Each list contributes 1/(60+rank) for its top-`depth`; the two
    * contributions add in WRITTEN order (no aggregation — float sums
    * of two coalesced terms are deterministic), and the fused ordering
    * ties on doc_id.
    *
    * Scale shape: both lists are top-`depth` via
    * TakeOrderedAndProject before any window — the single-partition
    * row_number only ever sees `depth` rows; the fuse join is
    * depth×depth at most. */
  def rankFusion(s: SparkSession, dir: String, k: Int = 20,
                 depth: Int = 100): DataFrame = {
    val bm = bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(depth)
      .withColumn("bm25_rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("bm25_rank"))
    val e = Tables.fanout(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("v"))
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("v").as("qv")))
    val cosList = e.crossJoin(probe)
      .select(col("vec_id"), Vec.cosine(col("qv"), col("v")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(depth)
      .withColumn("cos_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("cos_rank"))
    // rrf6 quantizes by floor(x·1e6 + 0.5) — pure IEEE mult/add/floor,
    // identical in both engines — NEVER round(): 1/(60+a)+1/(60+b) can
    // land exactly on a .xxxxxx5 boundary for reachable rank pairs
    // (13/640 at ranks 20+68), where Spark's shortest-repr half-up and
    // DuckDB's binary-value rounding diverge (the CLAUDE.md ROUND rule)
    bm.join(cosList, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        (floor((
          coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0)))
          * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("rrf6"))
      .orderBy(col("rrf6").desc, col("doc_id"))
      .limit(k)
  }

  val rankFusionSql: String = s"""
    WITH ${bm25ScoresSql("sc").trim},
    bm AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
      FROM sc QUALIFY bm25_rank <= 100),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    probe AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cosl AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS cos_rank
      FROM (SELECT vec_id,
              list_dot_product(qv, v) /
                (sqrt(list_dot_product(qv, qv))
                 * sqrt(list_dot_product(v, v))) AS cos
            FROM e, probe)
      QUALIFY cos_rank <= 100)
    SELECT COALESCE(bm.doc_id, cosl.doc_id) AS doc_id,
           bm25_rank, cos_rank,
           floor((COALESCE(CAST(1.0 AS DOUBLE) / (60 + bm25_rank), 0.0)
                  + COALESCE(CAST(1.0 AS DOUBLE) / (60 + cos_rank), 0.0))
                 * 1e6 + 0.5) / 1e6
             AS rrf6
    FROM bm FULL OUTER JOIN cosl ON bm.doc_id = cosl.doc_id
    ORDER BY rrf6 DESC, doc_id LIMIT 20"""

  /** Gopher quality-rule report (Rae et al. 2021 §A1.1, adapted to
    * whitespace tokens): per-source counts of documents violating each
    * rule, and the count violating none. Every rule compares in
    * INTEGER arithmetic (means/ratios cross-multiplied — a double
    * quotient could land on an engine-ambiguous rounding boundary):
    *  - nwords: token count outside [50, 100000]
    *  - meanlen: mean word length outside [3, 10] chars
    *    (word chars = len(text) − (n−1) separators)
    *  - stop: fewer than 2 distinct stop words present
    *  - alpha: fewer than 80% of words contain a letter
    *  - sym: more than 10% of words are symbol marks (#, ...)
    * One corpus pass, one map-side-combined aggregate on source. */
  /** The five Gopher VIOLATION predicates over a `text` column and its
    * token array `t` — ONE definition shared by the registered report
    * and the fluent CorpusPipeline.gopherFilter step, so the two cannot
    * drift. */
  private[graft] def gopherRules(t: org.apache.spark.sql.Column)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    val dl = size(t)
    val wc = length(col("text")) - (size(t) - 1)
    val stops = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
    Seq(
      "v_nwords" -> (dl < 50 || dl > 100000),
      "v_meanlen" -> (wc < lit(3) * dl || wc > lit(10) * dl),
      "v_stop" -> (size(array_intersect(array_distinct(t), stops)) < 2),
      "v_alpha" ->
        (lit(5) * size(filter(t, x => x.rlike("[A-Za-z]"))) < lit(4) * dl),
      "v_sym" ->
        (lit(10) * size(filter(t, x => x === "#" || x === "...")) > dl))
  }

  def textGopher(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(
      col("source") +: gopherRules(toks).map { case (n, c) => c.as(n) }: _*)
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(c)
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), cnt("v_nwords"), cnt("v_meanlen"),
        cnt("v_stop"), cnt("v_alpha"), cnt("v_sym"),
        sum(when(!col("v_nwords") && !col("v_meanlen") && !col("v_stop") &&
          !col("v_alpha") && !col("v_sym"), 1L).otherwise(0L)).as("n_keep"))
      .orderBy("source")
  }

  val textGopherSql: String = """
    WITH d AS (
      SELECT source,
        len(string_split(text, ' ')) AS dl,
        len(text) - (len(string_split(text, ' ')) - 1) AS wc,
        len(list_intersect(list_distinct(string_split(text, ' ')),
          ['the', 'a', 'of', 'and', 'to', 'in'])) AS nstop,
        len(list_filter(string_split(text, ' '),
          x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
        len(list_filter(string_split(text, ' '),
          x -> x = '#' OR x = '...')) AS nsym
      FROM documents),
    v AS (
      SELECT source,
        (dl < 50 OR dl > 100000) AS v_nwords,
        (wc < 3 * dl OR wc > 10 * dl) AS v_meanlen,
        (nstop < 2) AS v_stop,
        (5 * nalpha < 4 * dl) AS v_alpha,
        (10 * nsym > dl) AS v_sym
      FROM d)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN v_nwords THEN 1 ELSE 0 END) AS BIGINT) AS v_nwords,
      CAST(SUM(CASE WHEN v_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS v_meanlen,
      CAST(SUM(CASE WHEN v_stop THEN 1 ELSE 0 END) AS BIGINT) AS v_stop,
      CAST(SUM(CASE WHEN v_alpha THEN 1 ELSE 0 END) AS BIGINT) AS v_alpha,
      CAST(SUM(CASE WHEN v_sym THEN 1 ELSE 0 END) AS BIGINT) AS v_sym,
      CAST(SUM(CASE WHEN NOT v_nwords AND NOT v_meanlen AND NOT v_stop
               AND NOT v_alpha AND NOT v_sym THEN 1 ELSE 0 END) AS BIGINT)
        AS n_keep
    FROM v GROUP BY source ORDER BY source"""

  /** CLIP-score-shaped alignment gate for paired (text, embedding)
    * rows — the LAION-class multimodal curation step: a deterministic
    * hashed-bag-of-words text vector (md5 bucket per token, 64 dims —
    * the modality encoder is environment-free and oracle-replayable;
    * swap in a real text tower at deployment) scores cosine against
    * the paired embedding, and pairs clear the gate at cos > 0 on the
    * 6-dp-rounded score. Per-source report: pairs, kept, exact sum of
    * rounded scores.
    *
    * Determinism + scale: the dot product Σ cnt_b · e[b] rides qsum128
    * at scale 6 (continuous products, order-free, 128-bit); ‖c‖² is an
    * exact integer sum; ‖e‖² is the per-row native vec_dot. Token →
    * bucket counts are ONE map-side-combined aggregate (≤64 rows per
    * doc ever shuffle), the pair join is a plain equi-join on id. */
  def mmAlign(s: SparkSession, dir: String): DataFrame = {
    val buckets = 64
    val cnts = docs(s, dir)
      .select(col("doc_id"), col("source"), explode(toks).as("w"))
      .withColumn("b", expr(s"""CAST(conv(substring(md5(concat('clip:',
        w)), 1, 8), 16, 10) AS BIGINT) % $buckets"""))
      .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("cnt"))
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("v"))
    val scored = cnts.join(e, cnts("doc_id") === e("vec_id"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        graft.QueryDef.qsum(
          col("cnt") * element_at(col("v"), (col("b") + 1).cast("int")), 6)
          .as("sq"),
        sum(col("cnt") * col("cnt")).as("c2"),
        first(call_function("vec_dot", col("v"), col("v"))).as("e2"))
      .select(col("source"),
        round(col("sq") / (sqrt(col("c2").cast("double")) *
          sqrt(col("e2"))), 6).as("cos6"))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cos6") > 0.0, 1L).otherwise(0L)).as("n_keep"),
        QueryDef.dsum(col("cos6"), 6).as("sum_cos"))
      .orderBy("source")
  }

  val mmAlignSql: String = """
    WITH cnts AS (
      SELECT doc_id, source, b, COUNT(*) AS cnt
      FROM (SELECT doc_id, source,
              CAST(('0x' || substring(md5('clip:' || w), 1, 8)) AS UBIGINT)
                % 64 AS b
            FROM (SELECT doc_id, source,
                    unnest(string_split(text, ' ')) AS w
                  FROM documents))
      GROUP BY doc_id, source, b),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    perdoc AS (
      SELECT doc_id, source,
        CAST(SUM(CAST(floor(cnt * v[CAST(b + 1 AS INT)] * 1e6 + 0.5)
          AS HUGEINT)) AS DOUBLE) / 1e6 AS sq,
        SUM(cnt * cnt) AS c2,
        MIN(list_dot_product(v, v)) AS e2
      FROM cnts JOIN e ON doc_id = vec_id
      GROUP BY doc_id, source),
    sc AS (
      SELECT source,
        ROUND(sq / (sqrt(CAST(c2 AS DOUBLE)) * sqrt(e2)), 6) AS cos6
      FROM perdoc)
    SELECT source, COUNT(*) AS n_pairs,
      CAST(SUM(CASE WHEN cos6 > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      CAST(SUM(CAST(cos6 AS DECIMAL(18,6))) AS DOUBLE) AS sum_cos
    FROM sc GROUP BY source ORDER BY source"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("text_bm25", (s, d) => textBm25(s, d), Some(textBm25Sql)),
    QueryDef("rank_fusion", (s, d) => rankFusion(s, d), Some(rankFusionSql)),
    QueryDef("text_gopher", textGopher, Some(textGopherSql)),
    QueryDef("mm_align", mmAlign, Some(mmAlignSql)))
}
