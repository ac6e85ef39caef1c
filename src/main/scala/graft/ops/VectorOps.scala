package graft.ops

import graft.{QueryDef, Tables}
import graft.functions.Vec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY.md §2).
  *
  * `ann_cosine` — brute-force cosine top-k: the correctness baseline.
  * Query set broadcast against the corpus; per-query top-k via
  * row_number. One scan of the corpus per batch of queries — at 100 TB
  * this is the "small query batch × huge corpus" shape, which is a
  * single broadcast-join pass (no corpus shuffle at all).
  *
  * `ann_lsh` — the scale path: random-hyperplane LSH buckets corpus
  * and queries (16 sign bits); candidates share a bucket; exact cosine
  * + top-k within candidates only. Hyperplanes are a deterministic ±1
  * closed form so the oracle derives identical buckets.
  */
object VectorOps {

  private val K = 10
  private val QueryFilter = "vec_id % 100 = 0"

  private def emb(s: SparkSession, dir: String): DataFrame = {
    Tables.fanout(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("v"))
  }

  /** Exact-baseline guardrail (mirrors dedup_ngram's): brute-force
    * top-k broadcasts the query set and scans corpus × queries pairs —
    * right for certifying the LSH/IVF variants at test scale, a
    * disaster shape at 100 TB. Refuse loudly past the cap. */
  val AllPairsMaxVecs = 500000L

  private[ops] def guardAllPairs(name: String, e: DataFrame,
                                 scalePath: String,
                                 cap: Long = AllPairsMaxVecs): Unit = {
    val n = e.count()
    require(n <= cap,
      s"$name is the small-scale exact baseline ($n vectors > cap " +
        s"$cap); use $scalePath — same contract, " +
        "candidate-pruned instead of all-pairs")
  }

  def annCosine(s: SparkSession, dir: String): DataFrame =
    annCosineGuarded(s, dir, AllPairsMaxVecs)

  def annCosineGuarded(s: SparkSession, dir: String, cap: Long): DataFrame = {
    val e = emb(s, dir)
    guardAllPairs("ann_cosine", e, "ann_lsh or ann_ivf", cap)
    val q = e.filter(expr(QueryFilter))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        Vec.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("score"),
        col("rn"))
      .orderBy("qid", "rn")
  }

  val annCosineSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE $QueryFilter),
    pairs AS (
      SELECT q.qid, e.vec_id AS cid,
        list_dot_product(q.qv, e.v) /
          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
      FROM q CROSS JOIN e WHERE e.vec_id != q.qid),
    ranked AS (
      SELECT qid, cid, cos,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM pairs)
    SELECT qid, cid, ROUND(cos, 6) AS score, rn
    FROM ranked WHERE rn <= $K ORDER BY qid, rn"""

  val NPlanes = 16

  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshWith(s, dir, NPlanes)

  /** Plane count tunes the recall/candidate-count trade-off: fewer
    * planes → bigger buckets → higher recall, more exact work. */
  def annLshWith(s: SparkSession, dir: String, nPlanes: Int): DataFrame = {
    val e = emb(s, dir).withColumn("bucket", Vec.lshBucket(col("v"), nPlanes))
    val q = e.filter(expr(QueryFilter))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("bucket").as("qbucket"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    e.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        Vec.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("score"),
        col("rn"))
      .orderBy("qid", "rn")
  }

  val annLshSql: String = s"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (
      SELECT vec_id, v,
        CAST(list_sum(list_transform(generate_series(0, ${NPlanes - 1}), p ->
          CASE WHEN list_sum(list_transform(generate_series(0, len(v) - 1), j ->
              v[j + 1] * (CASE WHEN ((p * 7919 + j * 104729) % 97) % 2 = 0
                               THEN 1.0 ELSE -1.0 END))) >= 0
               THEN CAST(POW(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
      FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM b WHERE $QueryFilter),
    pairs AS (
      SELECT q.qid, b.vec_id AS cid,
        list_dot_product(q.qv, b.v) /
          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM q JOIN b ON b.bucket = q.qbucket AND b.vec_id != q.qid),
    ranked AS (
      SELECT qid, cid, cos,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM pairs)
    SELECT qid, cid, ROUND(cos, 6) AS score, rn
    FROM ranked WHERE rn <= $K ORDER BY qid, rn"""

  // ---- IVF-flat ANN ---------------------------------------------------
  // Coarse quantizer: NCells centroids seeded deterministically
  // (vectors with vec_id < NCells) and refined with KmeansIters
  // distributed Lloyd iterations (kmeansIterate below — the oracle
  // unrolls the same iterations in SQL). Corpus vectors are assigned
  // to their nearest centroid once (argmin over exact L2); queries
  // probe the NProbe nearest cells and run exact cosine top-k inside
  // them. At 100 TB the assignment is a broadcast pass and each query
  // touches NProbe/NCells of the corpus.
  val NCells = 16
  val NProbe = 4
  val KmeansIters = 1
  private val MeanScale = 12 // decimal scale for cross-engine-exact means

  private def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("vec_l2", a, b) // native expr, same accumulation order

  /** Corpus → (vec_id, v, cent_id): Lloyd-refined coarse centroids,
    * broadcast argmin assignment. Shared by ann_ivf (probe search) and
    * dedup_embed_ivf (within-cell pair generation).
    *
    * SESSION-FROZEN ARTIFACT (the bm25Stats frozen-index pattern,
    * Retrieval.scala:44-47): the Lloyd training AND the corpus argmin
    * assignment run ONCE per (session, corpus dir) and both results
    * are checkpointed; every consumer — ann_ivf, ann_pq, ann_ivf_pq,
    * ann_recall, ann_ndcg, corpus_cluster_topics, corpus_semantic_dedup
    * — reuses the artifact, exactly like a production deployment that
    * trains its IVF index nightly and serves every query against it.
    * Before the memo each composite audit re-trained the identical
    * structure per method. */
  private def ivfAssign(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.Artifacts.frozen(s, ("vector.ivfAssign", dir)) {
      val e = emb(s, dir)
      val seed = e.filter(col("vec_id") < NCells)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      // materialize the (tiny) refined centroid table once — it feeds
      // two broadcasts (corpus assignment + query probes), which would
      // otherwise each recompute the whole Lloyd subtree
      val cents = broadcast(graft.Artifacts.pin(kmeansIterate(e, seed, KmeansIters)))
      // argmin as a hash aggregate (min over a (cd, cent_id) struct —
      // lexicographic, so ties break on cent_id exactly like the
      // oracle's ROW_NUMBER ORDER BY cd, cent_id): partial-aggregates
      // map-side instead of sort-shuffling all n×NCells rows
      val assigned = graft.Artifacts.pin(e.join(cents)
        .select(col("vec_id"), col("v"), col("cent_id"),
          l2(col("v"), col("cv")).as("cd"))
        .groupBy("vec_id")
        .agg(min(struct(col("cd"), col("cent_id"))).as("m"),
          first(col("v")).as("v"))
        .select(col("vec_id"), col("v"), col("m.cent_id").as("cent_id")))
      (assigned, cents)
    }

  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (assigned, cents) = ivfAssign(s, dir)
    annIvfFrom(e, assigned, cents)
  }

  /** The frozen IVF artifact + probe width, exposed for the streaming
    * search twin (streaming/StreamDedup.annIvfStream): queries stream
    * against the SAME index every batch consumer serves from. */
  private[graft] def ivfIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = ivfAssign(s, dir)
  private[graft] def ivfNProbe: Int = NProbe

  /** IVF probe search from a PRECOMPUTED assignment — ann_recall audits
    * several index variants over the same coarse structure and must
    * not train it once per method. */
  private[ops] def annIvfFrom(e: DataFrame, assigned: DataFrame,
                              cents: DataFrame): DataFrame = {
    val qProbes = e.filter(expr(QueryFilter)).join(cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cent_id"),
        l2(col("v"), col("cv")).as("cd"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cd"), col("cent_id"))))
      .filter(col("crk") <= NProbe)
      .select("qid", "qv", "cent_id")
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    assigned.join(broadcast(qProbes),
        Seq("cent_id")).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        Vec.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= K)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("score"),
        col("rn"))
      .orderBy("qid", "rn")
  }

  /** The coarse-assignment CTE chain (embeddings → one unrolled Lloyd
    * iteration mirroring kmeansIterate → per-vector argmin cell),
    * shared by the IVF search oracle and corpus_cluster_topics. */
  private val ivfAssignCtes: String = s"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $NCells),
    -- one unrolled Lloyd iteration, mirroring kmeansIterate: argmin
    -- assignment, then decimal-exact per-dimension means
    k_ranked AS (
      SELECT e.vec_id, e.v, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cent_id) AS crk
      FROM e CROSS JOIN cents0 c),
    k_assigned AS (SELECT vec_id, v, cent_id FROM k_ranked WHERE crk = 1),
    k_dims AS (
      SELECT cent_id, t.i AS i,
        CAST(SUM(CAST(v[t.i] AS DECIMAL(18,$MeanScale))) AS DOUBLE) / COUNT(*) AS m
      FROM k_assigned, generate_series(1, 64) t(i)
      GROUP BY cent_id, t.i),
    cents AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM k_dims GROUP BY cent_id),
    assign_ranked AS (
      SELECT e.vec_id, e.v, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cent_id) AS crk
      FROM e CROSS JOIN cents c),
    assigned AS (SELECT vec_id, v, cent_id FROM assign_ranked WHERE crk = 1)"""

  val annIvfSql: String = s"""
    WITH ${ivfAssignCtes.trim},
    qp_ranked AS (
      SELECT e.vec_id AS qid, e.v AS qv, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cent_id) AS crk
      FROM e CROSS JOIN cents c WHERE $QueryFilter),
    qprobes AS (SELECT qid, qv, cent_id FROM qp_ranked WHERE crk <= $NProbe),
    pairs AS (
      SELECT q.qid, a.vec_id AS cid,
        list_dot_product(q.qv, a.v) /
          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
      FROM qprobes q JOIN assigned a ON a.cent_id = q.cent_id
      WHERE a.vec_id != q.qid),
    ranked AS (
      SELECT qid, cid, cos,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM pairs)
    SELECT qid, cid, ROUND(cos, 6) AS score, rn
    FROM ranked WHERE rn <= $K ORDER BY qid, rn"""

  /** FILTERED vector search (ann_filtered) — the production
    * vector-store query shape ann_ivf alone under-serves: top-k among
    * candidates that PASS A METADATA PREDICATE, here "same language
    * as the query's own document" (the tenant/partition filter whose
    * per-query selectivity makes naive post-filtering return short
    * lists). The filter column attaches to the session-frozen IVF
    * assignment ONCE (the "attach metadata at ingest" pass a vector
    * store runs — a co-keyed doc_id = vec_id join), probes carry the
    * query's own filter value, and candidates are filtered BEFORE any
    * cosine evaluates — pre-filtering inside the index probe, never
    * score-then-discard. Same frozen artifact, same probe discipline,
    * same (cos DESC, cid) total order as ann_ivf; the oracle replays
    * the identical filtered-probe algorithm so the gate certifies the
    * distributed implementation exactly. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (assigned, cents) = ivfAssign(s, dir)
    val meta = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    val am = assigned.join(meta, "vec_id")
    val qProbes = e.filter(expr(QueryFilter))
      .join(meta, "vec_id").join(cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("lang").as("qlang"), col("cent_id"),
        l2(col("v"), col("cv")).as("cd"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cd"), col("cent_id"))))
      .filter(col("crk") <= NProbe)
      .select("qid", "qv", "qlang", "cent_id")
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    am.join(broadcast(qProbes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid") && col("lang") === col("qlang"))
      .select(col("qid"), col("vec_id").as("cid"),
        Vec.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= K)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("score"),
        col("rn"))
      .orderBy("qid", "rn")
  }

  val annFilteredSql: String = s"""
    WITH ${ivfAssignCtes.trim},
    meta AS (SELECT doc_id AS vec_id, lang FROM documents),
    qp_ranked AS (
      SELECT e.vec_id AS qid, e.v AS qv, m.lang AS qlang, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cent_id) AS crk
      FROM e JOIN meta m USING (vec_id) CROSS JOIN cents c
      WHERE $QueryFilter),
    qprobes AS (
      SELECT qid, qv, qlang, cent_id FROM qp_ranked WHERE crk <= $NProbe),
    pairs AS (
      SELECT q.qid, a.vec_id AS cid,
        list_dot_product(q.qv, a.v) /
          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
      FROM qprobes q
      JOIN assigned a ON a.cent_id = q.cent_id
      JOIN meta m ON a.vec_id = m.vec_id
      WHERE a.vec_id != q.qid AND m.lang = q.qlang),
    ranked AS (
      SELECT qid, cid, cos,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM pairs)
    SELECT qid, cid, ROUND(cos, 6) AS score, rn
    FROM ranked WHERE rn <= $K ORDER BY qid, rn"""

  // ---- embedding-cosine near-dup (semantic dedup) ---------------------
  // k-NN-graph threshold dedup: per vector, bounded top-k cosine
  // neighbors (map-side collect_list+slice partial aggregation — no
  // window over the pair space), thresholded at DedupCosT. Exact
  // whenever per-vector qualifying degree ≤ DedupK (both endpoints see
  // every qualifying pair, distinct collapses the two sightings; the
  // commutative fold makes both directions bit-identical). At 100 TB
  // the same contract runs over IVF cells (assign both sides, pairs
  // within probed cells) instead of the broadcast query set.
  val DedupCosT = 0.45
  val DedupK = 8

  def dedupEmbed(s: SparkSession, dir: String): DataFrame =
    dedupEmbedGuarded(s, dir, AllPairsMaxVecs)

  def dedupEmbedGuarded(s: SparkSession, dir: String, cap: Long): DataFrame = {
    val e = emb(s, dir)
    guardAllPairs("dedup_embed", e, "dedup_embed_ivf", cap)
    val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
    // Threshold FIRST, then build the bounded graph: neighbors below
    // DedupCosT can never surface (the graph is thresholded at the
    // end), so filtering before the aggregation is semantically
    // identical — and collapses the collect_list+sort input from all
    // n² sightings to only the qualifying ones (the 60+ CPU-s of
    // per-group struct sorting disappears; the n² cosine scan
    // remains, which is this operator's documented exact-baseline
    // cost — dedup_embed_ivf is the scale path).
    val top = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        Vec.cosine(col("qv"), col("v")).as("cos"))
      .filter(col("cos") >= DedupCosT)
      .groupBy("qid")
      // collect k+1: the extra slot is the runtime exactness guard —
      // a (k+1)-th qualifying neighbor means this vector's qualifying
      // degree exceeds DedupK and the bounded graph would silently
      // drop pairs; fail loudly instead.
      .agg(slice(array_sort(collect_list(struct((-col("cos")).as("nc"),
        col("cid")))), 1, DedupK + 1).as("top"))
      .withColumn("top",
        when(size(col("top")) === DedupK + 1,
          raise_error(concat(lit(s"dedup_embed: qualifying degree exceeds k=$DedupK for qid "),
            col("qid").cast("string"),
            lit(" — raise DedupK or use the IVF-cell variant"))))
        .otherwise(slice(col("top"), 1, DedupK)))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.cid").as("cid"), (-col("t.nc")).as("cos"))
    top.select(least(col("qid"), col("cid")).as("da"),
        greatest(col("qid"), col("cid")).as("db"), col("cos"))
      .distinct()
      .select(col("da"), col("db"), round(col("cos"), 6).as("cos"))
      .orderBy("da", "db")
  }

  val dedupEmbedSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS da, b.vec_id AS db,
        list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT da, db, ROUND(cos, 6) AS cos
    FROM pairs WHERE cos >= $DedupCosT ORDER BY da, db"""

  /** IVF-cell semantic dedup — the 100 TB path the bounded-k-NN-graph
    * contract points at: each vector registers in its `DedupProbes`
    * nearest coarse cells, candidate pairs are generated only within a
    * shared cell (salted per-cell self-join — one hot cell cannot pin
    * its m² pairs on one reducer), then exact-cosine verified.
    * Expected work ≈ (DedupProbes²/NCells)·n² instead of n² — ~24%
    * here (2²/16); at production scale the ratio shrinks with NCells
    * (e.g. 4²/4096 ≈ 0.4%) while multi-probing keeps boundary
    * near-dups visible. Approximate by design: pairs whose endpoints
    * share no probed cell are unseen (measured 12/14 at sf0.01 for
    * this corpus's weak cos≥0.45 pairs; true near-dups at cos≥0.9 sit
    * far inside cells). The oracle mirrors the assignment
    * branch-for-branch; the recall floor is pinned by a spec. */
  val DedupProbes = 2

  def dedupEmbedIvf(s: SparkSession, dir: String): DataFrame = {
    val cents = ivfAssign(s, dir)._2
    val e = emb(s, dir)
    // re-rank against the same centroids, keeping DedupProbes cells —
    // bounded top-k as a hash aggregate (sorted-slice of collected
    // (cd, cent_id) structs), not a sort window over n×NCells rows
    val multi = e.join(cents)
      .select(col("vec_id"), col("v"), col("cent_id"),
        l2(col("v"), col("cv")).as("cd"))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(struct(col("cd"), col("cent_id")))),
        1, DedupProbes).as("top"), first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), explode(col("top")).as("t"))
      .select(col("vec_id"), col("v"),
        // norm hoist (the embed_mrl recipe): precompute ||v|| once per
        // (vec, probe) row so each pair verification is ONE dot — the
        // quotient dot/(na·nb) is bit-identical to the oracle's inline
        // dot/(sqrt·sqrt) form
        sqrt(Vec.norm2(col("v"))).as("nrm"),
        col("t.cent_id").as("cent_id"))
    val hotM = Tables.hot(multi)
    // Salted within-cell pairs CARRYING the vectors (same per-group
    // sizing as SkewJoin.saltedSelfPairs): shuffle volume is
    // corpus×probes×(1+avg salt replication) instead of shipping the
    // full pair list through two join-backs — pairs ≫ corpus, so
    // verifying inline is the cheap direction at every scale.
    val sizes = hotM.groupBy("cent_id")
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
      .withColumn("_nsalt", ceil(col("_n") / 256).cast("int"))
      .select("cent_id", "_nsalt")
    val sized = hotM.join(sizes, "cent_id") // drops singleton cells
    val a = sized
      .withColumn("_salt", pmod(xxhash64(col("vec_id")), col("_nsalt")).cast("int"))
      .select(col("cent_id"), col("_salt"),
        col("vec_id").as("da"), col("v").as("va"), col("nrm").as("na"))
    val b = sized
      .withColumn("_salt", explode(sequence(lit(0), col("_nsalt") - 1)))
      .select(col("cent_id"), col("_salt"),
        col("vec_id").as("db"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cent_id", "_salt"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        (Vec.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= DedupCosT)
      .select(col("da"), col("db"), round(col("cos"), 6).as("cos"))
      .distinct() // a pair may share both probed cells — count once
      .orderBy("da", "db")
  }

  val dedupEmbedIvfSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $NCells),
    k_ranked AS (
      SELECT e.vec_id, e.v, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cent_id) AS crk
      FROM e CROSS JOIN cents0 c),
    k_assigned AS (SELECT vec_id, v, cent_id FROM k_ranked WHERE crk = 1),
    k_dims AS (
      SELECT cent_id, t.i AS i,
        CAST(SUM(CAST(v[t.i] AS DECIMAL(18,$MeanScale))) AS DOUBLE) / COUNT(*) AS m
      FROM k_assigned, generate_series(1, 64) t(i)
      GROUP BY cent_id, t.i),
    cents AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM k_dims GROUP BY cent_id),
    assign_ranked AS (
      SELECT e.vec_id, e.v, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          list_sum(list_transform(generate_series(1, len(e.v)),
            i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cent_id) AS crk
      FROM e CROSS JOIN cents c),
    assigned AS (SELECT vec_id, v, cent_id FROM assign_ranked
                 WHERE crk <= $DedupProbes),
    pairs AS (
      SELECT DISTINCT a.vec_id AS da, b.vec_id AS db,
        list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM assigned a JOIN assigned b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
    SELECT da, db, ROUND(cos, 6) AS cos
    FROM pairs WHERE cos >= $DedupCosT ORDER BY da, db"""

  /** Per-vector symmetric int8 quantization — the storage/bandwidth
    * path for a 100 TB embedding store (fp32 → int8 is 4× smaller and
    * SIMD-friendly for downstream distance kernels). scale =
    * max|x|/127; codes = round-half-up(x/scale) — written as
    * floor(x/scale + 0.5) in BOTH engines so no rounding-mode
    * ambiguity can diverge them; all-zero vectors quantize to zero
    * codes with scale 0. Emits per-vector code statistics plus the max
    * dequantization error, so the result doubles as a quantization
    * quality report. Pure map stage: no shuffle, no UDF — array HOFs
    * the optimizer sees through, embarrassingly parallel at any scale.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    emb(s, dir)
      .withColumn("scale",
        expr("aggregate(v, 0D, (a, x) -> greatest(a, abs(x)))") / lit(127.0))
      .withColumn("codes", expr(
        """transform(v, x -> CASE WHEN scale = 0D THEN 0L
          |ELSE CAST(floor(x / scale + 0.5D) AS BIGINT) END)""".stripMargin))
      .select(col("vec_id"), round(col("scale"), 9).as("scale9"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("code_sum"),
        expr("array_min(codes)").as("code_min"),
        expr("array_max(codes)").as("code_max"),
        round(expr(
          """aggregate(zip_with(v, codes, (x, c) -> abs(x - c * scale)),
            |0D, (a, e) -> greatest(a, e))""".stripMargin), 6).as("max_err6"))
      .orderBy("vec_id")
  }

  val embedQuantizeSql: String = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
            list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM e),
    c AS (SELECT vec_id, v, scale,
            list_transform(v, x -> CASE WHEN scale = 0 THEN 0
              ELSE CAST(floor(x / scale + 0.5) AS BIGINT) END) AS codes
          FROM s)
    SELECT vec_id, ROUND(scale, 9) AS scale9,
      CAST(list_sum(codes) AS BIGINT) AS code_sum,
      CAST(list_min(codes) AS BIGINT) AS code_min,
      CAST(list_max(codes) AS BIGINT) AS code_max,
      ROUND(list_max(list_transform(generate_series(1, len(v)),
        i -> abs(v[i] - codes[i] * scale))), 6) AS max_err6
    FROM c ORDER BY vec_id"""

  /** Distributed Lloyd iterations: assign → per-cell per-dimension
    * mean; refines the IVF coarse centroids. Returns (cent_id, cv).
    * Fully shuffle-planned: one broadcast assign pass + one groupBy
    * per iteration. Means are decimal-routed (exact sum at scale
    * `MeanScale`, one double division) so the refined centroids — and
    * everything ranked against them — are bit-identical cross-engine. */
  def kmeansIterate(corpus: DataFrame, centroids: DataFrame,
                    iters: Int, dim: Int = 64): DataFrame = {
    var cents = centroids
    (0 until iters).foreach { _ =>
      // same hash-aggregate argmin as ivfAssign (ties on cent_id)
      val assigned = corpus.join(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cent_id"),
          l2(col("v"), col("cv")).as("cd"))
        .groupBy("vec_id")
        .agg(min(struct(col("cd"), col("cent_id"))).as("m"),
          first(col("v")).as("v"))
        .select(col("vec_id"), col("v"), col("m.cent_id").as("cent_id"))
      cents = assigned.groupBy("cent_id")
        .agg(array((0 until dim).map(i =>
          sum(col("v")(i).cast(org.apache.spark.sql.types.DecimalType(18, MeanScale)))
            .cast("double") / count(lit(1))): _*).as("cv"))
    }
    cents
  }

  // ---- product quantization (PQ) --------------------------------------
  /** PQ codebook build + encode — the vector-store compression behind
    * billion-scale ANN (64-dim fp32 → 4 bytes of codes): the vector
    * splits into SubS subspaces, each learning PqK centroids (seeded
    * from the first PqK vectors' subvectors, one distributed Lloyd
    * refinement with decimal-exact means — the ann_ivf machinery on
    * slices), and each vector encodes as its per-subspace argmin code.
    * Reported reconstruction error = Σ per-subspace residual L2², the
    * number a recall-budget decision is made on.
    *
    * Scale shape: the codebook is SubS×PqK rows (tiny, broadcast); the
    * encode is ONE broadcast join + hash-aggregate argmin (map-side
    * partials, same tie-break as ivfAssign) + a conditional-aggregation
    * pivot — no window over the vector×centroid space, no shuffle of
    * the vectors beyond the argmin aggregation. In production the
    * codebook trains once on a sample; encode is the 100 TB map pass.
    * Determinism: residuals come from the native vec_l2 expression
    * (same accumulation order as the oracle's list_sum) and the error
    * sums its 4 terms in fixed left-to-right order — exact at 6 dp. */
  val SubS = 4
  val SubDim = 16
  val PqK = 16

  /** Grouped Lloyd: the SubS independent per-subspace trainings ride
    * ONE plan per round — subspaces stacked as a column, assignment
    * keyed (vec_id, sub), means keyed (sub, cent_id). Bit-identical to
    * running kmeansIterate per subspace (each subspace's rows never
    * interact: the join is ON sub, the argmin groups BY sub), but the
    * analyzed/optimized/codegen'd tree is 1/SubS the size — the
    * per-subspace union form cost ~4× the single-threaded driver
    * planning time, which dominated ann_ivf_pq's wall (21.7 CPU-s
    * across 32 cores vs ~3 s wall was scheduling+planning, not work). */
  def kmeansIterateBySub(corpus: DataFrame, centroids: DataFrame,
                         iters: Int, dim: Int): DataFrame = {
    var cents = centroids
    (0 until iters).foreach { _ =>
      val assigned = corpus.join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("sv"), col("cent_id"),
          l2(col("sv"), col("cv")).as("cd"))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("cd"), col("cent_id"))).as("m"),
          first(col("sv")).as("sv"))
        .select(col("vec_id"), col("sub"), col("sv"),
          col("m.cent_id").as("cent_id"))
      cents = assigned.groupBy("sub", "cent_id")
        .agg(array((0 until dim).map(i =>
          sum(col("sv")(i).cast(org.apache.spark.sql.types.DecimalType(18, MeanScale)))
            .cast("double") / count(lit(1))): _*).as("cv"))
    }
    cents
  }

  /** Per-subspace codebook: (sub, cent_id, cv). iters=0 yields the raw
    * seed codebook (specs use it to certify the Lloyd refinement). */
  def pqCodebook(e: DataFrame, iters: Int = 1): DataFrame = {
    val subs = pqSubs(e)
    val seed = subs.filter(col("vec_id") < PqK)
      .select(col("sub"), col("vec_id").as("cent_id"), col("sv").as("cv"))
    kmeansIterateBySub(subs, seed, iters, dim = SubDim)
      .select(col("sub"), col("cent_id"), col("cv"))
  }

  /** (vec_id, sub, sv): slice each vector into its subvectors ONCE and
    * explode — downstream joins then carry 16-dim rows instead of
    * copying the full 64-dim vector into every centroid pairing (that
    * naive shape measured ~4× the CPU). */
  private def pqSubs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(array((0 until SubS).map(i =>
        slice(col("v"), i * SubDim + 1, SubDim)): _*)))
      .select(col("vec_id"), col("pos").cast("long").as("sub"),
        col("col").as("sv"))

  /** Long-form code assignment: (vec_id, sub, cd, code) — one broadcast
    * join + hash-aggregate argmin (map-side partials, cent_id ties). */
  def pqAssign(e: DataFrame, cents: DataFrame): DataFrame =
    pqSubs(e).join(cents, Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cent_id"),
        l2(col("sv"), col("cv")).as("cd"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("cd"), col("cent_id"))).as("m"))
      .select(col("vec_id"), col("sub"),
        col("m.cd").as("cd"), col("m.cent_id").as("code"))

  /** Encode a corpus against a codebook: (vec_id, code0..3, recon_err). */
  def pqEncode(e: DataFrame, codebook: DataFrame): DataFrame =
    pqWide(pqAssign(e, broadcast(Tables.hot(codebook))))

  /** Long-form codes → wide (vec_id, code0..3, recon_err). */
  private def pqWide(assigned: DataFrame): DataFrame = {
    def pick(sIdx: Int, c: String) = max(when(col("sub") === sIdx, col(c)))
    assigned.groupBy("vec_id")
      .agg(
        pick(0, "code").as("code0"), pick(1, "code").as("code1"),
        pick(2, "code").as("code2"), pick(3, "code").as("code3"),
        pick(0, "cd").as("e0"), pick(1, "cd").as("e1"),
        pick(2, "cd").as("e2"), pick(3, "cd").as("e3"))
      .select(col("vec_id"),
        col("code0"), col("code1"), col("code2"), col("code3"),
        round(col("e0") + col("e1") + col("e2") + col("e3"), 6)
          .as("recon_err"))
  }

  /** SESSION-FROZEN ARTIFACT (the ivfAssign pattern): the raw-corpus
    * PQ codebook and long-form corpus codes, trained once per
    * (session, corpus dir) and served to embed_pq, ann_pq and the
    * recall/ndcg audits — the PQ index of a production vector store. */
  private def pqFrozen(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    graft.Artifacts.frozen(s, ("vector.pqFrozen", dir)) {
      val e = emb(s, dir)
      val centsH = graft.Artifacts.pin(pqCodebook(e))
      (centsH, graft.Artifacts.pin(pqAssign(e, broadcast(centsH))))
    }

  def embedPq(s: SparkSession, dir: String): DataFrame =
    pqWide(pqFrozen(s, dir)._2).orderBy("vec_id")

  /** Shared oracle CTE chain: subvectors → seed → one Lloyd step →
    * refined cents → per-(vec, sub) argmin codes. Used by embed_pq
    * (pivot to wide codes) and ann_pq (ADC scoring over the codes). */
  private val pqSubL2 =
    "list_sum(list_transform(generate_series(1, 16), i -> (sv[i] - cv[i]) * (sv[i] - cv[i])))"

  private val pqEncSqlCtes: String = {
    val subL2 = pqSubL2
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (
      SELECT vec_id, s.s AS sub,
             list_slice(v, s.s * $SubDim + 1, s.s * $SubDim + $SubDim) AS sv
      FROM e, (SELECT unnest(generate_series(0, ${SubS - 1})) AS s) s(s)),
    seed AS (
      SELECT sub, vec_id AS cent_id, sv AS cv FROM subs WHERE vec_id < $PqK),
    -- one unrolled Lloyd iteration per subspace (mirrors kmeansIterate)
    k_ranked AS (
      SELECT b.vec_id, b.sub, b.sv, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.sub ORDER BY
          ${subL2.replace("sv[i]", "b.sv[i]").replace("cv[i]", "c.cv[i]")},
          c.cent_id) AS crk
      FROM subs b JOIN seed c ON b.sub = c.sub),
    k_assigned AS (SELECT vec_id, sub, sv, cent_id FROM k_ranked WHERE crk = 1),
    k_dims AS (
      SELECT sub, cent_id, t.i AS i,
        CAST(SUM(CAST(sv[t.i] AS DECIMAL(18,$MeanScale))) AS DOUBLE)
          / COUNT(*) AS m
      FROM k_assigned, generate_series(1, $SubDim) t(i)
      GROUP BY sub, cent_id, t.i),
    cents AS (
      SELECT sub, cent_id, list(m ORDER BY i) AS cv
      FROM k_dims GROUP BY sub, cent_id),
    enc_ranked AS (
      SELECT b.vec_id, b.sub, c.cent_id,
        ${subL2.replace("sv[i]", "b.sv[i]").replace("cv[i]", "c.cv[i]")} AS cd,
        ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.sub ORDER BY
          ${subL2.replace("sv[i]", "b.sv[i]").replace("cv[i]", "c.cv[i]")},
          c.cent_id) AS crk
      FROM subs b JOIN cents c ON b.sub = c.sub),
    enc AS (SELECT vec_id, sub, cent_id, cd FROM enc_ranked WHERE crk = 1)"""
  }

  val embedPqSql: String = s"""
    WITH $pqEncSqlCtes,
    piv AS (
      SELECT vec_id,
        MAX(CASE WHEN sub = 0 THEN cent_id END) AS code0,
        MAX(CASE WHEN sub = 1 THEN cent_id END) AS code1,
        MAX(CASE WHEN sub = 2 THEN cent_id END) AS code2,
        MAX(CASE WHEN sub = 3 THEN cent_id END) AS code3,
        MAX(CASE WHEN sub = 0 THEN cd END) AS e0,
        MAX(CASE WHEN sub = 1 THEN cd END) AS e1,
        MAX(CASE WHEN sub = 2 THEN cd END) AS e2,
        MAX(CASE WHEN sub = 3 THEN cd END) AS e3
      FROM enc GROUP BY vec_id)
    SELECT vec_id, code0, code1, code2, code3,
           ROUND(e0 + e1 + e2 + e3, 6) AS recon_err
    FROM piv ORDER BY vec_id"""

  /** ADC (asymmetric distance) search over the PQ codes — how a PQ
    * store is actually queried at scale: each query precomputes its
    * distance TABLE (per-subspace L2² to every codebook centroid,
    * |Q|·SubS·PqK tiny rows, broadcast), and every corpus vector is
    * scored by FOUR table lookups on its codes — the original vectors
    * are never touched again. Approximate by construction (quantized
    * corpus side); the invariant ADC(q, q's own codes) ≡ recon_err(q)
    * is spec-pinned, and the 4-term sum is folded in fixed order so
    * ranking is bit-deterministic cross-engine. Scale shape: codes
    * join the broadcast table map-side, one hash aggregate per
    * (query, vector), top-k windows partitioned by query. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (centsH, codes) = pqFrozen(s, dir)
    val cents = broadcast(centsH)
    val dt = broadcast(pqSubs(e.filter(expr(QueryFilter)))
      .join(cents, Seq("sub"))
      .select(col("vec_id").as("qid"), l2(col("sv"), col("cv")).as("dd"),
        col("sub").as("dsub"), col("cent_id").as("dcent")))
    def pick(i: Int) = max(when(col("dsub") === i, col("dd")))
    val w = Window.partitionBy("qid").orderBy(col("ad"), col("cid"))
    codes.join(dt, col("sub") === col("dsub") && col("code") === col("dcent"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(pick(0).as("d0"), pick(1).as("d1"),
        pick(2).as("d2"), pick(3).as("d3"))
      .select(col("qid"), col("cid"),
        (col("d0") + col("d1") + col("d2") + col("d3")).as("ad"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("qid"), col("cid"), round(col("ad"), 6).as("adist"),
        col("rn"))
      .orderBy("qid", "rn")
  }

  val annPqSql: String = {
    val dtL2 = pqSubL2.replace("sv[i]", "b.sv[i]").replace("cv[i]", "c.cv[i]")
    s"""
    WITH $pqEncSqlCtes,
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE $QueryFilter),
    qsubs AS (
      SELECT qid, s.s AS sub,
             list_slice(qv, s.s * $SubDim + 1, s.s * $SubDim + $SubDim) AS sv
      FROM q, (SELECT unnest(generate_series(0, ${SubS - 1})) AS s) s(s)),
    dt AS (
      SELECT b.qid, b.sub, c.cent_id, $dtL2 AS dd
      FROM qsubs b JOIN cents c ON b.sub = c.sub),
    scored AS (
      SELECT d.qid, enc.vec_id AS cid,
        MAX(CASE WHEN enc.sub = 0 THEN d.dd END) AS d0,
        MAX(CASE WHEN enc.sub = 1 THEN d.dd END) AS d1,
        MAX(CASE WHEN enc.sub = 2 THEN d.dd END) AS d2,
        MAX(CASE WHEN enc.sub = 3 THEN d.dd END) AS d3
      FROM enc JOIN dt d ON d.sub = enc.sub AND d.cent_id = enc.cent_id
      WHERE enc.vec_id != d.qid
      GROUP BY 1, 2),
    ranked AS (
      SELECT qid, cid, d0 + d1 + d2 + d3 AS ad,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY d0 + d1 + d2 + d3, cid) AS rn
      FROM scored)
    SELECT qid, cid, ROUND(ad, 6) AS adist, rn
    FROM ranked WHERE rn <= $K ORDER BY qid, rn"""
  }

  // ---- IVF-PQ: coarse cells + residual product quantization -----------
  /** The full composite vector index (the FAISS IVF-PQ shape): vectors
    * partition into Lloyd-refined coarse cells (ivfAssign), each
    * vector's RESIDUAL against its cell centroid is product-quantized
    * (pqCodebook/pqAssign on residuals — residuals are smaller than
    * raw vectors, so the same 4-byte code budget buys more precision),
    * and queries probe their NProbe nearest cells scoring candidates
    * by ADC lookups against a PER-CELL distance table built from the
    * query's residual in THAT cell. Corpus vectors are touched once at
    * index build; search reads only codes. All distances reuse the
    * native vec_l2 accumulation order and the fixed-order 4-term fold,
    * so the oracle (which unrolls coarse Lloyd, residuals, per-subspace
    * Lloyd, and the ADC scoring in SQL) matches hash-exactly. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (_, cents) = ivfAssign(s, dir)
    annIvfPqSearch(s, dir, e, cents)
  }

  /** SESSION-FROZEN ARTIFACT: the residual PQ layer of the IVF-PQ
    * index — the per-subspace codebook trained on coarse-cell
    * residuals and the (vec_id, sub, code, cell) corpus codes. Derives
    * from the frozen ivfAssign coarse structure; together they are the
    * complete FAISS-shaped index a production deployment builds once. */
  private def ivfPqFrozen(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    graft.Artifacts.frozen(s, ("vector.ivfPqFrozen", dir)) {
      val (assigned, cents) = ivfAssign(s, dir)
      val resid = Tables.hot(assigned.join(cents, Seq("cent_id"))
        .select(col("vec_id"), col("cent_id").as("cell"),
          zip_with(col("v"), col("cv"), (a, b) => a - b).as("v")))
      val cbH = graft.Artifacts.pin(pqCodebook(resid.select("vec_id", "v")))
      (cbH, graft.Artifacts.pin(
        pqAssign(resid.select("vec_id", "v"), broadcast(cbH))
          .join(resid.select("vec_id", "cell"), Seq("vec_id"))))
    }

  /** IVF-PQ search over the frozen coarse + residual index. */
  private[ops] def annIvfPqSearch(s: SparkSession, dir: String,
                                  e: DataFrame, cents: DataFrame)
      : DataFrame = {
    val (cbH, codes) = ivfPqFrozen(s, dir)
    val codebook = broadcast(cbH)
    val qProbes = e.filter(expr(QueryFilter)).join(cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cent_id"),
        l2(col("v"), col("cv")).as("cd"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cd"), col("cent_id"))))
      .filter(col("crk") <= NProbe)
      .select(col("qid"), col("qv"), col("cent_id"))
    val qResid = qProbes.join(cents, Seq("cent_id"))
      .select(col("qid"), col("cent_id").as("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("v"))
    val qSubs = qResid.select(col("qid"), col("cell"),
        posexplode(array((0 until SubS).map(i =>
          slice(col("v"), i * SubDim + 1, SubDim)): _*)))
      .select(col("qid"), col("cell"),
        col("pos").cast("long").as("sub"), col("col").as("sv"))
    val dt = broadcast(qSubs.join(codebook, Seq("sub"))
      .select(col("qid"), col("cell").as("dcell"),
        l2(col("sv"), col("cv")).as("dd"),
        col("sub").as("dsub"), col("cent_id").as("dcent")))
    def pick(i: Int) = max(when(col("dsub") === i, col("dd")))
    val w = Window.partitionBy("qid").orderBy(col("ad"), col("cid"))
    codes.join(dt, col("cell") === col("dcell") &&
        col("sub") === col("dsub") && col("code") === col("dcent"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(pick(0).as("d0"), pick(1).as("d1"),
        pick(2).as("d2"), pick(3).as("d3"))
      .select(col("qid"), col("cid"),
        (col("d0") + col("d1") + col("d2") + col("d3")).as("ad"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("qid"), col("cid"), round(col("ad"), 6).as("adist"),
        col("rn"))
      .orderBy("qid", "rn")
  }

  val annIvfPqSql: String = {
    val vL2 = (a: String, b: String) =>
      s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val svL2 = "list_sum(list_transform(generate_series(1, 16), i -> (b.sv[i] - c.cv[i]) * (b.sv[i] - c.cv[i])))"
    s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $NCells),
    k_ranked AS (
      SELECT e.vec_id, e.v, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          ${vL2("e.v", "c.cv")}, c.cent_id) AS crk
      FROM e CROSS JOIN cents0 c),
    k_assigned AS (SELECT vec_id, v, cent_id FROM k_ranked WHERE crk = 1),
    k_dims AS (
      SELECT cent_id, t.i AS i,
        CAST(SUM(CAST(v[t.i] AS DECIMAL(18,$MeanScale))) AS DOUBLE) / COUNT(*) AS m
      FROM k_assigned, generate_series(1, 64) t(i)
      GROUP BY cent_id, t.i),
    cents AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM k_dims GROUP BY cent_id),
    a_ranked AS (
      SELECT e.vec_id, e.v, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          ${vL2("e.v", "c.cv")}, c.cent_id) AS crk
      FROM e CROSS JOIN cents c),
    assigned AS (SELECT vec_id, v, cent_id FROM a_ranked WHERE crk = 1),
    resid AS (
      SELECT a.vec_id, a.cent_id AS cell,
        list_transform(generate_series(1, 64), i -> a.v[i] - c.cv[i]) AS v
      FROM assigned a JOIN cents c ON a.cent_id = c.cent_id),
    p_subs AS (
      SELECT vec_id, cell, s.s AS sub,
             list_slice(v, s.s * $SubDim + 1, s.s * $SubDim + $SubDim) AS sv
      FROM resid, (SELECT unnest(generate_series(0, ${SubS - 1})) AS s) s(s)),
    p_seed AS (
      SELECT sub, vec_id AS cent_id, sv AS cv FROM p_subs WHERE vec_id < $PqK),
    p_kr AS (
      SELECT b.vec_id, b.sub, b.sv, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.sub ORDER BY
          $svL2, c.cent_id) AS crk
      FROM p_subs b JOIN p_seed c ON b.sub = c.sub),
    p_ka AS (SELECT vec_id, sub, sv, cent_id FROM p_kr WHERE crk = 1),
    p_dims AS (
      SELECT sub, cent_id, t.i AS i,
        CAST(SUM(CAST(sv[t.i] AS DECIMAL(18,$MeanScale))) AS DOUBLE)
          / COUNT(*) AS m
      FROM p_ka, generate_series(1, $SubDim) t(i)
      GROUP BY sub, cent_id, t.i),
    p_cents AS (
      SELECT sub, cent_id, list(m ORDER BY i) AS cv
      FROM p_dims GROUP BY sub, cent_id),
    p_enc_r AS (
      SELECT b.vec_id, b.cell, b.sub, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.sub ORDER BY
          $svL2, c.cent_id) AS crk
      FROM p_subs b JOIN p_cents c ON b.sub = c.sub),
    p_enc AS (SELECT vec_id, cell, sub, cent_id FROM p_enc_r WHERE crk = 1),
    qp_ranked AS (
      SELECT e.vec_id AS qid, e.v AS qv, c.cent_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          ${vL2("e.v", "c.cv")}, c.cent_id) AS crk
      FROM e CROSS JOIN cents c WHERE $QueryFilter),
    qprobes AS (SELECT qid, qv, cent_id FROM qp_ranked WHERE crk <= $NProbe),
    q_resid AS (
      SELECT q.qid, q.cent_id AS cell,
        list_transform(generate_series(1, 64), i -> q.qv[i] - c.cv[i]) AS v
      FROM qprobes q JOIN cents c ON q.cent_id = c.cent_id),
    q_subs AS (
      SELECT qid, cell, s.s AS sub,
             list_slice(v, s.s * $SubDim + 1, s.s * $SubDim + $SubDim) AS sv
      FROM q_resid, (SELECT unnest(generate_series(0, ${SubS - 1})) AS s) s(s)),
    dt AS (
      SELECT b.qid, b.cell, b.sub, c.cent_id, $svL2 AS dd
      FROM q_subs b JOIN p_cents c ON b.sub = c.sub),
    scored AS (
      SELECT d.qid, enc.vec_id AS cid,
        MAX(CASE WHEN enc.sub = 0 THEN d.dd END) AS d0,
        MAX(CASE WHEN enc.sub = 1 THEN d.dd END) AS d1,
        MAX(CASE WHEN enc.sub = 2 THEN d.dd END) AS d2,
        MAX(CASE WHEN enc.sub = 3 THEN d.dd END) AS d3
      FROM p_enc enc JOIN dt d
        ON d.cell = enc.cell AND d.sub = enc.sub AND d.cent_id = enc.cent_id
      WHERE enc.vec_id != d.qid
      GROUP BY 1, 2),
    ranked AS (
      SELECT qid, cid, d0 + d1 + d2 + d3 AS ad,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY d0 + d1 + d2 + d3, cid) AS rn
      FROM scored)
    SELECT qid, cid, ROUND(ad, 6) AS adist, rn
    FROM ranked WHERE rn <= $K ORDER BY qid, rn"""
  }

  // ---- Matryoshka truncation quality -----------------------------------
  /** MRL-style dimensionality audit: how good is nearest-neighbor
    * retrieval when vectors are TRUNCATED to their first k dims (the
    * Matryoshka deployment trick — serve prefix embeddings, pay k/D
    * of the storage and compute)? Per prefix k ∈ {8, 32}: top-1
    * recall vs the full-dim top-1, and the mean FULL-dim cosine of
    * the truncated pick (the true-metric quality of the cheap
    * choice). Exact all-pairs baseline, guarded like ann_cosine —
    * at scale the same audit runs over ann_lsh/ann_ivf candidates.
    * One pair pass; the three argmaxes share one window exchange. */
  def embedMrl(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    guardAllPairs("embed_mrl", e, "the LSH/IVF candidate variants")
    // hoist the prefix slices and norms OUT of the pair loop — each
    // per-pair cosine is then ONE dot + one multiply/divide. The norms
    // are the same IEEE values whether computed per pair or once per
    // row, so every quotient is bit-identical to the oracle's inline
    // dot/(sqrt·sqrt) form.
    def pre(df: DataFrame) = df.select(col("vec_id"), col("v"),
      slice(col("v"), 1, 8).as("v8"), slice(col("v"), 1, 32).as("v32"),
      sqrt(Vec.norm2(col("v"))).as("nf"),
      sqrt(Vec.norm2(slice(col("v"), 1, 8))).as("n8"),
      sqrt(Vec.norm2(slice(col("v"), 1, 32))).as("n32"))
    val q = broadcast(pre(e.filter(expr(QueryFilter))).select(
      col("vec_id").as("qid"), col("v").as("qv"), col("v8").as("qv8"),
      col("v32").as("qv32"), col("nf").as("qnf"), col("n8").as("qn8"),
      col("n32").as("qn32")))
    val pairs = pre(e).join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        (Vec.dot(col("qv"), col("v")) / (col("qnf") * col("nf")))
          .as("cos_full"),
        (Vec.dot(col("qv8"), col("v8")) / (col("qn8") * col("n8")))
          .as("cos_8"),
        (Vec.dot(col("qv32"), col("v32")) / (col("qn32") * col("n32")))
          .as("cos_32"))
    // ONE per-qid aggregate replaces three full window sorts over the
    // pair stream: each criterion's top-1 is a lexicographic max over
    // (cos, −cid, carried cos_full) — ties break to the smaller cid
    // exactly like the oracle's ORDER BY cos DESC, cid — and the
    // partial aggregate shrinks every partition to |queries| rows
    // before the only exchange.
    val nc = (-col("cid")).as("nc")
    val top = pairs.groupBy("qid").agg(
      max(struct(col("cos_full").as("c"), nc)).as("mf"),
      max(struct(col("cos_8").as("c"), nc, col("cos_full").as("cf")))
        .as("m8"),
      max(struct(col("cos_32").as("c"), nc, col("cos_full").as("cf")))
        .as("m32"))
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    def recallOf(k: Int): DataFrame =
      top.select(col(s"m$k.nc").as("nc_k"), col(s"m$k.cf").as("cf_k"),
          col("mf.nc").as("nc_full"))
        .groupBy(lit(k).as("prefix_dims"))
        .agg(
          count(lit(1)).as("n_queries"),
          sum(when(col("nc_k") === col("nc_full"), 1L).otherwise(0L))
            .as("n_top1_match"),
          (sum(col("cf_k").cast(dec)).cast("double") /
            count(lit(1))).as("avg_full_cos_raw"))
        .select(col("prefix_dims"), col("n_queries"), col("n_top1_match"),
          round(col("n_top1_match") / col("n_queries"), 6).as("recall1"),
          round(col("avg_full_cos_raw"), 6).as("avg_full_cos"))
    recallOf(8).unionByName(recallOf(32)).orderBy("prefix_dims")
  }

  val embedMrlSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE $QueryFilter),
    pairs AS (
      SELECT q.qid, e.vec_id AS cid,
        list_dot_product(q.qv, e.v) /
          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos_full,
        list_dot_product(q.qv[1:8], e.v[1:8]) /
          (sqrt(list_dot_product(q.qv[1:8], q.qv[1:8])) * sqrt(list_dot_product(e.v[1:8], e.v[1:8]))) AS cos_8,
        list_dot_product(q.qv[1:32], e.v[1:32]) /
          (sqrt(list_dot_product(q.qv[1:32], q.qv[1:32])) * sqrt(list_dot_product(e.v[1:32], e.v[1:32]))) AS cos_32
      FROM q CROSS JOIN e WHERE e.vec_id != q.qid),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_full DESC, cid) AS rn_full,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_8 DESC, cid) AS rn_8,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_32 DESC, cid) AS rn_32
      FROM pairs),
    fullpick AS (SELECT qid, cid AS cid_full FROM ranked WHERE rn_full = 1),
    r8 AS (
      SELECT 8 AS prefix_dims, COUNT(*) AS n_queries,
        CAST(SUM(CASE WHEN r.cid = f.cid_full THEN 1 ELSE 0 END) AS BIGINT)
          AS n_top1_match,
        ROUND(CAST(SUM(CASE WHEN r.cid = f.cid_full THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*), 6) AS recall1,
        ROUND(CAST(SUM(CAST(r.cos_full AS DECIMAL(28,12))) AS DOUBLE)
          / COUNT(*), 6) AS avg_full_cos
      FROM ranked r JOIN fullpick f ON r.qid = f.qid WHERE r.rn_8 = 1),
    r32 AS (
      SELECT 32 AS prefix_dims, COUNT(*) AS n_queries,
        CAST(SUM(CASE WHEN r.cid = f.cid_full THEN 1 ELSE 0 END) AS BIGINT)
          AS n_top1_match,
        ROUND(CAST(SUM(CASE WHEN r.cid = f.cid_full THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*), 6) AS recall1,
        ROUND(CAST(SUM(CAST(r.cos_full AS DECIMAL(28,12))) AS DOUBLE)
          / COUNT(*), 6) AS avg_full_cos
      FROM ranked r JOIN fullpick f ON r.qid = f.qid WHERE r.rn_32 = 1)
    SELECT * FROM r8 UNION ALL SELECT * FROM r32 ORDER BY prefix_dims"""

  // ---- PCA by power iteration ----------------------------------------

  private val PcaIters = 4
  private val Dim = 64

  /** Top principal component of the embedding cloud by MATRIX-FREE
    * power iteration: 4 rounds of w ← Σᵢ (xᵢ−μ)((xᵢ−μ)·v), each round
    * ONE corpus pass — a broadcast of the 64-double state, a zip_with
    * subtract, one dot product per row, and a map-side-combined
    * per-dimension decimal sum (the covariance matrix is never
    * materialized; at 100 TB that is the only viable shape, and it is
    * also how production randomized-SVD warm starts run). μ is the
    * 6-dp mean from a qsum128 quantized sum, every n-row cross-row sum
    * rides qsum128 (floor(x·1e12+0.5) on a 128-bit accumulator — pure
    * IEEE quantization, identical in both engines, no per-row
    * BigDecimal), every per-row op is the same double arithmetic in
    * both engines — the oracle unrolls all 4 iterations in SQL with
    * the same HUGEINT-quantized sums and matches hash-exactly. Sign is fixed by
    * the largest-|loading| dimension (ties → smallest dim); output is
    * the unit loading vector plus λ/n, the top explained variance.
    */
  /** The shared power-iteration core: embeddings (hot), the hot
    * CENTERED table d = v − μ (computed once — it is round-invariant,
    * and the rounds, the λ half-step, and the residual pass all read
    * it), and the CONVERGED unit loading vector after [[PcaIters]]
    * rounds — reused by embed_pca and embed_abtt.
    *
    * SESSION-FROZEN ARTIFACT (the ivfAssign / bm25Stats pattern): the
    * power iteration trains ONCE per (session, corpus dir); embed_pca
    * and embed_abtt both consume the pinned converged state instead of
    * re-running the 4-round corpus scan each — exactly like a
    * production pipeline that fits its isotropy correction once and
    * applies it everywhere. */
  private def pcaConverged(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    graft.Artifacts.frozen(s, ("vector.pcaConverged", dir))(pcaTrain(s, dir))

  private def pcaTrain(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = graft.Artifacts.pin(emb(s, dir))
    val n = broadcast(e.agg(count(lit(1)).as("n")))
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    // per-dimension 6-dp mean, assembled into ONE array row. Cross-row
    // sums of CONTINUOUS doubles ride qsum128 (floor-quantized 128-bit
    // sum — engine-unambiguous at any magnitude, no BigDecimal per row)
    val mu = e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(graft.QueryDef.qsum(col("x"), 12).as("sx"))
      .crossJoin(n)
      .select(col("dim"), round(col("sx") / col("n"), 6).as("m"))
    val muArr = broadcast(mu.agg(
      transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m")).as("mu")))
    var vArr = broadcast(s.range(1)
      .select(array((0 until Dim).map(_ => lit(0.125)): _*).as("vk")))
    // center ONCE: d = v − μ is round-invariant, and CollapseProject
    // would otherwise duplicate the zip_with subtree into every
    // consumer expression each round (the CLAUDE.md aliasing tax)
    val dTab = graft.Artifacts.pin(e.crossJoin(muArr)
      .select(col("vec_id"),
        zip_with(col("v"), col("mu"), (a, b) => a - b).as("d")))
    for (_ <- 1 to PcaIters) {
      val scored = dTab.crossJoin(vArr)
        .select(col("d"),
          call_function("vec_dot", col("d"), col("vk")).as("sc"))
      val w = scored
        .select(posexplode(col("d")).as(Seq("dim", "dx")), col("sc"))
        .groupBy("dim")
        .agg(graft.QueryDef.qsum(col("dx") * col("sc"), 12).as("w"))
      // 64 rows: the decimal route costs nothing here, and w² grows
      // with n² so the qsum magnitude envelope would not hold at scale
      val nrm = w.agg(
        sqrt(sum((col("w") * col("w")).cast(dec)).cast("double")).as("nrm"))
      vArr = broadcast(Tables.hot(w.crossJoin(broadcast(nrm)).agg(
        transform(array_sort(collect_list(struct(col("dim"),
          (col("w") / col("nrm")).as("u")))), x => x.getField("u"))
          .as("vk"))))
    }
    // re-pin the converged 1-row state: the per-round hots above are
    // training scratch the per-query cleanup may drop; the artifact
    // the consumers serve from must survive it
    (e, dTab, broadcast(graft.Artifacts.pin(vArr)))
  }

  def embedPca(s: SparkSession, dir: String): DataFrame = {
    val (e, dTab, vArr) = pcaConverged(s, dir)
    val n = broadcast(e.agg(count(lit(1)).as("n")))
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    // one extra half-step recovers λ·n = ||Σ d (d·v)|| for the CONVERGED v
    val scored = dTab.crossJoin(vArr)
      .select(col("d"), call_function("vec_dot", col("d"), col("vk")).as("sc"))
    val w = scored
      .select(posexplode(col("d")).as(Seq("dim", "dx")), col("sc"))
      .groupBy("dim")
      .agg(graft.QueryDef.qsum(col("dx") * col("sc"), 12).as("w"))
    val nrm = broadcast(w.agg(
      sqrt(sum((col("w") * col("w")).cast(dec)).cast("double")).as("nrm")))
    val sgn = broadcast(w
      .orderBy(abs(col("w")).desc, col("dim")).limit(1)
      .select(signum(col("w")).as("sg")))
    w.crossJoin(nrm).crossJoin(sgn).crossJoin(n)
      .select(col("dim"),
        round(col("w") / col("nrm") * col("sg"), 6).as("loading"),
        round(col("nrm") / col("n"), 6).as("lam"))
      .orderBy("dim")
  }

  /** All-but-the-top (ABTT) embedding post-process audit: mean-center,
    * project out the top principal component, report per-label total
    * variance, residual variance and the fraction the component
    * carried — the standard isotropy fix before cosine retrieval
    * (common-direction dominance makes raw cosine scores collapse).
    * Reuses the converged [[pcaConverged]] state: ONE extra corpus
    * pass (broadcast 64-double state, two native vec_dot per row, one
    * map-side-combined aggregate). sc² is sign-invariant so no sign
    * fix is needed; all n-row cross-row sums ride qsum128, so the
    * oracle — which unrolls the full 4-round iteration AND the
    * residual pass in SQL — matches hash-exactly.
    */
  def embedAbtt(s: SparkSession, dir: String): DataFrame = {
    val (_, dTab, vArr) = pcaConverged(s, dir)
    val lab = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val scored = dTab.join(lab, "vec_id").crossJoin(vArr)
      .select(col("label"),
        call_function("vec_dot", col("d"), col("d")).as("d2"),
        call_function("vec_dot", col("d"), col("vk")).as("sc"))
    scored.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        graft.QueryDef.qsum(col("d2"), 12).as("sd2"),
        graft.QueryDef.qsum(col("sc") * col("sc"), 12).as("ss2"))
      // ratios of EXACT operands (12-dp quantized sums over integer
      // counts) can land on a .xxxxxx5 boundary — quantize by
      // floor(x·1e6 + 0.5), never round() (the CLAUDE.md ROUND rule)
      .select(col("label"), col("n_vecs"),
        (floor(col("sd2") / col("n_vecs") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("var_total"),
        (floor((col("sd2") - col("ss2")) / col("n_vecs") * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("var_resid"),
        (floor(col("ss2") / col("sd2") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("removed_frac"))
      .orderBy("label")
  }

  val embedAbttSql: String = {
    def iterSql(k: Int): String = s"""
    sc$k AS (
      SELECT list_transform(generate_series(1, $Dim),
               i -> e.v[i] - mu.m[i]) AS d
      FROM e, mu
    ),
    scd$k AS (
      SELECT d, list_dot_product(d, v$k.vk) AS sc FROM sc$k, v$k
    ),
    w$k AS (
      SELECT dim, CAST(SUM(CAST(floor(d[dim] * sc * 1e12 + 0.5)
                              AS HUGEINT)) AS DOUBLE) / 1e12 AS w
      FROM scd$k, generate_series(1, $Dim) AS g(dim)
      GROUP BY dim
    ),
    nrm$k AS (
      SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      FROM w$k
    ),
    v${k + 1} AS (
      SELECT list(w / nrm ORDER BY dim) AS vk FROM w$k, nrm$k GROUP BY nrm
    )"""
    s"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    n AS (SELECT COUNT(*) AS n FROM e),
    mu0 AS (
      SELECT dim, ROUND(CAST(SUM(CAST(floor(v[dim] * 1e12 + 0.5)
                        AS HUGEINT)) AS DOUBLE) / 1e12 / n.n, 6) AS m
      FROM e, n, generate_series(1, $Dim) AS g(dim)
      GROUP BY dim, n.n),
    mu AS (SELECT list(m ORDER BY dim) AS m FROM mu0),
    v1 AS (SELECT list_transform(generate_series(1, $Dim),
                    i -> CAST(0.125 AS DOUBLE)) AS vk),
    ${(1 to PcaIters).map(iterSql).mkString(",")},
    res AS (
      SELECT label, list_dot_product(d, d) AS d2,
             list_dot_product(d, v${PcaIters + 1}.vk) AS sc
      FROM (SELECT label, list_transform(generate_series(1, $Dim),
                     i -> e.v[i] - mu.m[i]) AS d
            FROM e, mu), v${PcaIters + 1}),
    fin AS (
      SELECT label, COUNT(*) AS n_vecs,
        CAST(SUM(CAST(floor(d2 * 1e12 + 0.5) AS HUGEINT)) AS DOUBLE)
          / 1e12 AS sd2,
        CAST(SUM(CAST(floor(sc * sc * 1e12 + 0.5) AS HUGEINT)) AS DOUBLE)
          / 1e12 AS ss2
      FROM res GROUP BY label)
    SELECT label, n_vecs,
      floor(sd2 / n_vecs * 1e6 + 0.5) / 1e6 AS var_total,
      floor((sd2 - ss2) / n_vecs * 1e6 + 0.5) / 1e6 AS var_resid,
      floor(ss2 / sd2 * 1e6 + 0.5) / 1e6 AS removed_frac
    FROM fin ORDER BY label"""
  }

  val embedPcaSql: String = {
    def iterSql(k: Int): String = s"""
    sc$k AS (
      SELECT list_transform(generate_series(1, $Dim),
               i -> e.v[i] - mu.m[i]) AS d
      FROM e, mu
    ),
    scd$k AS (
      SELECT d, list_dot_product(d, v$k.vk) AS sc FROM sc$k, v$k
    ),
    w$k AS (
      SELECT dim, CAST(SUM(CAST(floor(d[dim] * sc * 1e12 + 0.5)
                              AS HUGEINT)) AS DOUBLE) / 1e12 AS w
      FROM scd$k, generate_series(1, $Dim) AS g(dim)
      GROUP BY dim
    ),
    nrm$k AS (
      SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      FROM w$k
    ),
    v${k + 1} AS (
      SELECT list(w / nrm ORDER BY dim) AS vk FROM w$k, nrm$k GROUP BY nrm
    )"""
    s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT COUNT(*) AS n FROM e),
    mu0 AS (
      SELECT dim, ROUND(CAST(SUM(CAST(floor(v[dim] * 1e12 + 0.5)
                        AS HUGEINT)) AS DOUBLE) / 1e12 / n.n, 6) AS m
      FROM e, n, generate_series(1, $Dim) AS g(dim)
      GROUP BY dim, n.n),
    mu AS (SELECT list(m ORDER BY dim) AS m FROM mu0),
    v1 AS (SELECT list_transform(generate_series(1, $Dim),
                    i -> CAST(0.125 AS DOUBLE)) AS vk),
    ${(1 to PcaIters + 1).map(iterSql).mkString(",")},
    sgn AS (
      SELECT CASE WHEN w > 0 THEN 1.0 WHEN w < 0 THEN -1.0 ELSE 0.0 END AS sg
      FROM w${PcaIters + 1} ORDER BY abs(w) DESC, dim LIMIT 1)
    SELECT dim - 1 AS dim,
           ROUND(w / nrm * sg, 6) AS loading,
           ROUND(nrm / n.n, 6) AS lam
    FROM w${PcaIters + 1}, nrm${PcaIters + 1}, sgn, n
    ORDER BY dim"""
  }

  /** NDCG@k audit of the ANN family — the GRADED companion to
    * ann_recall's set-overlap: a method that returns the right
    * neighbors in the wrong order scores full recall but pays here.
    * Relevance of candidate c for query q = 11 − exact_rank (the
    * guarded brute-force top-10 is the ideal), 0 if outside the exact
    * list; DCG@10 = Σ rel / log2(rank+1) over the method's ranked
    * list, each term rounded at 6 dp so the per-query sum is
    * order-free (dsum); NDCG divides by the ideal DCG computed by the
    * SAME sequential fold in both engines (Spark aggregate() HOF ≡
    * DuckDB list_reduce — identical operation order). Audit shape:
    * like ann_recall, runs against the guarded exact baseline — at
    * 100 TB you audit on a query SAMPLE, the method lists themselves
    * stay bucketed. */
  def annNdcg(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (assigned, cents) = ivfAssign(s, dir)
    val exact = Tables.hot(annCosine(s, dir)
      .select(col("qid"), col("cid"), col("rn").as("erank")))
    val idcg = expr("""aggregate(sequence(1, 10), CAST(0 AS DOUBLE),
      (a, i) -> a + round((11 - i) / log2(i + 1), 6))""")
    def one(m: String, df: DataFrame): DataFrame =
      df.select(col("qid"), col("cid"), col("rn"))
        .join(exact, Seq("qid", "cid"), "left")
        .select(col("qid"),
          round((lit(11) - coalesce(col("erank"), lit(11))).cast("double")
            / log2(col("rn") + lit(1)), 6).as("t6"))
        .groupBy("qid").agg(QueryDef.dsum(col("t6"), 6).as("dcg"))
        // dcg and idcg are both EXACT 6-dp sums — their ratio can land
        // on a .xxxxxx5 boundary; floor-quantize, never round()
        .select(lit(m).as("method"), col("qid"), col("dcg"),
          (floor(col("dcg") / idcg * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("ndcg"))
    Seq(one("ivf", annIvfFrom(e, assigned, cents)),
      one("lsh", annLsh(s, dir)), one("pq", annPq(s, dir)))
      .reduce(_ unionByName _)
      .orderBy("method", "qid")
  }

  val annNdcgSql: String = s"""
    WITH ex AS (SELECT qid, cid, rn AS erank FROM ($annCosineSql)),
    m_ivf AS (SELECT qid, cid, rn FROM ($annIvfSql)),
    m_lsh AS (SELECT qid, cid, rn FROM ($annLshSql)),
    m_pq AS (SELECT qid, cid, rn FROM ($annPqSql)),
    allm AS (
      SELECT 'ivf' AS method, * FROM m_ivf
      UNION ALL SELECT 'lsh', * FROM m_lsh
      UNION ALL SELECT 'pq', * FROM m_pq),
    t AS (
      SELECT method, a.qid,
        ROUND((11 - COALESCE(ex.erank, 11)) / log2(a.rn + 1), 6) AS t6
      FROM allm a LEFT JOIN ex ON ex.qid = a.qid AND ex.cid = a.cid),
    per AS (
      SELECT method, qid,
        CAST(SUM(CAST(t6 AS DECIMAL(18,6))) AS DOUBLE) AS dcg
      FROM t GROUP BY method, qid),
    idcg AS (
      SELECT list_reduce(list_transform(generate_series(1, 10),
        i -> round((11 - i) / log2(i + 1), 6)), (a, x) -> a + x) AS v)
    SELECT method, qid, dcg, floor(dcg / idcg.v * 1e6 + 0.5) / 1e6 AS ndcg
    FROM per, idcg ORDER BY method, qid"""

  /** Cluster DATASHEET for the embedding corpus — per IVF cell, the
    * terms most over-represented vs the whole corpus (TF lift =
    * in-cell rate over global rate): the interpretability table a
    * curation pipeline prints next to any clustering (what IS cluster
    * 7?). Composes the trained coarse structure (ivfAssign — the same
    * cells ann_ivf searches and corpus_semantic_dedup prunes) with the
    * paired documents' tokens.
    *
    * Determinism + scale: counts are map-side-combined integer
    * aggregates; lift divides integer-derived doubles with fixed
    * parenthesization ((n_cw/n_c) / (n_w/n_tot) — no integer product
    * that could overflow at corpus scale) and rounds at 6 dp before
    * the (lift DESC, term) ranking; the per-cell window partitions on
    * cent_id (NCells partitions, never global); global term counts are
    * a broadcast. Minimum support n_cw ≥ 5 keeps singleton-term lift
    * spikes out. */
  def corpusClusterTopics(s: SparkSession, dir: String,
                          topK: Int = 3): DataFrame = {
    val (assigned, _) = ivfAssign(s, dir)
    val tok = Tables.fanout(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val cw = tok
      .join(assigned.select(col("vec_id"), col("cent_id")),
        col("doc_id") === col("vec_id"))
      .groupBy("cent_id", "w").agg(count(lit(1)).as("n_cw"))
    val cc = cw.groupBy("cent_id").agg(sum("n_cw").as("n_c"))
    val gw = broadcast(cw.groupBy("w").agg(sum("n_cw").as("n_w")))
    val tot = broadcast(cw.agg(sum("n_cw").as("n_tot")))
    val lift = cw.join(cc, "cent_id").join(gw, "w").crossJoin(tot)
      .filter(col("n_cw") >= 5)
      // lift is a ratio of exact integer-count ratios — a .xxxxxx5
      // boundary is reachable; floor-quantize, never round()
      .select(col("cent_id"), col("w"), col("n_cw"),
        (floor((col("n_cw").cast("double") / col("n_c"))
          / (col("n_w").cast("double") / col("n_tot")) * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("lift"))
    lift.withColumn("rn", row_number().over(
        Window.partitionBy("cent_id").orderBy(col("lift").desc, col("w"))))
      .filter(col("rn") <= topK)
      .select(col("cent_id"), col("rn"), col("w").as("term"),
        col("n_cw"), col("lift"))
      .orderBy("cent_id", "rn")
  }

  val corpusClusterTopicsSql: String = s"""
    WITH ${ivfAssignCtes.trim},
    tok AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
      WHERE w <> ''),
    cw AS (
      SELECT a.cent_id, t.w, COUNT(*) AS n_cw
      FROM tok t JOIN assigned a ON t.doc_id = a.vec_id
      GROUP BY a.cent_id, t.w),
    cc AS (SELECT cent_id, SUM(n_cw) AS n_c FROM cw GROUP BY cent_id),
    gw AS (SELECT w, SUM(n_cw) AS n_w FROM cw GROUP BY w),
    tot AS (SELECT SUM(n_cw) AS n_tot FROM cw),
    lift AS (
      SELECT cent_id, w, n_cw,
        floor((CAST(n_cw AS DOUBLE) / n_c)
          / (CAST(n_w AS DOUBLE) / n_tot) * 1e6 + 0.5) / 1e6 AS lift
      FROM cw JOIN cc USING (cent_id) JOIN gw USING (w), tot
      WHERE n_cw >= 5),
    ranked AS (
      SELECT cent_id, w, n_cw, lift,
        ROW_NUMBER() OVER (PARTITION BY cent_id
                           ORDER BY lift DESC, w) AS rn
      FROM lift)
    SELECT cent_id, rn, w AS term, CAST(n_cw AS BIGINT) AS n_cw, lift
    FROM ranked WHERE rn <= 3 ORDER BY cent_id, rn"""

  /** Hard-negative mining for contrastive training (the DPR/SimCLR
    * data-prep step): per query, the top-k most-similar vectors with a
    * DIFFERENT label — the negatives that actually move a contrastive
    * loss, vs random negatives the model separates for free. Same
    * guarded broadcast-query shape as ann_cosine (the registered
    * small-scale exact baseline; at 100 TB the identical contract runs
    * per IVF cell — assign queries and corpus, mine within probed
    * cells); the wrong-label predicate rides the broadcast join. */
  def sampleHardneg(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables.fanout(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("v"),
        col("label"))
    guardAllPairs("sample_hardneg", e, "an IVF-bucketed variant")
    val q = e.filter(expr(QueryFilter))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("label").as("qlab"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    e.join(broadcast(q), col("label") =!= col("qlab"))
      .select(col("qid"), col("qlab"), col("vec_id").as("cid"),
        col("label").as("clab"), Vec.cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("qlab"), col("cid"), col("clab"),
        round(col("cos"), 6).as("score"), col("rn"))
      .orderBy("qid", "rn")
  }

  val sampleHardnegSql: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, label AS qlab
          FROM e WHERE $QueryFilter),
    pairs AS (
      SELECT q.qid, q.qlab, e.vec_id AS cid, e.label AS clab,
        list_dot_product(q.qv, e.v) /
          (sqrt(list_dot_product(q.qv, q.qv))
           * sqrt(list_dot_product(e.v, e.v))) AS cos
      FROM q CROSS JOIN e WHERE e.label != q.qlab),
    ranked AS (
      SELECT qid, qlab, cid, clab, cos,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM pairs)
    SELECT qid, qlab, cid, clab, ROUND(cos, 6) AS score, rn
    FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("sample_hardneg", (s, d) => sampleHardneg(s, d),
      Some(sampleHardnegSql)),
    QueryDef("ann_ndcg", annNdcg, Some(annNdcgSql)),
    QueryDef("corpus_cluster_topics", (s, d) => corpusClusterTopics(s, d),
      Some(corpusClusterTopicsSql)),
    QueryDef("embed_pca", embedPca, Some(embedPcaSql)),
    QueryDef("embed_abtt", embedAbtt, Some(embedAbttSql)),
    QueryDef("ann_cosine", annCosine, Some(annCosineSql)),
    QueryDef("embed_mrl", embedMrl, Some(embedMrlSql)),
    QueryDef("ann_ivf_pq", annIvfPq, Some(annIvfPqSql)),
    QueryDef("embed_pq", embedPq, Some(embedPqSql)),
    QueryDef("ann_pq", annPq, Some(annPqSql)),
    QueryDef("ann_lsh", annLsh, Some(annLshSql)),
    QueryDef("ann_ivf", annIvf, Some(annIvfSql)),
    QueryDef("ann_filtered", annFiltered, Some(annFilteredSql)),
    QueryDef("dedup_embed", dedupEmbed, Some(dedupEmbedSql)),
    QueryDef("dedup_embed_ivf", dedupEmbedIvf, Some(dedupEmbedIvfSql)),
    QueryDef("embed_quantize", embedQuantize, Some(embedQuantizeSql)),
    QueryDef("ann_recall", annRecall, Some(annRecallSql)),
    QueryDef("sample_kcenter", (s, d) => sampleKcenter(s, d),
      Some(sampleKcenterSql)))

  /** Greedy k-center coreset selection — farthest-first traversal
    * (Gonzalez 1985; the Sener & Savarese active-learning/coreset
    * baseline): seed at the lowest vec_id, then k−1 times pick the
    * point FARTHEST from everything selected so far. The selected set
    * is the k-point cover minimizing (within 2×OPT) the max distance
    * of any corpus point to its nearest selected exemplar — the
    * diversity-first data-selection rule, complementing
    * corpus_semantic_dedup's redundancy-removal.
    *
    * Scale shape: the running state is ONE column — md = squared L2 to
    * the nearest selected center — updated by a broadcast of the single
    * new center per round (a LEAST projection, no join), and each pick
    * is a TakeOrderedAndProject over (quantized md DESC, vec_id): a
    * bounded map-side heap, never a full sort and never a packed-long
    * argmax. k driver rounds of linear passes is the algorithm's
    * inherent shape. Determinism: the argmax orders by
    * floor(md·1e9) — both engines build the identical double (vec_l2 ≡
    * the oracle's list_sum fold), so the floor is bit-safe; ties break
    * on vec_id. radius2 is each pick's md at selection time (the
    * coverage radius the selection guarantees), 0 for the seed. */
  def sampleKcenter(s: SparkSession, dir: String, k: Int = 8): DataFrame =
    kcenterFrom(emb(s, dir), k)

  private[ops] def kcenterFrom(e: DataFrame, k: Int): DataFrame = {
    val seed = Tables.hot(e.orderBy("vec_id").limit(1))
    var st = Tables.hot(
      e.crossJoin(broadcast(seed.select(col("v").as("cv"))))
        .select(col("vec_id"), col("v"), l2(col("v"), col("cv")).as("md")))
    var picks: Seq[DataFrame] = Seq(
      seed.select(lit(1).as("step"), col("vec_id"), lit(0.0).as("radius2")))
    for (i <- 2 to k) {
      val pick = Tables.hot(
        st.withColumn("q", floor(col("md") * 1e9).cast("long"))
          .orderBy(col("q").desc, col("vec_id")).limit(1))
      picks :+= pick.select(lit(i).as("step"), col("vec_id"),
        round(col("md"), 6).as("radius2"))
      if (i < k)
        st = Tables.hot(
          st.crossJoin(broadcast(pick.select(col("v").as("cv"))))
            .select(col("vec_id"), col("v"),
              least(col("md"), l2(col("v"), col("cv"))).as("md")))
    }
    picks.reduce(_ unionByName _).orderBy("step")
  }

  private def d2Sql(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** Oracle: the k-step greedy unrolled as CTE pairs (pick, re-min). */
  val sampleKcenterSql: String = {
    val k = 8
    val steps = (2 to k).map { i =>
      val base = s"m${i - 1}"
      s"""c$i AS (
      SELECT vec_id, v, md FROM $base
      ORDER BY CAST(FLOOR(md * 1e9) AS BIGINT) DESC, vec_id LIMIT 1),
    m$i AS (
      SELECT m.vec_id, m.v, LEAST(m.md, ${d2Sql("m.v", "c.v")}) AS md
      FROM $base m, c$i c)"""
    }.mkString(",\n    ")
    s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
    m1 AS (SELECT e.vec_id, e.v, ${d2Sql("e.v", "c.v")} AS md FROM e, c1 c),
    $steps,
    sel AS (
      SELECT 1 AS step, vec_id, 0.0 AS radius2 FROM c1
      ${(2 to k).map(i =>
        s"UNION ALL SELECT $i, vec_id, ROUND(md, 6) FROM c$i")
        .mkString(" ")})
    SELECT step, vec_id, radius2 FROM sel ORDER BY step"""
  }

  /** Recall@k AUDIT for the whole approximate family — the evidence
    * table an ANN rollout decision is made on, promoted from the
    * recall SPECS to a registered, oracle-gated query: each method's
    * top-k (lsh / ivf / pq / ivf_pq) against the GUARDED exact
    * brute-force top-k on the same queries, per-query hit counts and
    * recall. The exact side inherits ann_cosine's loud all-pairs cap —
    * at 100 TB a recall audit runs on a query SAMPLE by construction
    * (the production pattern), never the full corpus. Hits are a
    * left-semi join on (qid, cid); recall = n_hit / n_exact rounded at
    * 6 dp (both engines divide the same two integers — identical
    * doubles, identical rounding). */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // the coarse index trains ONCE for both IVF-family methods — an
    // audit reuses the structure it audits, it doesn't retrain per row
    val (assigned, cents) = ivfAssign(s, dir)
    val exact = Tables.hot(annCosine(s, dir).select(col("qid"), col("cid")))
    val exCnt = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
    def one(m: String, df: DataFrame): DataFrame = {
      val a = df.select(col("qid"), col("cid"))
      val hits = a.join(exact, Seq("qid", "cid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
      val ret = a.groupBy("qid").agg(count(lit(1)).as("n_returned"))
      exCnt
        .join(ret, Seq("qid"), "left").join(hits, Seq("qid"), "left")
        .select(lit(m).as("method"), col("qid"), col("n_exact"),
          coalesce(col("n_returned"), lit(0L)).as("n_returned"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double")
            / col("n_exact"), 6).as("recall"))
    }
    Seq(one("ivf", annIvfFrom(e, assigned, cents)),
      one("ivf_pq", annIvfPqSearch(s, dir, e, cents)),
      one("lsh", annLsh(s, dir)), one("pq", annPq(s, dir)))
      .reduce(_ unionByName _)
      .orderBy("method", "qid")
  }

  /** Oracle: the four method SQLs + the exact SQL as subqueries, the
    * same semi-join hit counts. */
  val annRecallSql: String = s"""
    WITH ex AS (SELECT qid, cid FROM ($annCosineSql)),
    exc AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY qid),
    m_ivf AS (SELECT qid, cid FROM ($annIvfSql)),
    m_ivf_pq AS (SELECT qid, cid FROM ($annIvfPqSql)),
    m_lsh AS (SELECT qid, cid FROM ($annLshSql)),
    m_pq AS (SELECT qid, cid FROM ($annPqSql)),
    allm AS (
      SELECT 'ivf' AS method, * FROM m_ivf
      UNION ALL SELECT 'ivf_pq', * FROM m_ivf_pq
      UNION ALL SELECT 'lsh', * FROM m_lsh
      UNION ALL SELECT 'pq', * FROM m_pq),
    per AS (
      SELECT a.method, a.qid,
             COUNT(*) AS n_returned,
             CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM ex
                 WHERE ex.qid = a.qid AND ex.cid = a.cid)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM allm a GROUP BY a.method, a.qid),
    meth AS (SELECT DISTINCT method FROM allm)
    SELECT m.method, e.qid, e.n_exact,
           COALESCE(p.n_returned, 0) AS n_returned,
           COALESCE(p.n_hit, 0) AS n_hit,
           ROUND(CAST(COALESCE(p.n_hit, 0) AS DOUBLE) / e.n_exact, 6)
             AS recall
    FROM meth m CROSS JOIN exc e
    LEFT JOIN per p ON p.method = m.method AND p.qid = e.qid
    ORDER BY m.method, e.qid"""
}
