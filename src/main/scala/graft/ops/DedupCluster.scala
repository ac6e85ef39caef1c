package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTERS: pair lists (dedup_minhash et al.) say which
  * documents overlap, but the pipeline decision — which single document
  * to keep — needs the connected components of that pair graph (a dup
  * of a dup of a dup is still the same cluster). This is the step that
  * turns "A~B, B~C" into "keep A, drop B and C".
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with its own id; each round every node takes the min of its
  * label and its neighbors' labels; fixpoint = per-component min id.
  * Each round is one shuffle (join + hash aggregate), and the round
  * count is the graph diameter — near-dup clusters are shallow (dup
  * families link through shared content), so this converges in a few
  * rounds. The per-round `Tables.hot` truncates lineage so round k+1
  * reads round k's blocks instead of recomputing the whole ladder.
  * (For adversarially deep graphs there are O(log d) contraction
  * schemes — large-star/small-star — but the extra machinery buys
  * nothing at near-dup shapes; the iteration cap fails loudly instead
  * of silently emitting half-merged clusters.)
  */
object DedupCluster {

  /** Connected components of an undirected edge list.
    *
    * @param edges (src, dst) pairs, any orientation, duplicates fine
    * @return (node, cluster_id) — cluster_id = min node id reachable
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    val und = Tables.hot(
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = Tables.hot(
      und.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")))
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      // neighbor min per node, one shuffle (map-side combine on dst)
      val msgs = und.join(labels, col("src") === col("node"))
        .groupBy(col("dst").as("mnode")).agg(min("lbl").as("nlbl"))
      // hotLazy: the changed-label count below is a full scan of the
      // new state, so it materializes the checkpoint in the SAME job
      // as the convergence check (count, not isEmpty — take-style
      // short-circuiting would leave partitions unmaterialized)
      val next = Tables.hotLazy(
        labels.join(msgs, col("node") === col("mnode"), "left")
          .select(col("node"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")))
      converged = next
        .join(labels.withColumnRenamed("lbl", "prev"), Seq("node"))
        .filter(col("lbl") =!= col("prev"))
        .count() == 0
      labels = next
      it += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds — " +
        "graph diameter exceeds the cap; raise maxIters")
    labels
  }

  /** dedup_cluster: connected components of the verified minhash
    * near-dup pairs, with the canonical-keep decision (keep the min
    * doc_id of each cluster). Only documents that appear in at least
    * one near-dup pair are emitted — everything else is trivially its
    * own cluster. */
  def dedupCluster(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextDedup.dedupMinhash(s, dir)
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
    connectedComponents(edges)
      .select(col("node").cast("long").as("doc_id"),
        col("lbl").cast("long").as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Oracle: the exact n-gram pairs at the same threshold (identical to
    * the minhash pairs — see TextDedup's LSH miss-probability note),
    * closed transitively with a recursive CTE, min id per component. */
  val dedupClusterSql: String = s"""
    WITH RECURSIVE pairs AS (${TextDedup.dedupNgramSql}),
    und AS (
      SELECT da AS src, db AS dst FROM pairs
      UNION ALL
      SELECT db AS src, da AS dst FROM pairs),
    reach AS (
      SELECT src, dst FROM und
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
    lbl AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           doc_id = cluster_id AS keep
    FROM lbl ORDER BY doc_id"""

  /** The end-to-end near-dedup DECISION a corpus pipeline actually
    * runs, as one operator: minhash-LSH verified pairs → connected
    * components → quality-aware canonical per cluster (longest doc,
    * ties to lowest id — the dedup_keep_best rule applied to NEAR-dup
    * clusters instead of exact-hash groups; singletons keep
    * themselves) → per-source survival report. The canonical argmax
    * is the same bit-packed primitive-MAX hash aggregate (a struct
    * max would regress to SortAggregate), and the report is one
    * conditional aggregation — beyond the CC rounds nothing here
    * adds more than two narrow shuffles. */
  def corpusNearDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Text.docToks(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val lbl = dedupCluster(s, dir).select("doc_id", "cluster_id")
    val idSpace = 1L << 43
    val packed = when(
      col("n_chars") >= 0 && col("n_chars") < (1L << 20) &&
        col("doc_id") >= 0 && col("doc_id") < idSpace,
      shiftleft(col("n_chars"), 43) + (lit(idSpace - 1) - col("doc_id")))
      .otherwise(raise_error(concat(
        lit("corpus_near_dedup: doc_id/n_chars outside packable range: "),
        col("doc_id").cast("string"))))
    val grouped = d.join(lbl, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
    val keepers = grouped.groupBy("grp")
      .agg(max(packed).as("p"))
      .select((lit(idSpace - 1) - (col("p") % idSpace)).as("keep_id"))
    grouped
      .join(keepers, col("doc_id") === col("keep_id"), "left")
      .withColumn("kept", col("keep_id").isNotNull)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L))
          .as("chars_kept"))
      .orderBy("source")
  }

  /** Oracle: the recursive-CTE closure (as dedupClusterSql), then the
    * same keep-best rule as a ROW_NUMBER and the same survival sums. */
  val corpusNearDedupSql: String = s"""
    WITH RECURSIVE pairs AS (${TextDedup.dedupNgramSql}),
    und AS (
      SELECT da AS src, db AS dst FROM pairs
      UNION ALL
      SELECT db AS src, da AS dst FROM pairs),
    reach AS (
      SELECT src, dst FROM und
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
    lbl AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src),
    grp AS (
      SELECT d.doc_id, d.source, d.n_chars,
             COALESCE(l.cluster_id, d.doc_id) AS grp
      FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
    keepers AS (
      SELECT doc_id AS keep_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY grp
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM grp) WHERE rn = 1)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN k.keep_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.keep_id IS NOT NULL THEN g.n_chars
                    ELSE 0 END) AS BIGINT) AS chars_kept
    FROM grp g LEFT JOIN keepers k ON g.doc_id = k.keep_id
    GROUP BY source ORDER BY source"""

  /** SemDeDup-shaped SEMANTIC dedup decision (Abbas et al. 2023):
    * embedding-cosine candidate pairs (dedup_embed_ivf — IVF-bucketed,
    * salted, never O(n²)) → connected components → ONE keeper per
    * semantic cluster → per-label survival report. Until now a user
    * had pairs (`dedup_embed_ivf`) and components (`dedup_cluster`
    * at the minhash layer) but no embedding-layer KEEP decision.
    *
    * Keeper rule: max squared norm (the information-mass proxy —
    * semantic near-dups keep the most feature-rich exemplar), ties to
    * lowest vec_id. The norm is quantized to floor(‖v‖²·1e6) — both
    * engines compute the identical double from the same float vector
    * with the same accumulation order (vec_dot ≡ list_dot_product,
    * the dedup_embed precedent), so the floor is bit-safe — and the
    * argmax rides the corpus_near_dedup bit-packed primitive-MAX
    * recipe (norm-rank in the high bits, complemented vec_id in the
    * low 33, loud outside the packable range; a struct max would
    * regress HashAggregate→SortAggregate). Singleton vectors (no
    * near-dup pair) keep themselves via the left-join coalesce.
    */
  def corpusSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanout(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), col("label"),
        graft.functions.Vec.asDouble(col("embedding")).as("v"))
      .withColumn("q",
        floor(call_function("vec_dot", col("v"), col("v")) * 1e6)
          .cast("long"))
    val pairs = VectorOps.dedupEmbedIvf(s, dir)
      .select(col("da").as("src"), col("db").as("dst"))
    val lbl = connectedComponents(pairs)
      .select(col("node").cast("long").as("vec_id"),
        col("lbl").cast("long").as("cluster_id"))
    val idSpace = 1L << 33
    val packed = when(
      col("q") >= 0 && col("q") < (1L << 30) &&
        col("vec_id") >= 0 && col("vec_id") < idSpace,
      shiftleft(col("q"), 33) + (lit(idSpace - 1) - col("vec_id")))
      .otherwise(raise_error(concat(
        lit("corpus_semantic_dedup: vec_id/normsq outside packable range: "),
        col("vec_id").cast("string"))))
    val grouped = e.join(lbl, Seq("vec_id"), "left")
      .withColumn("grp", coalesce(col("cluster_id"), col("vec_id")))
    val keepers = grouped.groupBy("grp")
      .agg(max(packed).as("p"))
      .select((lit(idSpace - 1) - (col("p") % idSpace)).as("keep_id"))
    grouped
      .join(keepers, col("vec_id") === col("keep_id"), "left")
      .withColumn("kept", col("keep_id").isNotNull)
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
      .orderBy("label")
  }

  /** Oracle: the dedup_embed_ivf pair SQL closed transitively with a
    * recursive CTE (the dedupClusterSql recipe), the same quantized
    * max-norm keep rule as a ROW_NUMBER, the same survival counts. */
  val corpusSemanticDedupSql: String = s"""
    WITH RECURSIVE pairs AS (${VectorOps.dedupEmbedIvfSql}),
    und AS (
      SELECT da AS src, db AS dst FROM pairs
      UNION ALL
      SELECT db AS src, da AS dst FROM pairs),
    reach AS (
      SELECT src, dst FROM und
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
    lbl AS (
      SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src),
    ev AS (
      SELECT vec_id, label,
             CAST(FLOOR(list_dot_product(CAST(embedding AS DOUBLE[]),
               CAST(embedding AS DOUBLE[])) * 1e6) AS BIGINT) AS q
      FROM embeddings),
    g AS (
      SELECT ev.vec_id, ev.label, ev.q,
             COALESCE(l.cluster_id, ev.vec_id) AS grp
      FROM ev LEFT JOIN lbl l ON ev.vec_id = l.vec_id),
    keepers AS (
      SELECT vec_id AS keep_id FROM (
        SELECT vec_id, ROW_NUMBER() OVER (PARTITION BY grp
                 ORDER BY q DESC, vec_id) AS rn
        FROM g) WHERE rn = 1)
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN k.keep_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.keep_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped
    FROM g LEFT JOIN keepers k ON g.vec_id = k.keep_id
    GROUP BY label ORDER BY label"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("dedup_cluster", dedupCluster, Some(dedupClusterSql)),
    QueryDef("corpus_near_dedup", corpusNearDedup, Some(corpusNearDedupSql)),
    QueryDef("corpus_semantic_dedup", corpusSemanticDedup,
      Some(corpusSemanticDedupSql)))
}
