package graft

import org.apache.spark.sql.DataFrame

/** The size-adaptive vertex-state strategy (Graph.routeState) must be a
  * pure PLAN decision: broadcast mode and co-partitioned-shuffle mode
  * answer bit-identically. This spec runs every routed graph operator
  * in BOTH modes at sf0.001 and compares collected rows — the shuffle
  * shape itself is pinned in PlanAuditSpec.
  */
class GraphRoutingSpec extends SparkSpec {

  // graph_kcore's registered k=80 core is EMPTY at sf0.001 (degrees are
  // tiny), which would route a 0-row state and compare nothing — run it
  // with k=2 so the peeling rounds and the routed semi joins carry a
  // real survivor set
  private val routedKeys: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
      ("graph_pagerank", SparkEntry.queries("graph_pagerank")),
      ("graph_communities", SparkEntry.queries("graph_communities")),
      ("graph_triangles", SparkEntry.queries("graph_triangles")),
      ("graph_edge_overlap", SparkEntry.queries("graph_edge_overlap")),
      ("graph_kcore(k=2)", (s, d) => graft.ops.Graph.graphKcore(s, d, k = 2)),
      ("graph_assortativity", SparkEntry.queries("graph_assortativity")),
      // ancestorClosure routes too: broadcast mode is the one-plan
      // linear chain walk, shuffle mode the hotCount pointer doubling
      ("q_hier_rollup_edges", SparkEntry.queries("q_hier_rollup_edges")))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def inMode(bound: String)(body: => Seq[String]): Seq[String] = {
    spark.conf.set(graft.ops.Graph.BroadcastVerticesKey, bound)
    try body finally spark.conf.unset(graft.ops.Graph.BroadcastVerticesKey)
  }

  for ((q, run) <- routedKeys)
    test(s"$q: broadcast and shuffle vertex-state routes answer identically") {
      val b = inMode(Long.MaxValue.toString) {
        rows(run(spark, sfDir))
      }
      val sh = inMode("0") {
        rows(run(spark, sfDir))
      }
      assert(b == sh, s"$q: shuffle route diverges from broadcast route")
      assert(b.nonEmpty, s"$q: empty result — the comparison proves nothing")
    }
}
