package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.FileSourceScanExec

/** Runtime (executed-plan) shuffle accounting for the iterative graph
  * operators — the static-plan audit cannot see AQE stage reuse or
  * row counts, so the exchange claims are pinned HERE on the plan that
  * actually ran (VERDICT r16 item 8):
  *
  *  - pagerank, both routes: no exchange carries edge rows. Each round
  *    joins the state to the frozen CSR adjacency (one row per source)
  *    and sums contributions map-side before the exchange, so every
  *    exchange writes fewer rows than the graph has directed edges; a
  *    per-round edge-list shuffle writes exactly one per edge.
  *  - label propagation, broadcast route: the per-round adjacency
  *    layout exchange (`repartition(dst)`) must MATERIALIZE once and be
  *    REUSED by the remaining rounds (4 references → ≥3 reuses). If a
  *    future change perturbs plan canonicalization, reuse silently
  *    degrades to per-round full-edge exchanges — this spec fails
  *    instead.
  *  - pagerank, shuffle route: the adjacency must arrive from the
  *    BUCKETED frozen CSR with NO exchange above it (per-round joins
  *    move only the state).
  */
class GraphRuntimeReuseSpec extends SparkSpec {

  /** Executed-plan traversal that descends into adaptive plans and
    * query stages (both are leaf nodes to `children`). */
  private def collectExec(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: below.flatMap(collectExec)
  }

  private def executedAfter(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collectExec(df.queryExecution.executedPlan)
  }

  private def inMode(bound: String)(body: => Seq[SparkPlan]): Seq[SparkPlan] = {
    spark.conf.set(graft.ops.Graph.BroadcastVerticesKey, bound)
    try body finally spark.conf.unset(graft.ops.Graph.BroadcastVerticesKey)
  }

  test("pagerank: no executed exchange carries edge rows, in either route") {
    val directedEdges = graft.ops.Graph.coEdges(spark, sfDir).count() * 2
    for (bound <- Seq(Long.MaxValue.toString, "0")) {
      val nodes = inMode(bound) {
        executedAfter(SparkEntry.queries("graph_pagerank")(spark, sfDir))
      }
      val exchanges = nodes.collect { case e: Exchange => e }
      assert(exchanges.nonEmpty, s"bound=$bound: no exchange ran")
      exchanges.foreach { e =>
        val rows = e.metrics.get("shuffleRecordsWritten")
          .orElse(e.metrics.get("numOutputRows")).map(_.value)
        assert(rows.isDefined, s"bound=$bound: ${e.nodeName} reports no row count")
        assert(rows.get < directedEdges,
          s"bound=$bound: ${e.nodeName} moved ${rows.get} rows, the graph " +
            s"has $directedEdges directed edges — an exchange carries edge rows")
      }
    }
  }

  test("label-propagation broadcast route reuses the adjacency exchange across rounds") {
    val nodes = inMode(Long.MaxValue.toString) {
      executedAfter(SparkEntry.queries("graph_communities")(spark, sfDir))
    }
    val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
    assert(reused >= 3,
      s"graph_communities: expected >= 3 runtime exchange reuses " +
        s"(adjacency layout shared across rounds), saw $reused — " +
        "per-round full-edge exchanges are back")
  }

  test("pagerank shuffle route reads the bucketed adjacency with no edge-side exchange") {
    val nodes = inMode("0") {
      executedAfter(SparkEntry.queries("graph_pagerank")(spark, sfDir))
    }
    val bucketScans = nodes.collect {
      case s: FileSourceScanExec
        if s.metadata.get("Location").exists(_.contains("graft_pr_adj_")) => s
    }
    assert(bucketScans.nonEmpty,
      "shuffle route: bucketed frozen adjacency scan missing")
    assert(bucketScans.forall(_.bucketedScan),
      "shuffle route: adjacency scan is not reading bucketed")
    // every per-round state join must STREAM the bucketed scan with no
    // exchange between the join and the scan (the aggregate exchanges
    // legitimately sitting ABOVE the join are someone else's) — i.e.
    // each shuffled-hash join whose subtree holds the adjacency scan
    // must hold it on an exchange-free side
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if collectExec(j).exists {
          case s: FileSourceScanExec =>
            s.metadata.get("Location").exists(_.contains("graft_pr_adj_"))
          case _ => false
        } => j
    }
    assert(joins.nonEmpty,
      "shuffle route: no per-round state join reads the bucketed adjacency")
    joins.foreach { j =>
      val side = Seq(j.left, j.right).find(ch => collectExec(ch).exists {
        case s: FileSourceScanExec =>
          s.metadata.get("Location").exists(_.contains("graft_pr_adj_"))
        case _ => false
      }).get
      val exch = collectExec(side).collect { case e: Exchange => e }
      assert(exch.isEmpty,
        s"shuffle route: the adjacency side of a per-round join is " +
          s"re-exchanged (${exch.size} exchange(s)) — the bucketed " +
          "layout is not being used")
    }
  }
}
