package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph reachability — the engine answer to SQL's
  * WITH RECURSIVE (org charts, BOM explosions, referrer chains),
  * which Spark does not ship. The Spark-first shape is pointer
  * DOUBLING: each round self-joins the frontier so the followed
  * distance doubles — O(log depth) shuffles total instead of
  * O(depth), the difference between 5 rounds and 40 at a realistic
  * hierarchy. Same driver-coordinated-rounds contract as the
  * dedup_cluster CC loop: per-round lineage truncation
  * (Tables.hot), loud failure if the cap is hit.
  */
object Graph {

  // ---- size-adaptive vertex-state strategy ---------------------------

  /** Conf key bounding how many vertex-state rows may BROADCAST.
    * Every iterative operator here keeps a small per-vertex state
    * table (16 B rank/degree/survivor rows, or adjacency arrays ≈ the
    * compressed edge set) next to a large static edge table.
    * Broadcasting the state is the right plan while it fits executor
    * memory: map-side joins, the edges never move. Past this bound the
    * broadcast is the textbook scale-killer (O(V) state collected to
    * the driver and copied to every executor → OOM), so the SAME join
    * routes to a co-partitioned SHUFFLE_HASH join on the vertex key:
    * per round only the narrow state shuffles, and callers
    * pre-partition their hot edge table on the probe key once so its
    * layout is reused across rounds instead of reshuffled. This is the
    * guardAllPairs routing precedent (VectorOps.scala:39) as a
    * strategy SWITCH rather than a refusal — both shapes answer
    * identically (GraphRoutingSpec) and both are pinned
    * (PlanAuditSpec). */
  val BroadcastVerticesKey = "graft.graph.broadcastVertices"

  /** Default bound: 20M state rows ≈ 320 MB of packed (v, long) pairs —
    * comfortably inside a 1 GiB broadcast budget even for the
    * array-valued adjacency states (bounded by the oriented-degree
    * guard), far under Spark's 512M-row broadcast hard limit. */
  val BroadcastVerticesDefault: Long = 20L * 1000 * 1000

  private def broadcastBound(s: SparkSession): Long =
    s.conf.getOption(BroadcastVerticesKey).map(_.toLong)
      .getOrElse(BroadcastVerticesDefault)

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Graph")

  /** Route a vertex-state table of KNOWN row count (callers learn it
    * from the Tables.hotCount they run anyway, so routing adds no
    * job): broadcast under the bound; LOUD logged switch to a
    * SHUFFLE_HASH hint past it — a scale run shows the flip in its
    * logs instead of dying in a driver OOM. */
  private[ops] def routeState(name: String, st: DataFrame,
                              rows: Long): DataFrame = {
    val bound = broadcastBound(st.sparkSession)
    if (rows <= bound) broadcast(st)
    else {
      log.warn(s"$name: vertex-state rows=$rows exceed the broadcast " +
        s"bound $bound ($BroadcastVerticesKey) — routing to a " +
        "co-partitioned shuffle-hash join on the vertex key")
      st.hint("SHUFFLE_HASH")
    }
  }

  /** True when a state table of `rows` will broadcast — callers use it
    * to skip the edge-side pre-partitioning only the shuffle path
    * needs. */
  private def willBroadcast(s: SparkSession, rows: Long): Boolean =
    rows <= broadcastBound(s)

  /** Per-node depth to the root of a deterministic binary hierarchy
    * (parent(k) = k DIV 2, root 1) derived from customer keys — the
    * oracle replays it as a WITH RECURSIVE parent walk. */
  def transitiveDepth(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.fanout(Tables.load(s, dir, "customer"))
      .select(col("c_custkey").as("id"))
    // state (id, anc, d): anc is the farthest ancestor followed so
    // far, d the edge count to it; fixed point = anc is the root
    // hotLazy + filtered count: the open-count full-scan materializes
    // each round's checkpoint — one driver round-trip per round, not two
    var st = Tables.hotLazy(base.select(col("id"),
      when(col("id") > 1, expr("id DIV 2")).otherwise(lit(1L)).as("anc"),
      when(col("id") === 1, lit(0L)).otherwise(lit(1L)).as("d")))
    var rounds = 0
    var open = st.filter(col("anc") =!= 1).count()
    while (open > 0 && rounds < 12) {
      // doubling jump: follow anc's own (anc, d) in one equi-join —
      // the root's state (1, 1, 0) is the natural fixed point
      val jumped = st.as("a")
        .join(st.as("b"), col("a.anc") === col("b.id"))
        .select(col("a.id"), col("b.anc").as("anc"),
          (col("a.d") + col("b.d")).as("d"))
      st = Tables.hotLazy(jumped)
      rounds += 1
      open = st.filter(col("anc") =!= 1).count()
    }
    require(open == 0,
      s"transitive closure did not converge in $rounds doubling rounds " +
        s"($open open) — depth > 2^$rounds implies a cycle or bad edges")
    st.select(col("id"), col("d").as("depth")).orderBy("id")
  }

  val transitiveDepthSql: String = """
    WITH RECURSIVE walk(id, anc, d) AS (
      SELECT c_custkey,
             CASE WHEN c_custkey > 1 THEN c_custkey // 2 ELSE 1 END,
             CASE WHEN c_custkey = 1 THEN 0 ELSE 1 END
      FROM customer
      UNION ALL
      SELECT id, CASE WHEN anc > 1 THEN anc // 2 ELSE 1 END, d + 1
      FROM walk WHERE anc > 1)
    SELECT id, CAST(d AS BIGINT) AS depth
    FROM walk WHERE anc = 1 ORDER BY id"""

  /** Hierarchical subtree ROLLUP — the recursive-AGGREGATION class next
    * to q_transitive's reachability (BOM cost rollups, org-chart
    * headcounts): per ancestor, the count and decimal-exact value sum
    * over its whole subtree. Over the same encoded binary hierarchy
    * (parent(k) = k DIV 2) the ancestor chain is CLOSED-FORM — each row
    * explodes to its ≤ 64 ancestors by bit shifts, then ONE hash
    * aggregate; no joins, no rounds. (An arbitrary parent table takes
    * the q_transitive pointer-doubling machinery to build the same
    * (node, ancestor) pairs first — O(log depth) shuffles — and this
    * identical aggregate after.) Output = the top 4 levels of the
    * hierarchy; means follow the floor-to-cent integer rule.
    */
  def hierRollup(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    // 1-based node key (custkeys start at 0; node 0 has no bit-chain)
    Tables.fanout(Tables.load(s, dir, "customer"))
      .select((col("c_custkey") + 1).as("id"),
        col("c_acctbal").cast(dec).as("v"))
      .select(col("v"), explode(expr(
        "transform(sequence(0, length(bin(id)) - 1), i -> shiftright(id, i))"))
        .as("anc"))
      .filter(col("anc").between(1, 15))
      .groupBy("anc")
      .agg(count(lit(1)).as("n_desc"), sum(col("v")).as("sv"))
      .select(col("anc").as("id"), col("n_desc"),
        round(col("sv").cast("double"), 2).as("subtree_sum"),
        (expr("CAST(sv * 100 AS BIGINT) DIV n_desc") / 100.0)
          .as("subtree_mean"))
      .orderBy("id")
  }

  val hierRollupSql: String = """
    WITH n AS (
      SELECT c_custkey + 1 AS id, CAST(c_acctbal AS DECIMAL(18,2)) AS v
      FROM customer),
    anc AS (
      SELECT v,
        unnest(list_transform(generate_series(0, length(bin(id)) - 1),
          i -> id >> i)) AS a
      FROM n),
    m AS (
      SELECT a AS id, COUNT(*) AS n_desc, SUM(v) AS sv
      FROM anc WHERE a BETWEEN 1 AND 15 GROUP BY 1)
    SELECT id, n_desc,
           ROUND(CAST(sv AS DOUBLE), 2) AS subtree_sum,
           CAST(sv * 100 AS BIGINT) // n_desc / 100.0 AS subtree_mean
    FROM m ORDER BY id"""

  /** (node, ancestor) closure pairs — self included — from an ARBITRARY
    * parent-edge table by pointer doubling: P₀ = identity ∪ edges,
    * P_{k+1} = P_k ⋈ P_k (a.anc = b.id), so covered path length doubles
    * per round — O(log depth) shuffles to the fixed point (count
    * stable), the q_transitive machinery generalized from
    * farthest-ancestor to the full closure. The closure's size
    * (Σ depths) is inherent to subtree-rollup semantics: every ancestor
    * aggregates every descendant exactly once. Driver-coordinated
    * rounds with per-round lineage truncation; loud failure at the cap
    * (cycle or depth > 2^maxRounds).
    *
    * nodes: (id). edges: (id, parent) with one DISTINCT proper edge per
    * non-root node (parent ≠ id, root rows omitted) — a forest, the
    * org-chart/BOM contract; duplicate or self-loop edges would skew
    * the fixed-point counts and trip the loud cap.
    */
  /** Ceiling on broadcast-mode linear-walk steps — each step is one
    * more chained join in a single lazy plan, and plan analysis +
    * codegen grow with chain length (the CLAUDE.md planning-tax rule),
    * so a hierarchy whose measured depth bound exceeds this routes to
    * the shuffle-doubling loop instead. 32 covers a min-contraction-2
    * forest of 4 billion nodes. */
  val MaxLinearSteps = 32

  def ancestorClosure(nodes: DataFrame, edges: DataFrame,
                      maxRounds: Int = 8): DataFrame = {
    val s = nodes.sparkSession
    // ONE tiny aggregate measures the routing inputs: edge count (the
    // broadcast budget) and a DEPTH BOUND — every proper edge
    // contracts id by factor ≥ r = min(id/parent), so any chain roots
    // within log_r(maxId) steps. Degenerate forests (r → 1, e.g.
    // parent = id − 1) blow the bound and route to the doubling loop.
    val st = edges.agg(count(lit(1)).as("m"), max(col("id")).as("mx"),
      min(col("id").cast("double") / col("parent")).as("r")).head()
    val nEdges = st.getLong(0)
    val steps =
      if (nEdges == 0) 0
      else {
        val r = st.getDouble(2)
        if (r <= 1.01) Int.MaxValue
        else math.ceil(math.log(st.getLong(1).toDouble) /
          math.log(r)).toInt + 1
      }
    if (willBroadcast(s, nEdges) && steps <= MaxLinearSteps) {
      // BROADCAST MODE — the edge table fits the vertex-state budget
      // and the measured depth bound fits the planning budget, so the
      // whole closure is ONE lazy plan: broadcast the parent map once
      // and extend every node's ancestor chain by one step per chained
      // broadcast-hash join (the exchange is reused across all steps).
      // No driver rounds, no checkpoints, and NO distinct: proper-
      // parent chains (parent < id) are strictly decreasing, so each
      // chain visits each ancestor exactly once and stops at the root.
      // Work is O(closure) — the same total the doubling loop pays,
      // without its per-round job latency.
      val e = broadcast(
        edges.select(col("id").as("eid"), col("parent").as("ep")))
      // rt = "this chain has terminated": its head j had NO outgoing
      // edge on some probe (root-id-agnostic — a multi-root forest is
      // valid input; the old j === 1 guard raise_error'd any chain
      // rooted elsewhere). steps+1 probes so a chain whose head
      // reaches its root exactly on probe `steps` still gets the
      // null-probe that certifies it.
      var l = edges.select(col("id"), col("parent").as("j"),
        array(col("parent")).as("a"), lit(false).as("rt"))
      for (_ <- 0 to steps) {
        val done = col("rt") || col("eid").isNull
        l = l.join(e, col("j") === col("eid"), "left")
          .select(col("id"),
            when(done, col("j")).otherwise(col("ep")).as("j"),
            when(done, col("a"))
              .otherwise(concat(col("a"), array(col("ep")))).as("a"),
            done.as("rt"))
      }
      // per-row loud coverage guard folded into the output projection
      // (zero extra jobs): every chain must have reached the root —
      // unreachable unless the data violates the proper-edge contract
      // the depth bound is derived from (e.g. duplicate id rows)
      val chains = l.select(col("id"),
        when(col("rt"), col("a")).otherwise(raise_error(concat(
          lit("ancestor closure: chain not rooted after " +
            s"$steps linear steps at id "),
          col("id").cast("string"),
          lit(" — the edge table violates the proper-edge forest " +
            s"contract; set $BroadcastVerticesKey=0 to force the " +
            "shuffle-doubling path")))).as("a"))
      nodes.select(col("id"), col("id").as("anc"))
        .unionByName(chains.select(col("id"), explode(col("a")).as("anc")))
    } else {
      // SHUFFLE MODE — pointer doubling, O(log depth) shuffle rounds.
      // no seed distinct: identity pairs (id = anc) and proper-parent
      // edges (parent < id) are disjoint by construction
      // hotCount: checkpoint + fixed-point count ride ONE job per round
      var (cl, cnt) = Tables.hotCount(
        nodes.select(col("id"), col("id").as("anc"))
          .unionByName(edges.select(col("id"), col("parent").as("anc"))))
      var prev = -1L
      var rounds = 0
      while (cnt != prev && rounds < maxRounds) {
        prev = cnt
        val (h, c) = Tables.hotCount(
          cl.as("a").join(cl.as("b").hint("SHUFFLE_HASH"),
              col("a.anc") === col("b.id"))
            .select(col("a.id"), col("b.anc").as("anc")).distinct())
        cl = h
        cnt = c
        rounds += 1
      }
      // NB a cyclic edge set does NOT trip this guard — a cycle's
      // closure is a finite fixed point, so cnt converges; only
      // depth > 2^maxRounds fails loudly here. Cyclicity is the
      // caller's forest contract above.
      require(cnt == prev,
        s"ancestor closure still growing after $rounds doubling rounds " +
          s"($prev -> $cnt pairs) — depth > 2^$rounds; raise maxRounds")
      cl
    }
  }

  /** Subtree rollup over an ARBITRARY parent-edge table — the org-chart
    * /BOM case the encoded q_hier_rollup can't cover (its ancestor
    * chain is closed-form bit shifts; a real parent table has no such
    * form). Parent function here: an irregular mixed-arity hierarchy
    * parent(k) = max(1, k DIV (2 + k MOD 3)) — divisor cycles 2/3/4 by
    * node, so sibling counts vary and no bit trick applies; the oracle
    * replays it as a recursive CTE. Closure by `ancestorClosure`
    * pointer doubling, then the IDENTICAL aggregate as q_hier_rollup
    * (decimal-exact sums, floor-to-cent means), reported for the top
    * ancestors (id ≤ 15). */
  def hierRollupEdges(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val nodes = Tables.fanout(Tables.load(s, dir, "customer"))
      .select((col("c_custkey") + 1).as("id"),
        col("c_acctbal").cast(dec).as("v"))
    val edges = nodes.filter(col("id") > 1)
      .select(col("id"),
        greatest(lit(1L), expr("id DIV (2 + id % 3)")).as("parent"))
    ancestorClosure(nodes.select("id"), edges)
      .join(nodes, Seq("id"))
      .filter(col("anc").between(1, 15))
      .groupBy("anc")
      .agg(count(lit(1)).as("n_desc"), sum(col("v")).as("sv"))
      .select(col("anc").as("id"), col("n_desc"),
        round(col("sv").cast("double"), 2).as("subtree_sum"),
        (expr("CAST(sv * 100 AS BIGINT) DIV n_desc") / 100.0)
          .as("subtree_mean"))
      .orderBy("id")
  }

  val hierRollupEdgesSql: String = """
    WITH RECURSIVE nn AS (
      SELECT c_custkey + 1 AS id, CAST(c_acctbal AS DECIMAL(18,2)) AS v
      FROM customer),
    walk(id, anc) AS (
      SELECT id, id AS anc FROM nn
      UNION ALL
      SELECT id, GREATEST(1, anc // (2 + anc % 3)) FROM walk WHERE anc > 1),
    m AS (
      SELECT anc, COUNT(*) AS n_desc, SUM(v) AS sv
      FROM walk JOIN nn ON walk.id = nn.id
      WHERE anc BETWEEN 1 AND 15 GROUP BY anc)
    SELECT anc AS id, n_desc,
           ROUND(CAST(sv AS DOUBLE), 2) AS subtree_sum,
           CAST(sv * 100 AS BIGINT) // n_desc / 100.0 AS subtree_mean
    FROM m ORDER BY id"""

  // ---- co-purchase graph (the structural family's one input) ---------

  /** Undirected co-purchase edge list over parts: (a, b) with a < b iff
    * the two parts appear in the same order. The self-join key is the
    * order key, so the pair explode is bounded by lines-per-order² (≤7
    * lines in TPC-H-shaped data); a lake with pathological giant orders
    * would cap lines per order before pairing. Distinct collapses
    * repeat co-purchases — the graph is unweighted. The reference the
    * operators' CSR root (`prCsr`) is checked against (GraphCsrSpec).
    */
  private[graft] def coEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("l1").join(li.as("l2"), col("l1.ok") === col("l2.ok") &&
        col("l1.pk") < col("l2.pk"))
      .select(col("l1.pk").as("a"), col("l2.pk").as("b"))
      .distinct()
  }

  // MATERIALIZED: every consumer (triangles, pagerank, edge overlap,
  // assortativity, kcore) references pairs 2-3 times — DuckDB inlines
  // an unmaterialized CTE per reference, re-running the lineitem
  // self-join each time (found by the 10x scale bench: the pagerank
  // oracle ground past 10 minutes at 22 GB; the CLAUDE.md CTE rule)
  private val coEdgesSql: String = """
    pairs AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey)"""

  /** SESSION-FROZEN ARTIFACT derived from the CSR root (`prCsr`): the
    * undirected a < b edge list, built only when triangles, k-core,
    * edge overlap or assortativity first ask for it. */
  private[graft] def coEdgesHot(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frozen(s, ("graph.coEdges", dir)) {
      graft.Artifacts.pin(dirEdges(s, dir).filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b")))
    }

  /** Per-vertex triangle counts on the co-purchase graph — the clustering
    * primitive (spam-farm detection, community cores) whose naive form is
    * an O(m·n) join explosion. The distributed shape is degree-ordered
    * ORIENTATION: each undirected edge becomes one directed edge from the
    * (deg, id)-smaller endpoint, so every wedge-join fan-out is bounded by
    * the max ORIENTED out-degree ≈ O(√m) regardless of hub degrees — the
    * standard trick that makes triangle counting shuffle-partitionable at
    * any scale. Each triangle is emitted exactly once (its vertices in
    * rank order) and fanned back to its three corners with one explode +
    * one hash aggregate. The (deg, id) rank rides a packed long with a
    * loud range guard (DedupCluster precedent).
    */
  def triangleCounts(s: SparkSession, dir: String): DataFrame = {
    val e = coEdgesHot(s, dir)
    // the CSR's degree column (undirected degree ≡ directed out-degree)
    val (deg, nVerts) = degrees(s, dir)
    // rank = deg·2³² + v: total order by (deg, id); guard both fields
    val rank = expr("""CASE WHEN v >= 0 AND v < 4294967296 AND deg < 2147483648
      THEN deg * 4294967296 + v
      ELSE raise_error(concat('graph_triangles: unpackable (deg, v)=(',
        CAST(deg AS STRING), ',', CAST(v AS STRING), ')')) END""")
    // the (deg, id) rank table is 16 B/vertex — size-adaptive: the
    // frozen vertex count routes it broadcast vs co-partitioned shuffle
    val rkT = Tables.hot(deg.select(col("v"), rank.as("rk")))
    val rk = routeState("graph_triangles.rank", rkT, nVerts)
    val oriented = e
      .join(rk.withColumnRenamed("v", "a").withColumnRenamed("rk", "ra"), "a")
      .join(rk.withColumnRenamed("v", "b").withColumnRenamed("rk", "rb"), "b")
      .select(
        when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("src"),
        when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("dst"),
        greatest(col("ra"), col("rb")).as("rdst"))
    // shuffle route: pin the oriented edges on the first probe key so
    // the adjacency join below reuses the layout instead of reshuffling
    val o = Tables.hot(
      if (willBroadcast(s, nVerts)) oriented
      else oriented.repartition(col("src")))
    // EDGE-ITERATOR closure: per-vertex oriented out-neighbor array
    // (bounded by the O(√m) oriented out-degree — guarded loudly),
    // then per edge (u, v) the triangles through it are exactly
    // N⁺(u) ∩ N⁺(v), computed as ONE codegen array_intersect per edge.
    // The wedge-join formulation this replaces shuffled all Σ C(d⁺,2)
    // wedge rows (35M at sf0.1, 390 CPU-s); here the only large rows
    // that move are the m edges with their two adjacency arrays, and
    // the intersect explode emits exactly |triangles| rows.
    val adj = o.groupBy(col("src").as("v"))
      .agg(array_sort(collect_list(col("dst"))).as("nbr"))
      .select(col("v"), expr("""CASE WHEN size(nbr) <= 65536 THEN nbr
        ELSE raise_error(concat('graph_triangles: oriented out-degree ',
          CAST(size(nbr) AS STRING),
          ' exceeds the adjacency-array bound')) END""").as("nbr"))
    // broadcast is right while the oriented adjacency table (n · d̄⁺
    // longs ≈ the edge set, compressed) fits executor memory; past the
    // bound routeState swaps it for a co-partitioned shuffle join on
    // the vertex key — same join shape, no broadcast. In broadcast
    // mode the explicit hint matters: without it the second join
    // shuffles every edge WITH its first adjacency array riding along.
    val (adjT, nAdj) = Tables.hotCount(adj)
    val adjB = routeState("graph_triangles.adj", adjT, nAdj)
    val tris = o
      .join(adjB.select(col("v").as("src"), col("nbr").as("nu")), Seq("src"))
      .join(adjB.select(col("v").as("dst"), col("nbr").as("nv")), Seq("dst"))
      .select(col("src").as("u"), col("dst").as("v1"),
        // sorted_intersect: zero-allocation two-pointer merge over the
        // sorted distinct adjacency arrays — element-identical to
        // array_intersect here, without its per-edge hash-set build
        explode(call_function("sorted_intersect",
          col("nu"), col("nv"))).as("v2"))
    tris.select(explode(array(col("u"), col("v1"), col("v2"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_tri"))
      .orderBy("part")
  }

  val triangleCountsSql: String = s"""
    WITH $coEdgesSql,
    deg AS (
      SELECT v, COUNT(*) AS deg FROM (
        SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs)
      GROUP BY v),
    rk AS MATERIALIZED (SELECT v, deg * 4294967296 + v AS rk FROM deg),
    oriented AS MATERIALIZED (
      SELECT CASE WHEN ra.rk < rb.rk THEN p.a ELSE p.b END AS src,
             CASE WHEN ra.rk < rb.rk THEN p.b ELSE p.a END AS dst,
             GREATEST(ra.rk, rb.rk) AS rdst
      FROM pairs p JOIN rk ra ON p.a = ra.v JOIN rk rb ON p.b = rb.v),
    tris AS (
      SELECT e1.src AS u, e1.dst AS v1, e2.dst AS v2
      FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src AND e1.rdst < e2.rdst
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
    SELECT part, COUNT(*) AS n_tri FROM (
      SELECT u AS part FROM tris UNION ALL
      SELECT v1 FROM tris UNION ALL SELECT v2 FROM tris)
    GROUP BY part ORDER BY part"""

  /** PageRank over the (undirected → both-direction) co-purchase graph:
    * 5 damped power iterations over the session-frozen CSR adjacency
    * (`prCsr`, one row per source vertex). Each round is ONE state
    * join on src (map-side under the routeState bound), ONE
    * contribution per source — pr/deg depends only on the source, so
    * it is computed before `explode(nbrs)`, not once per edge — and
    * one map-side-combined sum by dst, whose exchange carries at most
    * V partial rows per map task: no exchange ever carries edge rows
    * (GraphRuntimeReuseSpec). Every vertex has out-degree ≥ 1 by
    * construction (it is on an edge), so there is no dangling-mass
    * correction to smuggle in.
    * Determinism policy: contributions pr/deg are identical doubles in
    * both engines, quantized at 1e-15 and summed as plain LONGS (the
    * q_hll_sketch scaled-integer trick — order-proof AND codegen-fast;
    * the decimal-sum variant measured 3× the CPU). The sum overflows a
    * long only past in-degree ~9e3 (terms ≤ 1e15 each), so the
    * contribution carries a loud hub guard (a graph with such hubs
    * routes to a decimal-sum variant). Rank state chains LAZILY across
    * the fixed 5 rounds — each round's 1-row-per-vertex state is
    * consumed exactly once by the next round, so the whole iteration
    * is ONE query (the per-round localCheckpoint write/read it
    * replaced measured 31% of the CPU). Broadcasting the state is
    * right while |V| ≪ executor memory (rank state is 16 B/vertex);
    * past the bound the CSR is read BUCKETED on src (`bucketedAdj`)
    * and the state arrives hash-partitioned on the vertex key from its
    * own aggregate — same round structure, one narrow shuffle of the
    * STATE per round, never the adjacency. Output is rank relative to
    * uniform (rank·N, 6 dp) so the scale factor drops out.
    */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    val (csr, nVerts) = prCsr(s, dir)
    val adj = if (willBroadcast(s, nVerts)) csr else bucketedAdj(s, dir)
    val nv = nVerts.toDouble
    val deg = expr("""CASE WHEN deg < 9000 THEN deg
      ELSE raise_error(concat('graph_pagerank: hub degree ',
        CAST(deg AS STRING),
        ' overflows the scaled-integer contribution sum')) END""")
    var st = csr.select(col("src").as("v"), lit(1.0 / nv).as("pr"))
    for (_ <- 1 to 5) {
      val contrib = adj.join(routeState("graph_pagerank.state", st, nVerts),
          col("src") === col("v"))
        .select(col("nbrs"),
          // floor(x+0.5): the engine-unambiguous quantization (pure
          // IEEE mult/add/floor — qsum128's recipe); Spark's ROUND on
          // a double walks through BigDecimal per row
          floor(col("pr") / deg * lit(1e15) + lit(0.5)).cast("long").as("c"))
        .select(explode(col("nbrs")).as("dst"), col("c"))
      st = contrib.groupBy(col("dst").as("v"))
        .agg((sum(col("c")).cast("double") / lit(1e15)).as("sc"))
        .select(col("v"), (lit(0.15 / nv) + lit(0.85) * col("sc")).as("pr"))
    }
    st.select(col("v").as("part"), round(col("pr") * lit(nv), 6).as("r_rel"))
      .orderBy("part")
  }

  /** SESSION-FROZEN ARTIFACT, the co-purchase graph's one root: a CSR
    * adjacency (src, deg = size(nbrs), nbrs sorted distinct
    * array<long>), one row per vertex, and its vertex count. Built in
    * ONE aggregate from lineitem with the `coEdges` semantics: each
    * order's part set (the key filter drops the null-key group the
    * self-join never forms) explodes map-side to its pairs src ≠ dst,
    * one groupBy(src) folds them. The sort keeps the artifact and its
    * bucketed layout (`bucketedAdj`) deterministic. `dirEdges`,
    * `coEdgesHot` and `degrees` derive from it. */
  private[graft] def prCsr(s: SparkSession, dir: String): (DataFrame, Long) =
    graft.Artifacts.frozen(s, ("graph.prCsr", dir)) {
      val baskets = Tables.load(s, dir, "lineitem").filter(col("l_orderkey").isNotNull)
        .groupBy(col("l_orderkey")).agg(collect_set(col("l_partkey")).as("pks"))
        .filter(size(col("pks")) >= 2)
      val csr = graft.Artifacts.pin(baskets
        .select(explode(col("pks")).as("src"), col("pks"))
        .select(col("src"), explode(col("pks")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"))
        .agg(array_sort(collect_set(col("dst"))).as("nbrs"))
        .select(col("src"), size(col("nbrs")).as("deg"), col("nbrs")))
      (csr, csr.count())
    }

  /** SESSION-FROZEN ARTIFACT, shuffle route only: the CSR adjacency
    * (`prCsr`) materialized as a parquet table BUCKETED on the
    * state-probe key `src` (guide §6 file layout / §2.4 bucketed
    * tables persist a partitioning). Past the broadcast bound a
    * production graph service runs MANY queries against one frozen
    * graph; the bucketed scan reports HashPartitioning(src, n), so
    * every per-round state join moves NOTHING but the narrow state, in
    * every query of the session (GraphRuntimeReuseSpec asserts the
    * executed shuffle-route plan has no exchange on the adjacency
    * side). Bucket count is scale-adaptive: ~4M directed edges
    * (~100 MB) per bucket, floored at the session's parallelism so
    * local runs keep their task width. A disk artifact
    * (`Artifacts.table`) written once per (session, dir) and rewritten
    * when the pinned CSR it lays out is rebuilt — index state, not
    * query results (the bench never takes this route at local vertex
    * counts). */
  private def bucketedAdj(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frozen(s, ("graph.bucketedAdj", dir)) {
      val csr = prCsr(s, dir)._1
      // one cheap job over the pinned CSR blocks
      val edges = csr.agg(coalesce(sum(col("deg")), lit(0L))).first().getLong(0)
      val buckets = math.max(s.sparkContext.defaultParallelism.toLong,
        (edges + (4L << 20) - 1) / (4L << 20)).toInt
      graft.Artifacts.table("graft_pr_adj_", csr)(_.bucketBy(buckets, "src"))
    }

  /** The directed edges (both orientations), exploded from the CSR. */
  private[graft] def dirEdges(s: SparkSession, dir: String): DataFrame =
    prCsr(s, dir)._1.select(col("src"), explode(col("nbrs")).as("dst"))

  /** The CSR's directed-degree table (v, deg) and vertex count. */
  private[graft] def degrees(s: SparkSession, dir: String): (DataFrame, Long) = {
    val (csr, nVerts) = prCsr(s, dir)
    (csr.select(col("src").as("v"), col("deg").cast("long").as("deg")), nVerts)
  }

  val pageRankSql: String = {
    // every CTE here is referenced by each later iteration — all
    // MATERIALIZED or the unrolled plan re-derives the edge list per
    // round per reference (exponential in unroll depth; the
    // graph_kcore precedent, re-found by the 10x scale bench)
    def iter(k: Int): String = s"""
    it$k AS MATERIALIZED (
      SELECT g.v, g.deg,
             CAST(0.15 AS DOUBLE) / n.nv + CAST(0.85 AS DOUBLE) *
               (CAST(SUM(CAST(floor(p.pr / p.deg * 1e15 + 0.5) AS BIGINT))
                     AS DOUBLE) / 1e15)
               AS pr
      FROM dirE e JOIN it${k - 1} p ON e.src = p.v
      JOIN deg g ON e.dst = g.v, n
      GROUP BY g.v, g.deg, n.nv)"""
    s"""
    WITH $coEdgesSql,
    dirE AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b, a FROM pairs),
    deg AS MATERIALIZED (
      SELECT src AS v, COUNT(*) AS deg FROM dirE GROUP BY src),
    n AS MATERIALIZED (SELECT COUNT(*) AS nv FROM deg),
    it0 AS MATERIALIZED (
      SELECT v, deg, CAST(1.0 AS DOUBLE) / n.nv AS pr FROM deg, n),
    ${(1 to 5).map(iter).mkString(",")}
    SELECT it5.v AS part, ROUND(it5.pr * n.nv, 6) AS r_rel
    FROM it5, n ORDER BY part"""
  }

  /** Synchronous label-propagation COMMUNITIES over the co-purchase
    * graph (4 fixed rounds) — the community-detection member of the
    * structural family (product clusters, spam cliques) between
    * dedup_cluster's connected components (pure reachability) and
    * graph_pagerank's continuous scores: each round every vertex
    * adopts the most frequent label among its neighbors, ties to the
    * SMALLEST label — the Raghavan et al. 2007 rule made
    * deterministic. Synchronous sweeps with a fixed round count are
    * the cluster-friendly variant (no sequential visit order to
    * replay), and both engines unroll the identical 4 rounds, so the
    * gate certifies every intermediate labeling bit-exactly.
    *
    * Scale shape: the size-adaptive state routing over one adjacency
    * layout per route. Broadcast route: the directed edges exploded
    * from the frozen CSR, laid out IN-PLAN on the grouping key
    * dst (`repartition(dst)`) — the state join is free (build side
    * broadcasts), every round's label aggregate runs exchange-free on
    * the shared layout, and AQE stage reuse serves the one layout
    * exchange to all 4 rounds (guide §2.4 "two operations keyed the
    * same way share one exchange"). Unlike pagerank's sums, the
    * (dst, label) partials barely shrink, so the CSR explode measured
    * slower here. Shuffle route: pagerank's bucketed CSR
    * (`bucketedAdj`), exploded after the state join, so per-round
    * joins move only the state. Per round + TWO map-side-combined
    * hash aggregates — neighbor-label counts fold per (dst, label)
    * partial before the exchange, then the argmax rides ONE
    * packed-long max (cnt·2³² + (2³²−1−label): max picks highest
    * count, then lowest label — the bit-pack that keeps the aggregate
    * a HashAggregate where a struct max regresses to SortAggregate).
    * Labels are guarded < 2³² loudly; a count is at most a degree. */
  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val (degT, nVerts) = degrees(s, dir)
    val labGuard = expr("""CASE WHEN v >= 0 AND v < 4294967296 THEN v
      ELSE raise_error(concat('graph_communities: label ',
        CAST(v AS STRING), ' unpackable')) END""")
    // per round: the (dst, lab) pair of every directed edge
    val edgeLabels: DataFrame => DataFrame =
      if (willBroadcast(s, nVerts)) {
        val e = dirEdges(s, dir).repartition(col("dst"))
        st => e.join(st, col("src") === col("v"))
          .select(col("dst"), col("lab"))
      } else {
        val e = bucketedAdj(s, dir)
        st => e.join(st, col("src") === col("v"))
          .select(explode(col("nbrs")).as("dst"), col("lab"))
      }
    var st = Tables.hot(degT.select(col("v"), labGuard.as("lab")))
    for (_ <- 1 to 4) {
      val m = edgeLabels(routeState("graph_communities.state", st, nVerts))
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("dst"),
          (col("cnt") * lit(4294967296L) +
            (lit(4294967295L) - col("lab"))).as("m"))
      st = m.groupBy(col("dst").as("v"))
        .agg((lit(4294967295L) - max(col("m")) % lit(4294967296L))
          .as("lab"))
    }
    st.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("community")
  }
  val labelPropagationSql: String = {
    // unrolled rounds: each references the previous once but dirE
    // every round — all MATERIALIZED (the pagerank CTE rule)
    def iter(k: Int): String = s"""
    lp$k AS MATERIALIZED (
      SELECT v, CAST(4294967295 - (MAX(m) % 4294967296) AS BIGINT) AS lab
      FROM (SELECT e.dst AS v,
              COUNT(*) * 4294967296 + (4294967295 - p.lab) AS m
            FROM dirE e JOIN lp${k - 1} p ON e.src = p.v
            GROUP BY e.dst, p.lab)
      GROUP BY v)"""
    s"""
    WITH $coEdgesSql,
    dirE AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b, a FROM pairs),
    lp0 AS MATERIALIZED (
      SELECT DISTINCT src AS v, src AS lab FROM dirE),
    ${(1 to 4).map(iter).mkString(",")}
    SELECT lab AS community, COUNT(*) AS n_members
    FROM lp4 GROUP BY lab ORDER BY community"""
  }

  /** Edge EMBEDDEDNESS distribution — per edge the fraction of its
    * endpoints' other neighbors that are shared, |N(u)∩N(v)| /
    * (|N(u)|+|N(v)|−2−|N(u)∩N(v)|) — the tie-strength signal crawl
    * graphs use to separate organic links from spam farms (strong
    * ties embed in shared neighborhoods; link-farm edges don't).
    * Same machinery as graph_triangles: full sorted adjacency arrays
    * (loud degree bound), one codegen array_intersect per edge, then
    * ONE hash aggregate into decile buckets — the per-edge scores
    * never leave the executors.
    */
  def edgeOverlap(s: SparkSession, dir: String): DataFrame = {
    val e = coEdgesHot(s, dir)
    // the CSR IS the sorted distinct adjacency; size-adaptive: broadcast
    // under the vertex-state bound, co-partitioned shuffle join past it
    val (csr, nVerts) = prCsr(s, dir)
    val adj = routeState("graph_edge_overlap.adj", csr.select(
      col("src").as("v"), expr("""CASE WHEN deg <= 65536 THEN nbrs
        ELSE raise_error(concat('graph_edge_overlap: degree ',
          CAST(deg AS STRING),
          ' exceeds the adjacency-array bound')) END""").as("nbr")), nVerts)
    val scored = e
      .join(adj.select(col("v").as("a"), col("nbr").as("na")), Seq("a"))
      .join(adj.select(col("v").as("b"), col("nbr").as("nb")), Seq("b"))
      // sorted_common: |N(a) ∩ N(b)| as a zero-allocation two-pointer
      // merge count (the arrays are sorted distinct by construction) —
      // value-identical to size(array_intersect(...)), minus its
      // per-edge hash-set build AND the intersection materialization
      .select(call_function("sorted_common", col("na"), col("nb"))
          .cast("int").as("common"),
        (size(col("na")) + size(col("nb")) - 2).as("others"))
      .select(when(col("others") > col("common"),
        col("common").cast("double") / (col("others") - col("common")))
        .otherwise(lit(1.0)).as("ov"))
    scored
      .select(least(floor(col("ov") * 10).cast("int"), lit(9)).as("decile"),
        col("ov"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_edges"),
        round(sum(col("ov").cast(
          org.apache.spark.sql.types.DecimalType(38, 12))).cast("double")
          / count(lit(1)), 6).as("avg_overlap"))
      .orderBy("decile")
  }

  val edgeOverlapSql: String = s"""
    WITH $coEdgesSql,
    dirE AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b, a FROM pairs),
    adj AS (SELECT src AS v, list(dst ORDER BY dst) AS nbr
            FROM dirE GROUP BY src),
    scored AS (
      SELECT CASE WHEN (len(na.nbr) + len(nb.nbr) - 2) >
                       len(list_intersect(na.nbr, nb.nbr))
        THEN CAST(len(list_intersect(na.nbr, nb.nbr)) AS DOUBLE) /
             (len(na.nbr) + len(nb.nbr) - 2 -
              len(list_intersect(na.nbr, nb.nbr)))
        ELSE CAST(1.0 AS DOUBLE) END AS ov
      FROM pairs p JOIN adj na ON p.a = na.v JOIN adj nb ON p.b = nb.v)
    SELECT LEAST(CAST(floor(ov * 10) AS INT), 9) AS decile,
           COUNT(*) AS n_edges,
           ROUND(CAST(SUM(CAST(ov AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_overlap
    FROM scored GROUP BY 1 ORDER BY decile"""

  /** Market-basket association rules: support, confidence, and LIFT of
    * part co-purchases — the top-20 strongest associations with a
    * minimum-support floor. Everything is a ratio of INTEGER counts
    * (lift = c_ab·N / (n_a·n_b)), so no libm call enters the gate and
    * the ranking is bit-deterministic; ties break on the pair key.
    * Scale shape: ONE shuffle builds the per-order sorted distinct
    * basket (groupBy(ok) with map-side partial collect_set — bounded
    * by basket size, the coEdges contract, loud-guarded); the ordered
    * pair stream then generates MAP-SIDE from each basket and
    * partial-aggregates before its only exchange. The former shape
    * self-joined the distinct (ok, pk) table against itself — a
    * second full exchange of the table plus an uncombined pair
    * exchange. Count tables broadcast; top-k is TakeOrdered — the
    * pair space never sorts globally.
    */
  /** Per-basket pair cap: C(cap, 2) bounds the map-side fan-out of one
    * basket (~half a million pairs at 1000). A basket past it is a
    * data bug (TPC-H orders hold ≤7 parts; real carts are small) —
    * fail loudly instead of silently materializing a hub explosion. */
  val BasketCap = 1000

  def basketLift(s: SparkSession, dir: String): DataFrame = {
    // fanout FIRST: the parquet scan is one split locally and the
    // partial collect_set must not run single-threaded (CLAUDE.md rule)
    val baskets = Tables.hot(
      Tables.fanout(Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
        .groupBy("ok")
        .agg(array_sort(collect_set(col("pk"))).as("pks")))
    // sorted basket → ordered pairs (a < b) map-side via the native
    // pair_codes kernel, each BIT-PACKED into one long (a << 32 | b):
    // one compiled pass per basket (the HOF form ran interpreted with
    // a slice per anchor), LOUD guards inside the kernel (the
    // C(cap, 2) fan-out cap and the 2^31 pack range), and the pair
    // aggregate hashes a single primitive key (HashAggregate fast
    // path) with map-side partials
    val pairs = baskets
      .select(explode(call_function("pair_codes", col("pks"),
        lit(BasketCap))).as("code"))
      .groupBy("code")
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 2)
      .select(shiftright(col("code"), 32).as("a"),
        col("code").bitwiseAND(lit((1L << 32) - 1)).as("b"),
        col("c_ab"))
    // tot stays lazy: the two broadcast builds each re-run a cheap
    // explode+agg over the checkpointed baskets — cheaper than a
    // checkpoint job of their own
    val tot = broadcast(
      baskets.select(explode(col("pks")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("n")))
    val nOrders = broadcast(baskets.agg(count(lit(1)).as("n_orders")))
    pairs
      .join(tot.select(col("pk").as("a"), col("n").as("n_a")), Seq("a"))
      .join(tot.select(col("pk").as("b"), col("n").as("n_b")), Seq("b"))
      .crossJoin(nOrders)
      .select(col("a"), col("b"), col("c_ab"),
        (col("c_ab") * col("n_orders")).cast("double")
          ./((col("n_a") * col("n_b")).cast("double")).as("lift"),
        (col("c_ab").cast("double") / col("n_a")).as("conf_a_b"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(20)
      .select(col("a"), col("b"), col("c_ab"), round(col("lift"), 6).as("lift"),
        round(col("conf_a_b"), 6).as("conf_a_b"))
  }

  val basketLiftSql: String = """
    WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    pairs AS (
      SELECT l1.pk AS a, l2.pk AS b, COUNT(*) AS c_ab
      FROM po l1 JOIN po l2 ON l1.ok = l2.ok AND l1.pk < l2.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    tot AS (SELECT pk, COUNT(*) AS n FROM po GROUP BY 1),
    nn AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM po),
    scored AS (
      SELECT p.a, p.b, CAST(p.c_ab AS BIGINT) AS c_ab,
             CAST(p.c_ab * nn.n_orders AS DOUBLE)
               / CAST(ta.n * tb.n AS DOUBLE) AS lift,
             CAST(p.c_ab AS DOUBLE) / ta.n AS conf_a_b
      FROM pairs p
      JOIN tot ta ON p.a = ta.pk
      JOIN tot tb ON p.b = tb.pk, nn)
    SELECT a, b, c_ab, ROUND(lift, 6) AS lift, ROUND(conf_a_b, 6) AS conf_a_b
    FROM scored ORDER BY scored.lift DESC, a, b LIMIT 20"""

  /** Degree ASSORTATIVITY of the co-purchase graph: the Pearson
    * correlation of endpoint degrees over all directed edge stubs —
    * positive means hubs link to hubs (social-network shape), negative
    * means hubs link to leaves (hub-and-spoke/technological shape);
    * with triangles (clustering) and edge overlap (embeddedness) it
    * completes the standard structural profile. Each undirected edge
    * contributes both stub orientations (the textbook estimator, and
    * it makes the x/y moments symmetric by construction). Shapes: the
    * 16 B/vertex degree table broadcasts (the triangleCounts vertex-
    * state bound), two broadcast joins tag each edge, one aggregate
    * folds exact INTEGER power sums, r = one sqrt + one division.
    */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val e = coEdgesHot(s, dir)
    // the CSR's vertex count routes broadcast vs shuffle; both degree
    // joins reuse ONE exchange (identical child over the pinned CSR)
    val (degT, nv) = degrees(s, dir)
    val dk = routeState("graph_assortativity.deg", degT, nv)
    val stubs = e
      .join(dk.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(dk.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
      .select(col("da").as("x"), col("db").as("y"))
    val both = stubs.unionAll(stubs.select(col("y").as("x"), col("x").as("y")))
    both.agg(
        count(lit(1)).as("n_stubs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        (col("n_stubs") / 2).cast("long").as("n_edges"),
        round(col("sx").cast("double") / col("n_stubs"), 6).as("mean_deg"),
        when(col("n_stubs") * col("sxx") - col("sx") * col("sx") > 0,
          round(
            (col("n_stubs") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n_stubs") * col("sxx") - col("sx") * col("sx")).cast("double") *
                   (col("n_stubs") * col("syy") - col("sy") * col("sy")).cast("double")),
            6)).as("assortativity"))
  }

  val assortativitySql: String = s"""
    WITH $coEdgesSql,
    deg AS MATERIALIZED (
      SELECT v, COUNT(*) AS deg FROM (
        SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs) GROUP BY 1),
    stubs AS MATERIALIZED (
      SELECT d1.deg AS x, d2.deg AS y
      FROM pairs JOIN deg d1 ON d1.v = pairs.a JOIN deg d2 ON d2.v = pairs.b),
    st2 AS (
      SELECT x, y FROM stubs UNION ALL SELECT y AS x, x AS y FROM stubs),
    m AS (
      SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM st2)
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_deg,
           CASE WHEN n * sxx - sx * sx > 0
             THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                        / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 6) END
             AS assortativity
    FROM m"""

  /** k-core decomposition (the k=80 core) of the co-purchase graph by
    * ROUND-SYNCHRONOUS peeling: each round simultaneously deletes
    * every vertex whose current degree is < k, until a fixed point —
    * the standard cohesive-subgraph primitive (Seidman 1983; fraud
    * rings, community cores, graph sparsification). Simultaneous
    * deletion makes the rounds deterministic and order-free (unlike
    * sequential peeling), so the oracle replays the identical rounds
    * as an unrolled CTE chain.
    *
    * Scale shape: each round is one map-side-combined degree aggregate
    * plus two left-semi joins against the surviving-vertex set —
    * BROADCAST under the routeState vertex-state bound, co-partitioned
    * shuffle semi joins past it (same shape, routed per round off the
    * survivor count). `Tables.hotCount` folds the fixed-point check into the
    * round's checkpoint job. Round count is data-dependent and capped
    * LOUDLY at `maxRounds` (= the oracle's unroll depth, so the two
    * engines cannot silently diverge on a slow-converging graph);
    * peeling converges in a handful of rounds on real degree
    * distributions. Emits the surviving vertices with their in-core
    * degrees. */
  def graphKcore(s: SparkSession, dir: String, k: Int = 80,
                 maxRounds: Int = KcoreUnroll): DataFrame = {
    // the EDGE table is static and hot ONCE; only the tiny surviving
    // VERTEX set iterates (broadcast per round, the graph_triangles
    // vertex-state memory bound). Rewriting + checkpointing the edge
    // set per round cost 7 full-edge materializations (measured 84 →
    // 57 CPU-s at sf0.1); recomputing full degrees per round (2m-row
    // union + hash aggregate + two keep-set semi joins, every round)
    // cost another ~20 — this DELTA-PEELING shape carries the live
    // (v, deg) state across rounds and subtracts, per round, only the
    // edges incident to THAT round's removed set: deg over the live
    // subgraph after removing R equals deg_prev(v) − |{(v,u) ∈ E :
    // u ∈ R}| for every survivor v, because each such static edge was
    // live in the previous round (both endpoints were) and edges to
    // earlier-removed vertices were already subtracted in their own
    // round. Each round is one scan of the hot edge table with two
    // tiny routed probes (R is small after round 1) + vertex-sized
    // aggregates — the 2m-row degree recompute disappears.
    val e = coEdgesHot(s, dir)
    // round-0 degrees: the CSR's (undirected ≡ directed out-) degrees
    val (deg0, nVerts) = degrees(s, dir)
    var d = deg0            // (v, deg): live vertices, live-subgraph degrees
    var cnt = nVerts
    var prev = -1L
    var rounds = 0
    while (cnt != prev && rounds < maxRounds) {
      prev = cnt
      // this round's simultaneous-removal set and its per-survivor
      // degree delta; routing is size-adaptive off the live count
      // (an upper bound for both R and the touched-neighbor set)
      val rA = routeState("graph_kcore.removed",
        d.filter(col("deg") < k).select(col("v").as("a"), lit(1).as("ra")),
        cnt)
      val rB = routeState("graph_kcore.removed",
        d.filter(col("deg") < k).select(col("v").as("b"), lit(1).as("rb")),
        cnt)
      val delta = e.join(rA, Seq("a"), "left").join(rB, Seq("b"), "left")
        .select(when(col("ra").isNotNull && col("rb").isNull, col("b"))
          .when(col("rb").isNotNull && col("ra").isNull, col("a"))
          .as("v"))
        .filter(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as("dl"))
      val (d2, c2) = Tables.hotCount(
        d.filter(col("deg") >= k)
          .join(routeState("graph_kcore.delta", delta, cnt),
            Seq("v"), "left")
          .select(col("v"),
            (col("deg") - coalesce(col("dl"), lit(0L))).as("deg")))
      d = d2
      cnt = c2
      rounds += 1
    }
    require(cnt == prev,
      s"graph_kcore: still peeling after $rounds rounds — raise maxRounds " +
        "(and the oracle unroll) for this graph")
    // final pass: recompute the surviving degrees FROM THE EDGES (one
    // full pass, once — not per round). Provably equal to the carried
    // state; keeps the returned plan carrying the routed semi joins
    // the audits pin, and re-derives the answer from the edge table
    // rather than trusting the iterated arithmetic.
    val keep = d.select("v")
    val live = e
      .join(routeState("graph_kcore.keep", keep, cnt)
        .withColumnRenamed("v", "a"), Seq("a"), "left_semi")
      .join(routeState("graph_kcore.keep", keep, cnt)
        .withColumnRenamed("v", "b"), Seq("b"), "left_semi")
    live.select(col("a").as("v")).unionAll(live.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .orderBy("v")
  }

  private val KcoreUnroll = 12

  // each round CTE is referenced more than once downstream — without
  // MATERIALIZED DuckDB inlines the chain and the plan (and the open
  // file handles on the base scan) grow exponentially in the unroll
  private def kcoreRoundSql(i: Int, k: Int): String = s"""
    d$i AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM (
              SELECT a AS v FROM e$i UNION ALL SELECT b FROM e$i)
            GROUP BY v),
    k$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= $k),
    e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
                  WHERE a IN (SELECT v FROM k$i)
                    AND b IN (SELECT v FROM k$i))"""

  val graphKcoreSql: String = s"""
    WITH ${coEdgesSql.trim},
    e0 AS MATERIALIZED (SELECT a, b FROM pairs),
    ${(0 until KcoreUnroll).map(kcoreRoundSql(_, 80)).mkString(",")}
    SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      SELECT a AS v FROM e$KcoreUnroll
      UNION ALL SELECT b FROM e$KcoreUnroll)
    GROUP BY v ORDER BY v"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("graph_kcore", (s, d) => graphKcore(s, d), Some(graphKcoreSql)),
    QueryDef("q_hier_rollup", hierRollup, Some(hierRollupSql)),
    QueryDef("q_hier_rollup_edges", hierRollupEdges, Some(hierRollupEdgesSql)),
    QueryDef("graph_assortativity", assortativity, Some(assortativitySql)),
    QueryDef("q_transitive", transitiveDepth, Some(transitiveDepthSql)),
    QueryDef("graph_triangles", triangleCounts, Some(triangleCountsSql)),
    QueryDef("graph_pagerank", pageRank, Some(pageRankSql)),
    QueryDef("graph_communities", labelPropagation,
      Some(labelPropagationSql)),
    QueryDef("graph_edge_overlap", edgeOverlap, Some(edgeOverlapSql)),
    QueryDef("q_basket_lift", basketLift, Some(basketLiftSql)))
}
