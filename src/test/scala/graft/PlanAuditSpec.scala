package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.SparkPlan

/** Machine-checked plan audit — the §4 scale claims as assertions
  * instead of prose. These run against the INITIAL physical plan
  * (pre-AQE), which is exactly what ships to a 1000-executor cluster:
  * if a filter isn't pushed or a dim isn't broadcast here, AQE may or
  * may not rescue it at runtime, and the audit should fail rather
  * than hope.
  *
  * The cartesian sweep covers every registered query whose plan can
  * be BUILT lazily (a few operators run driver-coordinated rounds at
  * build time — iterative label propagation, guarded counts — and are
  * exercised by their own specs instead).
  */
class PlanAuditSpec extends SparkSpec {

  /** Build the query's physical plan with AQE off — the static plan
    * the optimizer commits to before runtime stats exist. */
  private def initialPlan(name: String): SparkPlan = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
    } finally spark.conf.set(key, prev)
  }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(collectAll)) ++ p.subqueries.flatMap(collectAll)

  test("q6 pushes its filters and prunes its columns at the scan") {
    val scans = collectAll(initialPlan("q6_filter_agg"))
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val li = scans.find(_.metadata("Location").contains("lineitem")).get
    assert(li.metadata("PushedFilters") != "[]",
      "lineitem scan must carry pushed filters")
    // projection reaches the reader: only the columns q6 touches
    assert(li.schema.fieldNames.length <= 5,
      s"q6 reads ${li.schema.fieldNames.mkString(",")} — expected a pruned scan")
  }

  test("join-heavy relational queries broadcast their dims") {
    for (q <- Seq("q3_join_topn", "q5_multijoin", "q9_profit",
        "q14_promo_share", "corpus_mix")) {
      val bhj = collectAll(initialPlan(q))
        .collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"$q: expected at least one broadcast hash join")
    }
  }

  test("q1 aggregates map-side before the exchange") {
    val plan = initialPlan("q1_agg")
    val nodes = collectAll(plan)
    // one hash exchange for the aggregation (the deterministic ORDER BY
    // adds a range exchange on top — presentation, not aggregation work)
    val exchanges = nodes.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(exchanges.length === 1, "q1 is a single-shuffle aggregation")
    // partial aggregate lives BELOW the exchange (map-side combine)
    val belowExchange = collectAll(exchanges.head.child)
    assert(belowExchange.exists(_.nodeName.contains("HashAggregate")),
      "partial HashAggregate must sit under the shuffle")
  }

  test("round-6 operators keep their scale shapes") {
    // sample_reservoir + q_percent_rank: every window/agg exchange must
    // be hash-partitioned — a SinglePartition exchange would mean a
    // global sort bottleneck hiding in the plan
    for (q <- Seq("sample_reservoir", "q_percent_rank",
        "dedup_keep_best", "text_hash_split")) {
      val singles = collectAll(initialPlan(q)).collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("SinglePartition") => e
      }
      assert(singles.isEmpty,
        s"$q: SinglePartition exchange in the computation plan")
    }
    // the events argmax family (decimal-packed version order): a bare
    // struct max would regress these to SortAggregate, which map-side
    // sorts every scan partition — they must stay hash-based
    for (q <- Seq("q_cdc_compact", "q_snapshot_diff", "q_cdc_delete")) {
      val nodes = collectAll(initialPlan(q))
      assert(!nodes.exists(_.nodeName.contains("SortAggregate")),
        s"$q: version argmax regressed to sort-based aggregation")
      assert(!nodes.exists(_.nodeName.contains("Window")),
        s"$q: latest-state compaction must not use a window")
    }
    // dedup_keep_best: the argmax is ONE hash-based aggregation with a
    // map-side partial below its exchange — never a window, never a
    // SortAggregate (max over bare structs would regress to one)
    val kb = collectAll(initialPlan("dedup_keep_best"))
    assert(!kb.exists(_.nodeName.contains("Window")),
      "dedup_keep_best must not use a window")
    assert(!kb.exists(_.nodeName.contains("SortAggregate")),
      "dedup_keep_best regressed to sort-based aggregation")
    val kbEx = kb.collect { case e: ShuffleExchangeExec => e }
    assert(kbEx.count(
        _.outputPartitioning.toString.contains("hashpartitioning")) == 1,
      "dedup_keep_best is a single-shuffle argmax")
    assert(kbEx.forall(
        !_.outputPartitioning.toString.contains("RoundRobin")),
      "pure aggregation must not pre-shuffle its input")
    val hashAgg = kbEx.find(
      _.outputPartitioning.toString.contains("hashpartitioning")).get
    assert(collectAll(hashAgg.child)
      .exists(_.nodeName.contains("HashAggregate")),
      "partial (Object)HashAggregate must sit under the shuffle")
  }

  test("round-6b operators keep their scale shapes") {
    // q_incr_agg: partial-state build + merge = exactly two hash
    // aggregations, never a sort-based one, never a window
    val ia = collectAll(initialPlan("q_incr_agg"))
    assert(!ia.exists(_.nodeName.contains("SortAggregate")) &&
      !ia.exists(_.nodeName.contains("Window")),
      "q_incr_agg: state merge must stay hash-aggregate only")
    assert(ia.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }.length == 2, "q_incr_agg: build + merge = two hash exchanges")

    // q_bloom_join: both digest prefilters are broadcast left-semi
    // hash joins sitting on the fact side BEFORE the equi-join
    val bj = collectAll(initialPlan("q_bloom_join"))
    val semis = bj.collect {
      case j: BroadcastHashJoinExec if j.joinType.toString == "LeftSemi" => j
    }
    assert(semis.length >= 2,
      "q_bloom_join: expected two broadcast left-semi digest prefilters")

    // q_profile: the stack lowers to one row-generating node (Generate)
    // — profiling five columns must not scan the table five times
    val pr = collectAll(initialPlan("q_profile"))
    assert(pr.exists(p => p.nodeName.contains("Generate") ||
        p.nodeName.contains("Expand")) &&
      pr.collect { case s: FileSourceScanExec => s }.length == 1,
      "q_profile: five columns profile from a single scan")

    // text_unigram_lp: the vocab join must be a SHUFFLED hash join —
    // a broadcast there dies at web scale (unbounded rare-token tail)
    val lp = collectAll(initialPlan("text_unigram_lp"))
    assert(lp.exists(_.nodeName.contains("ShuffledHashJoin")),
      "text_unigram_lp: vocab join must be a shuffled hash join")
    assert(!lp.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "text_unigram_lp: vocab must not be broadcast")
  }

  test("round-7 operators keep their scale shapes") {
    // geo_bearing / geo_idw: the compact points scan is fanned out
    // BEFORE the broadcast join — without the RoundRobin exchange the
    // 15M-pair nested-loop join plus its partial aggregate run on the
    // single scan partition (the CLAUDE.md "fanout FIRST" gotcha,
    // measured as the suite's worst wall-min in round 6)
    for (q <- Seq("geo_bearing", "geo_idw")) {
      val nodes = collectAll(initialPlan(q))
      assert(nodes.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("RoundRobin") => e
      }.nonEmpty,
        s"$q: points must be fanned out before the broadcast join")
      assert(!nodes.exists(_.nodeName.contains("SortAggregate")),
        s"$q: packed argmin/weight aggregation must stay hash-based")
    }
    // text_dup_coverage: the first-occurrence table joins back on the
    // shingle hash — the vocabulary is unbounded at web scale, so a
    // broadcast there dies exactly like text_unigram_lp's vocab join
    val dc = collectAll(initialPlan("text_dup_coverage"))
    assert(dc.exists(_.nodeName.contains("ShuffledHashJoin")),
      "text_dup_coverage: first-occurrence join must be a shuffled hash join")
    assert(!dc.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "text_dup_coverage: shingle vocabulary must not be broadcast")
    // q_funnel_window: the two chained running-max windows and the
    // per-user aggregate all share ONE user-hash exchange — a second
    // exchange or a second sort would mean the windows didn't compose
    val fw = collectAll(initialPlan("q_funnel_window"))
    val fwHash = fw.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(fwHash.length == 1,
      s"q_funnel_window: expected one user-hash exchange, got ${fwHash.length}")
    // the WINDOW sort orders by (user_id, ts_us, event_id); the final
    // presentation orderBy("user_id") is a separate single-column sort
    // over the range exchange and doesn't count against the pin
    val fwWindowSorts = fw.collect {
      case s: org.apache.spark.sql.execution.SortExec
          if s.sortOrder.length > 1 => s
    }
    assert(fwWindowSorts.length <= 1,
      "q_funnel_window: both windows must share one sort")
  }

  test("round-7b operators keep their scale shapes") {
    // dedup_paragraphs: the canonical-first-occurrence argmin rides a
    // packed primitive long — a struct/string min would regress the
    // hash aggregate to SortAggregate (the dedup_keep_best trap)
    val dp = collectAll(initialPlan("dedup_paragraphs"))
    assert(!dp.exists(_.nodeName.contains("SortAggregate")),
      "dedup_paragraphs: canonical argmin must stay a hash aggregate")
    // q_interval_sweep: the running sum must be the BUCKETED local
    // window (partition (event_type, bk), order (t, d, event_id) → a
    // 5-column sort), never one serial global window per type (which
    // would show up as a 4-column sort: type + t + d + event_id)
    val sw = collectAll(initialPlan("q_interval_sweep"))
    val swSorts = sw.collect {
      case s: org.apache.spark.sql.execution.SortExec => s.sortOrder.length
    }
    assert(swSorts.contains(5),
      s"q_interval_sweep: bucketed (type, day) window sort missing — sorts: $swSorts")
    // dedup_containment: both the candidate prefilter count and the
    // array_intersect verification are hash aggregates / hash joins —
    // no sort-based fallback, no nested-loop pair generation
    val ct = collectAll(initialPlan("dedup_containment"))
    assert(!ct.exists(_.nodeName.contains("SortAggregate")),
      "dedup_containment: aggregates must stay hash-based")
    assert(!ct.exists(_.nodeName.contains("BroadcastNestedLoop")),
      "dedup_containment: no nested-loop pair generation")
    // text_bpe_encode: the merged vocabulary joins back by SHUFFLE —
    // a real corpus vocabulary is unbounded (text_unigram_lp rule)
    val be = collectAll(initialPlan("text_bpe_encode"))
    assert(be.exists(_.nodeName.contains("ShuffledHashJoin")),
      "text_bpe_encode: vocab join must be a shuffled hash join")
    assert(!be.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "text_bpe_encode: vocab must not be broadcast")
    // graph_triangles: wedge + closing-edge joins are equi-joins on the
    // oriented edge keys — never a nested-loop over the edge set
    val gt = collectAll(initialPlan("graph_triangles"))
    assert(!gt.exists(_.nodeName.contains("BroadcastNestedLoop")),
      "graph_triangles: wedge/closing joins must be equi-joins")
  }

  test("round-8 operators keep their scale shapes") {
    // unbounded-key join-backs must SHUFFLE, never broadcast: the
    // fingerprint/group/chunk vocabularies all grow with the corpus
    // (the text_unigram_lp rule, pinned per operator)
    for ((q, what, smallSideJoins) <- Seq(
        // text_winnow's per-source summary join (20 rows a side) may
        // legitimately broadcast; the fingerprint join must not
        ("text_winnow", "fingerprint-count join", 1),
        ("dedup_soft", "group-size join", 0),
        ("chunk_cdc", "chunk-count join", 0))) {
      val nodes = collectAll(initialPlan(q))
      assert(nodes.exists(_.nodeName.contains("ShuffledHashJoin")),
        s"$q: $what must be a shuffled hash join")
      assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) <= smallSideJoins,
        s"$q: $what must not be broadcast")
    }
    // q_cms_freq: the 4x explode runs AFTER a fanout exchange — on the
    // raw single-split scan the whole sketch build would serialize
    val cms = collectAll(initialPlan("q_cms_freq"))
    assert(cms.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("RoundRobin") => e
    }.nonEmpty, "q_cms_freq: items must be fanned out before the explode")
    // q_attribution: both carried-touch columns ride ONE window node
    // over one user-hash exchange — a second window or exchange means
    // the last_value pair didn't compose
    val at = collectAll(initialPlan("q_attribution"))
    assert(at.count(_.nodeName.contains("Window")) == 1,
      "q_attribution: both last_value columns must share one window")
    val atHash = at.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(atHash.length <= 2, // window exchange + final touch aggregate
      s"q_attribution: unexpected extra exchanges (${atHash.length})")
    // events_pipeline: the fused fluent chain (sessions + attribution
    // + user summary) rides ONE user-hash exchange — the windows chain
    // over a single sort and the final aggregate reuses the
    // partitioning; a second hash exchange means the fusion broke
    val ep = collectAll(initialPlan("events_pipeline"))
    val epHash = ep.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(epHash.length == 1,
      s"events_pipeline: expected one user-hash exchange, got ${epHash.length}")
    // sketch/argmin aggregates stay hash-based (no Sort regression)
    for (q <- Seq("q_kmv_overlap", "q_cusum", "q_trend_ols")) {
      assert(!collectAll(initialPlan(q))
        .exists(_.nodeName.contains("SortAggregate")),
        s"$q: aggregates must stay hash-based")
    }
  }

  test("round-9 operators keep their scale shapes") {
    // q_fuzzy_match: the blocking self-join runs through
    // SkewJoin.saltedSelfPairs — the replica side explodes
    // sequence(0, _nsalt-1) (a Generate node, absent from the old
    // plain equi-join plan), so one hot block ("samsung …", "the …")
    // cannot pin its m² pair generation on a single reducer
    val fz = collectAll(initialPlan("q_fuzzy_match"))
    assert(fz.exists(_.nodeName.contains("Generate")),
      "q_fuzzy_match: salt-replica explode missing — blocking join is unsalted")
    assert(!fz.exists(_.nodeName.contains("BroadcastNestedLoop")) &&
      !fz.exists(_.isInstanceOf[CartesianProductExec]),
      "q_fuzzy_match: pair generation must stay an equi-join")
    // q_sequence_match_nfa: the compiled state-machine twin rides ONE
    // user-hash exchange — the running-maxima window and the per-user
    // aggregate share the partitioning, and there is no journey-string
    // collect_list anywhere in the plan
    val nf = collectAll(initialPlan("q_sequence_match_nfa"))
    val nfHash = nf.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(nfHash.length == 1,
      s"q_sequence_match_nfa: expected one user-hash exchange, got ${nfHash.length}")
    assert(nf.count(_.nodeName.contains("Window")) == 1,
      "q_sequence_match_nfa: both running maxima must share one window")
    assert(!nf.exists(_.toString.contains("collect_list")),
      "q_sequence_match_nfa: no journey-string render in the scale-safe twin")
    // q_kmv_overlap: the headline sketch op is now SKETCH-ONLY — the
    // exact-intersection user-key self-join (a shuffle join over every
    // distinct (type, user) row) moved to the guarded calibration twin,
    // so the 2 KB-state op's plan has no shuffle join at all
    val kv = collectAll(initialPlan("q_kmv_overlap"))
    assert(!kv.exists(_.nodeName.contains("SortMergeJoin")) &&
      !kv.exists(_.nodeName.contains("ShuffledHashJoin")),
      "q_kmv_overlap: sketch-only plan must carry no shuffle join")
    // events_pipeline_full: the widened fluent chain (sessions +
    // attribution + funnel + retention + summary) STILL rides one
    // user-hash exchange — the funnel maxima and the first-seen frame
    // chain onto the shared sort, and the collect_set day counter
    // avoids the Expand-based distinct plan's second exchange
    val epf = collectAll(initialPlan("events_pipeline_full"))
    val epfHash = epf.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(epfHash.length == 1,
      s"events_pipeline_full: expected one user-hash exchange, got ${epfHash.length}")
    assert(!epf.exists(_.nodeName.contains("Expand")),
      "events_pipeline_full: distinct-day count must not take the Expand plan")
  }

  test("round-10 operators keep their scale shapes") {
    // dedup_substrings: windows are keyed by the native rolling hash —
    // the w-token window STRING is never materialized (no slice+concat
    // tree; the naive form hashes 50× the corpus text), and exactly
    // one per-doc window computes coverage + span merge
    def hasExpr(ns: Seq[SparkPlan], p: org.apache.spark.sql.catalyst
        .expressions.Expression => Boolean) =
      ns.exists(_.expressions.exists(_.find(p).isDefined))
    // the window-keying stage (pre-checkpoint — the final plan reads
    // the checkpointed blocks): native rolling hash, no slice+concat
    // window-string materialization anywhere
    val dw = collectAll(ops.Corpus.substringWindows(
      graft.Tables.load(spark, sfDir, "documents"), 50)
      .queryExecution.executedPlan)
    assert(hasExpr(dw, _.isInstanceOf[graft.functions.RollingHashWindows]),
      "dedup_substrings: native rolling-hash keying missing")
    assert(!hasExpr(dw, e => e.prettyName == "slice"),
      "dedup_substrings: window strings are being materialized")
    // round 16: the coverage tail is the per-doc fold — no window,
    // no token posexplode (the only Generate in the final plan would
    // be window keying, which sits behind the checkpoint)
    val dsAll = collectAll(initialPlan("dedup_substrings"))
    assert(dsAll.count(_.nodeName.contains("Window")) == 0,
      "dedup_substrings: the coverage window is back — the per-doc " +
        "fold shape is gone")
    assert(!dsAll.exists(_.nodeName.contains("Generate")),
      "dedup_substrings: a token explode appeared in the final plan")
    // text_winnow (round 16): the whole per-doc fingerprint chain is
    // ONE native winnow_fp kernel — no interpreted md5-conv transform
    // per gram, no slice-allocating window-min lambda (pinned on the
    // pre-checkpoint stage; the registered query reads the hot blocks)
    val wf = collectAll(ops.TextDedup.winnowFp(
      graft.Tables.load(spark, sfDir, "documents"))
      .queryExecution.executedPlan)
    assert(hasExpr(wf, _.isInstanceOf[graft.functions.WinnowFp]),
      "text_winnow: native winnow_fp kernel missing")
    assert(!hasExpr(wf, e => e.prettyName == "slice" ||
        e.prettyName == "transform"),
      "text_winnow: the interpreted HOF fingerprint chain is back")
    // pack_sequences: the sequential FFD runs INSIDE one expression
    // per (source, bucket) group — no per-item plan loop, no window
    val psAll = collectAll(initialPlan("pack_sequences"))
    assert(psAll.exists(_.expressions.exists(
        _.find(_.isInstanceOf[graft.functions.FfdBins]).isDefined)),
      "pack_sequences: ffd_bins aggregate-side evaluation missing")
    assert(!psAll.exists(_.nodeName.contains("Window")),
      "pack_sequences: packing must not plan a window")
    // text_bpe_bytes: the corpus-sized encode join stays OFF broadcast
    // (vocabulary is unbounded at web scale — text_unigram_lp rule)
    val bb = collectAll(initialPlan("text_bpe_bytes"))
    assert(bb.exists(_.nodeName.contains("ShuffledHashJoin")),
      "text_bpe_bytes: encode join must be a shuffled hash join")
  }

  test("round-11 operators keep their scale shapes") {
    def hasExpr(ns: Seq[SparkPlan], p: org.apache.spark.sql.catalyst
        .expressions.Expression => Boolean) =
      ns.exists(_.expressions.exists(_.find(p).isDefined))
    // text_bm25: top-k is a bounded TakeOrderedAndProject, never a
    // global sort; df/corpus stats ride broadcasts
    val bm = collectAll(initialPlan("text_bm25"))
    assert(bm.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "text_bm25: top-k must be TakeOrderedAndProject")
    assert(!bm.exists(n => n.nodeName == "SortExec" &&
        n.asInstanceOf[org.apache.spark.sql.execution.SortExec].global),
      "text_bm25: no global sort allowed")
    // rank_fusion: both lists cut by TakeOrdered BEFORE the windows —
    // the single-partition row_numbers only ever see `depth` rows
    val rf = collectAll(initialPlan("rank_fusion"))
    assert(rf.count(_.nodeName.contains("TakeOrderedAndProject")) >= 2,
      "rank_fusion: both lists must cut through TakeOrderedAndProject")
    // mm_align: the dot product is the native qsum128 aggregate
    assert(hasExpr(collectAll(initialPlan("mm_align")),
      _.isInstanceOf[graft.functions.QSum128]),
      "mm_align: qsum128 aggregate missing from the plan")
    // dedup_bloom: the bit-position probe joins against a BROADCAST
    // (the whole point — the filter side is ≤ m rows at any scale)
    val bl = collectAll(initialPlan("dedup_bloom"))
    assert(bl.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "dedup_bloom: bit probe must be a broadcast join")
    // embed_pca: the centered table is computed pre-loop and the
    // per-round sums are qsum128 (no BigDecimal decimal(38,12) sums
    // in the n-row hot path) — pin on the converged final pass
    assert(hasExpr(collectAll(initialPlan("embed_pca")),
      _.isInstanceOf[graft.functions.QSum128]),
      "embed_pca: quantized 128-bit sums missing from the hot path")
    // corpus_cluster_topics: the ranking window partitions on the
    // cell key — never a global (empty-partition) window
    val ct = collectAll(initialPlan("corpus_cluster_topics"))
    val win = ct.filter(_.nodeName.contains("Window"))
    assert(win.nonEmpty && win.forall(_.toString.contains("cent_id")),
      "corpus_cluster_topics: ranking window must partition by cent_id")
  }

  test("round-14 operators keep their scale shapes") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // q_basket_lift: per-order MAP-SIDE pair generation — the native
    // pair_codes kernel feeds the pair aggregate; the old po⋈po
    // self-join shape (a sort-merge join of the distinct table against
    // itself) must never come back
    val bl = collectAll(initialPlan("q_basket_lift"))
    assert(bl.exists(_.expressions.exists(
      _.find(_.isInstanceOf[graft.functions.PairCodes]).isDefined)),
      "q_basket_lift: pair_codes kernel missing from the plan")
    assert(!bl.exists(_.isInstanceOf[SortMergeJoinExec]),
      "q_basket_lift: a sort-merge join appeared — the self-join is back")

    // q_profile: two-level — level 1 is a pure-count HashAggregate
    // over (col_name, v); only the deduped value table pays the
    // min/max(string) SortAggregate (partial+final = 2). The single-
    // shot shape planned FOUR full-stream string sorts.
    val qp = collectAll(initialPlan("q_profile"))
    assert(qp.count(_.isInstanceOf[HashAggregateExec]) >= 2,
      "q_profile: the level-1 count must hash-aggregate")
    val sortAggs = qp.count(_.isInstanceOf[SortAggregateExec])
    assert(sortAggs <= 2,
      s"q_profile: $sortAggs SortAggregates — the 4-sort single-shot " +
        "shape is back")

    // embed_mrl: the three per-criterion argmaxes ride ONE aggregate —
    // no per-criterion window sorts of the pair stream
    val mrl = collectAll(initialPlan("embed_mrl"))
    assert(!mrl.exists(_.isInstanceOf[WindowExec]),
      "embed_mrl: window sorts are back — argmax must be one aggregate")

    // text_bigram_lp: native word_ngrams feeds the fold; the two count
    // tables are window sums over the compact table (exactly two
    // windows), no join-backs of corpus-sized count tables
    val bg = collectAll(initialPlan("text_bigram_lp"))
    assert(bg.exists(_.expressions.exists(
      _.find(_.isInstanceOf[graft.functions.WordNgrams]).isDefined)),
      "text_bigram_lp: word_ngrams kernel missing from the plan")
    assert(bg.count(_.isInstanceOf[WindowExec]) == 2,
      "text_bigram_lp: expected exactly the c12/c1 window pair")
  }

  test("round-15 operators keep their scale shapes") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    // text_langid_stat: the PIVOTED profile probes in ONE broadcast
    // join (one row per (doc, gram)); the old long-profile shape had
    // the 5x fan-out join plus docG/langTot/perLang join-backs — any
    // second join or a window sort means the fan-out came back
    val ls = collectAll(initialPlan("text_langid_stat"))
    val joins = ls.count(p => p.isInstanceOf[BroadcastHashJoinExec] ||
      p.isInstanceOf[SortMergeJoinExec] ||
      p.isInstanceOf[ShuffledHashJoinExec])
    assert(joins == 1,
      s"text_langid_stat: $joins joins — the pivoted profile needs " +
        "exactly the one probe join")
    assert(!ls.exists(_.isInstanceOf[WindowExec]),
      "text_langid_stat: a window sort appeared")

    // corpus_epochs: one aggregation to |sources| rows + the 2-value
    // broadcast — the corpus is touched exactly once (one scan)
    val ce = collectAll(initialPlan("corpus_epochs"))
    val scans = ce.count(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec] ||
        p.nodeName.contains("Scan ExistingRDD"))
    assert(scans <= 2, // corpus scan + its broadcast-total rescan
      s"corpus_epochs: $scans scans — the schedule must not re-walk " +
        "the corpus per output column")
  }

  test("round-16 operators keep their scale shapes") {
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    // q21_sole_late: SHUFFLE_HASH join whose l_orderkey exchange is
    // REUSED by both aggregation levels — exactly 2 full-data hash
    // exchanges (one per scan side) + the tiny final per-supplier one,
    // and no sort-merge join (the 10× regression shape: SMJ + two more
    // aggregate exchanges)
    val q21 = collectAll(initialPlan("q21_sole_late"))
    assert(q21.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "q21: the orders join must be a shuffled hash join")
    assert(!q21.exists(_.isInstanceOf[SortMergeJoinExec]),
      "q21: a sort-merge join appeared")
    val q21ex = q21.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(q21ex.length == 3,
      s"q21: ${q21ex.length} hash exchanges — the aggregation levels " +
        "must reuse the join's l_orderkey partitioning")

    // geo_nearest_year: the points side must fan out BEFORE the pair
    // explosion (the 10× scale bench caught it running on ONE task:
    // 88 s wall ≈ 95 s CPU) — a round-robin exchange under the join
    val ny = collectAll(initialPlan("geo_nearest_year"))
    val nyJoin = ny.find(p => p.nodeName.contains("Join")).get
    assert(collectAll(nyJoin).exists {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.toString.contains("RoundRobinPartitioning")
      case _ => false
    }, "geo_nearest_year: points must fan out below the pair join")

    // pack_mixture: ONE map-side-combined hash aggregate over the
    // instance explode — partial agg under the single exchange, no
    // window, no sort-merge join anywhere
    val pm = collectAll(initialPlan("pack_mixture"))
    assert(!pm.exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !pm.exists(_.nodeName.contains("Window")),
      "pack_mixture: schedule must broadcast and slices must aggregate")
    val pmEx = pm.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    // exactly 2: the per-source schedule rollup (to |sources| rows)
    // and the (slice, source) audit aggregate — both map-side combined
    assert(pmEx.length == 2 &&
      pmEx.forall(e =>
        collectAll(e.child).exists(_.nodeName.contains("HashAggregate"))),
      s"pack_mixture: ${pmEx.length} hash exchanges — the schedule " +
        "rollup and the audit aggregate, nothing else")
  }

  test("the corpus chain's span surgery is the per-doc fold") {
    import org.apache.spark.sql.catalyst.expressions.PosExplode
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.window.WindowExec
    // corpus_pipeline_v3 (dedupSubstrings) and _v4 (decontamSpan) run
    // the same hit fold as dedup_substrings / text_decontam_span: no
    // token posexplode and no running-max window over a `cend`
    // coverage column anywhere in the chain
    for (q <- Seq("corpus_pipeline_v3", "corpus_pipeline_v4")) {
      val p = collectAll(initialPlan(q))
      assert(!p.exists {
        case g: GenerateExec => g.generator.isInstanceOf[PosExplode]
        case _ => false
      }, s"$q: a token posexplode is back in the span surgery")
      assert(!p.exists {
        case w: WindowExec =>
          w.windowExpression.exists(_.references.exists(_.name == "cend"))
        case _ => false
      }, s"$q: a coverage window over cend is back in the span surgery")
    }
  }

  test("building the corpus_pipeline_v3 chain runs no Spark job") {
    // the first build may train session artifacts (the tokenized
    // corpus); a second build of the lazy chain must run nothing — no
    // per-step checkpoint of the substring windows
    SparkEntry.queries("corpus_pipeline_v3")(spark, sfDir)
    val jobs = jobsDuring(SparkEntry.queries("corpus_pipeline_v3")(spark, sfDir))
    assert(jobs.isEmpty, s"corpus_pipeline_v3: plan build ran jobs: $jobs")
  }

  test("round-16 additions keep their scale shapes") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    // text_decontam_span: per-doc fold shape — the corpus window
    // stream joins the broadcast benchmark set map-side and only hit
    // rows shuffle; NO coverage window, NO token explode (exactly one
    // Generate: the rolling-hash window explode; the frozen benchmark
    // index subtree sits behind its checkpoint)
    val ds = collectAll(initialPlan("text_decontam_span"))
    assert(!ds.exists(_.isInstanceOf[WindowExec]),
      "decontam_span: a coverage window appeared — the per-doc fold " +
        "shape is gone")
    assert(ds.count(_.nodeName.contains("Generate")) == 1,
      "decontam_span: expected exactly the rolling-hash Generate " +
        "(a second one means the token posexplode is back)")
    assert(ds.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "decontam_span: the benchmark window set must broadcast")

    // pack_curriculum: one scan, ONE map-side-combined hash aggregate
    // to <= 8*|sources| rows — no explode, no window, no join
    val pc = collectAll(initialPlan("pack_curriculum"))
    assert(!pc.exists(p => p.nodeName.contains("Generate") ||
      p.isInstanceOf[WindowExec] || p.nodeName.contains("Join")),
      "pack_curriculum: must be a pure scan + aggregate")
    val pcEx = pc.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(pcEx.length == 1 &&
      collectAll(pcEx.head.child).exists(_.nodeName.contains("HashAggregate")),
      s"pack_curriculum: ${pcEx.length} hash exchanges — one map-side-" +
        "combined aggregate, nothing else")

    // graph_communities: the packed-long argmax must stay a
    // HashAggregate everywhere (a struct max would regress every
    // round to SortAggregate), and the broadcast state route holds at
    // this scale (no sort-merge join)
    val gc = collectAll(initialPlan("graph_communities"))
    assert(!gc.exists(_.isInstanceOf[SortAggregateExec]),
      "graph_communities: a SortAggregate appeared — the packed-long " +
        "argmax lost its hash path")
    assert(!gc.exists(_.isInstanceOf[SortMergeJoinExec]),
      "graph_communities: state join regressed to sort-merge")
    assert(gc.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 4,
      "graph_communities: each round's state join must broadcast " +
        "under the routeState bound")
  }

  /** Keys whose query BUILD runs driver-coordinated rounds (iterative
    * label propagation, guarded counts, pivot-column discovery) and is
    * therefore too expensive for the lazy cartesian sweep. ONE list,
    * shared by both sweep tests below: the cartesian sweep covers
    * queries.keySet -- this set, the resolvability test covers exactly
    * this set, so together they audit every registered key with no gap
    * (asserted below — drift fails loudly). */
  private val buildTimeDriverKeys = Set(
    "dedup_cluster", "corpus_near_dedup", "dedup_ngram",
    "corpus_semantic_dedup", // connected-components rounds at build time
    "geo_pivot",
    "geo_pipeline_wide", "geo_pipeline_long", "mm_pipeline",
    "text_heavy_hitters", // build-time driver count sets its threshold
    "q_transitive", // pointer-doubling rounds run at build time
    "q_hier_rollup_edges", // ancestorClosure doubling rounds at build time
    "q_kmv_calibration") // small-scale guard count runs at build time

  test("the build-time-driver skip set is a subset of the registry") {
    val stale = buildTimeDriverKeys -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"skip-set keys not in the registry: $stale")
    // and the two sweeps partition the registry exactly:
    val swept = SparkEntry.queries.keySet -- buildTimeDriverKeys
    assert((swept ++ buildTimeDriverKeys) == SparkEntry.queries.keySet)
  }

  test("no registered query plans a cartesian product") {
    val skip = buildTimeDriverKeys
    // a query whose plan won't BUILD is its own named failure — it must
    // not abort the sweep and shadow the audit of the other ~95 plans
    // (round 5: the events loader threw on the first events query and
    // the remaining queries were never audited)
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .flatMap { q =>
        scala.util.Try(collectAll(initialPlan(q))
            .collect { case c: CartesianProductExec => c }) match {
          case scala.util.Success(cart) =>
            if (cart.nonEmpty) Some(s"$q: cartesian product") else None
          case scala.util.Failure(e) =>
            Some(s"$q: plan failed to build (${e.getClass.getSimpleName}: " +
              s"${String.valueOf(e.getMessage).take(100)})")
        }
      }
    assert(offenders.isEmpty,
      s"plan audit offenders:\n  ${offenders.mkString("\n  ")}")
  }

  test("every registered key resolves to an executable physical plan") {
    // Completes the sweep above for the build-time-driver-round keys it
    // skips: forcing executedPlan catches unresolved native functions
    // (the round-11 graft.Explain failure class) without running jobs
    // beyond each operator's own documented build-time rounds (cheap at
    // sf0.001). The sweep + this = all registered keys, no gaps
    // (the partition is asserted by the subset test above).
    val skipped = buildTimeDriverKeys.toSeq.sorted
    val failures = skipped.flatMap { q =>
      scala.util.Try {
        SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      } match {
        case scala.util.Success(_) => None
        case scala.util.Failure(e) =>
          Some(s"$q: ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(120)}")
      }
    }
    assert(failures.isEmpty,
      s"unresolvable plans:\n  ${failures.mkString("\n  ")}")
  }

  test("graph vertex-state routing: both shapes pinned") {
    // graph_kcore's registered k=80 core is EMPTY at sf0.001, and an
    // empty survivor state legitimately broadcasts (0 rows ≤ any
    // bound) — pin its routing through a k=2 run whose state is real
    def kcorePlan(): SparkPlan = {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, "false")
        graft.ops.Graph.graphKcore(spark, sfDir, k = 2)
          .queryExecution.executedPlan
      } finally spark.conf.set(key, prev)
    }
    val routed = Seq[(String, () => SparkPlan)](
      ("graph_pagerank", () => initialPlan("graph_pagerank")),
      ("graph_triangles", () => initialPlan("graph_triangles")),
      ("graph_edge_overlap", () => initialPlan("graph_edge_overlap")),
      ("graph_kcore(k=2)", () => kcorePlan()),
      ("graph_assortativity", () => initialPlan("graph_assortativity")))
    // default route at test scale: state broadcasts (map-side joins,
    // the hot edge table never moves per round)
    for ((q, plan) <- routed) {
      val nodes = collectAll(plan())
      assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$q: vertex state must broadcast under the bound")
    }
    // forced shuffle route (bound = 0 — the past-executor-memory
    // regime): NO broadcast hash join survives anywhere in the final
    // plan, and the state joins become co-partitioned shuffled hash
    // joins on the vertex key
    spark.conf.set(graft.ops.Graph.BroadcastVerticesKey, "0")
    try {
      for ((q, plan) <- routed) {
        val nodes = collectAll(plan())
        assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
          s"$q: vertex state must NOT broadcast past the bound")
        assert(nodes.exists(_.nodeName.contains("ShuffledHashJoin")),
          s"$q: routed state joins must be shuffled hash joins")
      }
    } finally spark.conf.unset(graft.ops.Graph.BroadcastVerticesKey)
  }

  test("event report ops keep the EventPipeline step shapes") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    def userHash(ns: Seq[SparkPlan]) = ns.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    // q_sessionize: the lag window and the running session count ride
    // one user-hash exchange and one (user_id, ts_us, event_id) sort;
    // the (user, session) aggregate reuses the partitioning. The final
    // orderBy(user_id, session_id) sort does not order by ts_us.
    val ss = collectAll(initialPlan("q_sessionize"))
    assert(userHash(ss).length == 1,
      s"q_sessionize: expected one user-hash exchange, got ${userHash(ss).length}")
    assert(ss.count(_.isInstanceOf[WindowExec]) == 2,
      "q_sessionize: expected the lag and running-count windows")
    val ssWindowSorts = ss.collect {
      case s: SortExec
          if s.sortOrder.exists(_.child.references.exists(_.name == "ts_us")) => s
    }
    assert(ssWindowSorts.length == 1,
      s"q_sessionize: both windows must share one sort, got ${ssWindowSorts.length}")
    // q_retention: the cohort comes from withRetention's first-seen
    // window over the events, not a first-seen aggregate joined back
    val rt = collectAll(initialPlan("q_retention"))
    assert(!rt.exists(_.nodeName.contains("Join")),
      "q_retention: first-seen must not be joined back")
    assert(rt.exists {
      case w: WindowExec => w.windowExpression.exists(_.toString.contains("min(ts_us"))
      case _ => false
    }, "q_retention: first-seen must come from a window")
  }
}
