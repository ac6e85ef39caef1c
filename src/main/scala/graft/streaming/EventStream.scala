package graft.streaming

import graft.api.EventPipeline.{FunnelChainUs, NoEvent, SessionGapUs,
  TouchWindowUs, creditedTouch, isTouch, opensSession}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event operators — same
  * results, incremental execution. `readStream` over the events parquet
  * directory stands in for any streaming source (Kafka etc. — the
  * transforms don't change).
  *
  * The per-user event twins fold with `api.EventPipeline`'s rules,
  * each defined next to its batch `Column` form: `opensSession`
  * (sessions, pipelineSummary), `isTouch` + `creditedTouch`
  * (attributionStream, pipelineSummary), and `FunnelChainUs`.
  *
  * The events timestamp has shipped as INT64 nanos, TIMESTAMP, and
  * TIMESTAMP_NTZ across test-data vintages; `readEvents` takes the
  * streaming schema from the `Tables` catalog (the batch schema) and
  * normalizes through `Tables.withMicros`, yielding both the µs bigint
  * (exact) and a TIMESTAMP column (for watermarks/windows).
  */
object EventStream {

  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // readStream needs an explicit schema; take the batch side's
    // catalog schema so parquet-type drift can't desync batch vs stream
    val raw = spark.readStream.schema(graft.Tables.schema(spark, dir, "events"))
      // file-stream source wants a directory; select just the events file
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    graft.Tables.withMicros(raw, "ts", "ts_us")
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
  }

  /** Tumbling 1-hour windowed aggregation — streaming twin of
    * Events.tumbling. Watermark bounds state; Complete mode in specs. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("event_ts", "2 hours")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("total_value"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("event_type"), col("n"), col("total_value"))

  /** Stream-static AS-OF join — the streaming twin of Events.asof:
    * each incoming event picks the most recent order at or before its
    * timestamp, per user. The static side is prepared ONCE as
    * half-open validity intervals [o_us, next_o_us) via a window, so
    * the stream needs only a plain equi+range join — no state, no
    * per-row subquery, and the static side broadcasts at dim scale.
    */
  def asofOrders(spark: SparkSession, dir: String): DataFrame = {
    val dedupW = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey", "o_orderdate").orderBy(col("o_orderkey").desc)
    val nextW = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_us")
    val orders = graft.Tables
      .withMicros(graft.Tables.load(spark, dir, "orders"), "o_orderdate", "o_us")
      .withColumn("rn", row_number().over(dedupW)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_us"),
        col("o_orderkey"), col("o_totalprice"))
      .withColumn("valid_to",
        coalesce(lead(col("o_us"), 1).over(nextW), lit(Long.MaxValue)))
    readEvents(spark, dir)
      .select("event_id", "user_id", "ts_us")
      .join(orders,
        col("user_id") === col("o_custkey") &&
          col("ts_us") >= col("o_us") && col("ts_us") < col("valid_to"),
        "left")
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("matched_order"),
        col("o_totalprice").as("matched_price"))
  }

  /** Stream-stream interval join — clicks joined to the same user's
    * purchases within the following hour, BOTH sides streaming. The
    * range condition on the two event-time columns plus the two
    * watermarks is what lets Spark bound the join state: a click can
    * be dropped once the purchase watermark passes click_ts + 1 h, a
    * purchase once the click watermark passes purchase_ts. This is
    * the canonical attribution-join shape (click→conversion) that
    * stream-static joins cannot express. */
  def clickPurchases(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_us").as("click_us"), col("event_ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_us").as("purchase_us"), col("event_ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"),
        col("c_user").as("user_id"), col("click_us"), col("purchase_us"))
  }

  // ---- running CDC latest-state --------------------------------------
  final case class VerIn(user_id: Long, event_type: String, ts_us: Long,
                         event_id: Long, value: Double)
  final case class VerState(ts_us: Long, event_id: Long, value: Double,
                            n: Long)
  final case class LatestOut(user_id: Long, event_type: String,
      latest_ts_us: Long, latest_event_id: Long, latest_value: Double,
      n_versions: Long)

  /** Running CDC compaction — the streaming twin of Events.cdcCompact:
    * mapGroupsWithState keeps ONE (latest version, count) per
    * (user, type) key and emits the refreshed row every batch (Update
    * mode), so a sink always holds the current compacted state.
    * Version order matches the batch decimal-packed order exactly:
    * (ts_us, event_id) lexicographic. State is O(keys), not O(events),
    * and never expires — latest-state is a permanent materialization,
    * unlike the gap-bounded session state above. */
  def latestState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readEvents(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"),
        col("event_id"), col("value")).as[VerIn]
      .groupByKey(v => (v.user_id, v.event_type))
      .mapGroupsWithState[VerState, LatestOut](GroupStateTimeout.NoTimeout) {
        case ((user, typ), rows, state) =>
          var st = state.getOption
            .getOrElse(VerState(Long.MinValue, Long.MinValue, 0.0, 0L))
          rows.foreach { v =>
            val newer = v.ts_us > st.ts_us ||
              (v.ts_us == st.ts_us && v.event_id > st.event_id)
            st = VerState(
              if (newer) v.ts_us else st.ts_us,
              if (newer) v.event_id else st.event_id,
              if (newer) v.value else st.value,
              st.n + 1)
          }
          state.update(st)
          LatestOut(user, typ, st.ts_us, st.event_id, st.value, st.n)
      }
      .toDF()
  }

  // ---- sliding-window distinct actives --------------------------------
  final case class DayUser(report_day_us: Long, user_id: Long)
  final case class DayUserTs(report_day_us: Long, user_id: Long,
                             event_ts: java.sql.Timestamp)
  final case class ActiveState(users: Array[Long])
  final case class ActiveOut(report_day_us: Long, n_active_7d: Long)

  /** Trailing 7-day distinct actives — the streaming twin of
    * q_sliding_distinct. Each event fans out to the 7 report days it
    * contributes to (the batch contribution-explode, streamed);
    * mapGroupsWithState keeps the distinct user set per report day and
    * re-emits the refreshed count every batch (Update mode), so counts
    * are monotone non-decreasing per day across batches. Exact state
    * is O(users-per-window); at production scale the state value would
    * be q_hll_sketch's 256-byte register array instead (same operator
    * shape, mergeable state). Streaming emits report days for ANY
    * window containing an event; the batch operator emits only days
    * that themselves have events — the equality spec compares on the
    * batch day set.
    *
    * State is EVICTED, not kept forever: a report day can gain
    * contributors only from events with ts ≤ its day end, so once the
    * watermark (7-day out-of-order allowance) passes the day end the
    * count is final and the event-time timeout releases the user set —
    * long-running streams hold state for O(open windows), not O(all
    * history). An event arriving later than the allowance would
    * recreate the day with an undercount — the standard watermark
    * contract, stated here instead of hidden. */
  def slidingActive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val day = 86400000000L
    val d0 = col("ts_us") - col("ts_us") % day
    readEvents(spark, dir)
      .withWatermark("event_ts", "7 days")
      // fanout via explode, NOT a typed flatMap: typed transforms mint
      // fresh attributes, which severs the watermark column the
      // event-time timeout below needs to see at the stateful operator
      .select(
        explode(sequence(d0, d0 + lit(6L * day), lit(day)))
          .as("report_day_us"),
        col("user_id"), col("event_ts"))
      .as[DayUserTs]
      .groupByKey(_.report_day_us)
      .mapGroupsWithState[ActiveState, ActiveOut](
        GroupStateTimeout.EventTimeTimeout) {
        case (dayUs, rows, state) =>
          if (state.hasTimedOut) {
            // window closed: the final count was already emitted every
            // batch (Update mode, monotone) — release the user set
            val n = state.getOption.map(_.users.length.toLong).getOrElse(0L)
            state.remove()
            ActiveOut(dayUs, n)
          } else {
            val prev = state.getOption
              .map(_.users.toSet).getOrElse(Set.empty[Long])
            val cur = prev ++ rows.map(_.user_id)
            state.update(ActiveState(cur.toArray))
            // evict once the watermark passes the day end (timeout
            // timestamps must stay ahead of the current watermark)
            state.setTimeoutTimestamp(math.max(
              dayUs / 1000 + 86400000L, state.getCurrentWatermarkMs() + 1))
            ActiveOut(dayUs, cur.size.toLong)
          }
      }
      .toDF()
  }

  // ---- streaming ordered funnel ---------------------------------------
  final case class FunnelState(bestView: Long, bestChainView: Long,
                               level: Int)
  final case class FunnelOut(user_id: Long, funnel_level: Int)

  /** Streaming twin of Events.funnelWindow: per user the running
    * ordered-funnel level (1 view, 2 view→click, 3 full chain within
    * 24 h of its opening view). State is THREE numbers per user —
    * best view ts, best chain-opening view ts over valid clicks, and
    * the level — the O(1) sufficient statistic of the batch
    * construction's two running maxes (contrast slidingActive's
    * per-window sets). Like every running materialization here the
    * levels are monotone, so Update-mode emissions converge to the
    * batch answer; rows are processed in (ts, event_id) order within
    * each batch, and cross-batch disorder follows the standard
    * watermark contract (a view arriving after its click was
    * processed cannot retro-upgrade the click).
    *
    * NoTimeout is deliberate: the funnel is UNWINDOWED across idle gaps
    * (a purchase years after the chain-opening view still upgrades to
    * level 3 if within the 24 h chain window of that view — and the
    * LEVEL itself never expires), so evicting an idle user's three
    * numbers would silently downgrade their final level vs the batch
    * answer. Contrast attributionStream below, where eviction is
    * provably semantics-free. */
  def funnelLevels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readEvents(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type")).as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelOut](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var st = state.getOption
            .getOrElse(FunnelState(Long.MinValue, Long.MinValue, 0))
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach {
            case (_, _, ts, typ) => typ match {
              case "view" =>
                st = FunnelState(math.max(st.bestView, ts),
                  st.bestChainView, math.max(st.level, 1))
              case "click"
                  if st.bestView != Long.MinValue && st.bestView < ts =>
                st = FunnelState(st.bestView,
                  math.max(st.bestChainView, st.bestView),
                  math.max(st.level, 2))
              case "purchase"
                  if st.bestChainView != Long.MinValue &&
                    ts - st.bestChainView <= FunnelChainUs =>
                st = st.copy(level = math.max(st.level, 3))
              case _ => ()
            }
          }
          state.update(st)
          FunnelOut(user, st.level)
      }
      .toDF()
  }

  // ---- stateful sessionization ---------------------------------------
  final case class Ev(user_id: Long, ts_us: Long)
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, session_start_us: Long,
                           session_end_us: Long, n_events: Long)

  /** Gap-based sessions via flatMapGroupsWithState: closed sessions are
    * emitted as soon as a later event proves the gap; the open tail
    * session per user is emitted on event-time timeout (or remains in
    * state at end of a bounded test run — see EventStreamSpec).
    */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // keep event_ts through to the stateful operator: a typed .map would
    // drop the watermarked column and break event-time timeouts
    val evs = readEvents(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_ts"))
      .withWatermark("event_ts", "1 hour")
      .as[(Long, Long, java.sql.Timestamp)]

    evs.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.end, s.n))
          } else {
            val sorted = rows.map(_._2).toArray.sorted
            var st = state.getOption.orNull
            val out = Iterator.newBuilder[Session]
            sorted.foreach { t =>
              val prevUs = if (st == null) NoEvent else st.end
              if (opensSession(prevUs, t, SessionGapUs)) {
                if (st != null) out += Session(user, st.start, st.end, st.n)
                st = SessionState(t, t, 1)
              } else st = SessionState(st.start, t, st.n + 1)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(st.end / 1000 + SessionGapUs / 1000)
            }
            out.result()
          }
      }
      .toDF()
  }

  // ---- streaming interval concurrency --------------------------------
  final case class SweepState(ends: Array[Long], best: Long, bestT: Long)
  final case class SweepOut(event_type: String, max_concurrent: Long,
                            peak_t_us: Long)

  /** Streaming twin of TimeSeries.intervalSweep: the running MAX
    * concurrency of 30-minute intervals per event type. State per type
    * is the OPEN-interval end-time heap — its size IS the current
    * concurrency, so state is bounded by the answer itself plus two
    * longs; closed intervals pop as soon as a later start passes their
    * end (end-exclusive, matching the batch sweep's −1-before-+1 tie
    * order). Emissions are monotone (Update mode), so the final
    * emission per type equals the batch maximum; rows are processed in
    * (ts, event_id) order within each batch and cross-batch disorder
    * follows the standard watermark contract (a start arriving after
    * later events were processed would see too-small a heap).
    */
  def sweepConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readEvents(spark, dir)
      .select(col("event_type"), col("ts_us"), col("event_id"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SweepState, SweepOut](
        GroupStateTimeout.NoTimeout) {
        case (typ, rows, state) =>
          val st = state.getOption
            .getOrElse(SweepState(Array.empty, 0L, Long.MinValue))
          val heap = scala.collection.mutable.PriorityQueue(
            st.ends.toSeq: _*)(Ordering[Long].reverse)
          var best = st.best
          var bestT = st.bestT
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, _) =>
            while (heap.nonEmpty && heap.head <= ts) { heap.dequeue(); () }
            heap.enqueue(ts + graft.ops.TimeSeries.SessUs)
            if (heap.size > best) { best = heap.size.toLong; bestT = ts }
          }
          state.update(SweepState(heap.toArray, best, bestT))
          SweepOut(typ, best, bestT)
      }
      .toDF()
  }

  final case class TouchState(ts: Long, typ: String)
  final case class AttrOut(user_id: Long, ts_us: Long, event_id: Long,
                           touch: String)

  /** Streaming twin of Journey.attribution: running last-touch
    * attribution with O(1) state per user — just the latest click/view
    * (ts, type), against which each arriving purchase resolves its
    * channel immediately (Append mode: one emission per purchase, never
    * revised). The batch op recovers the same answer from a full
    * per-user window; equality of the aggregated emissions is the
    * certification that the carried-touch semantics agree, including
    * the 24 h cutoff and same-instant (ts, event_id) tie order.
    *
    * State for idle users is EVICTED by event-time timeout at
    * touch + 24 h: once the watermark passes that point, any purchase
    * that could still arrive has ts > watermark > touch + 24 h, so it
    * would resolve "none" with or without the state — eviction is
    * semantics-free (unlike funnel/Markov state, see below) and the
    * timeout branch emits nothing, so no duplicate or phantom rows
    * (duplicate-free post-eviction emissions certified in
    * EventStreamSpec on an eviction-forcing MemoryStream).
    */
  def attributionStream(spark: SparkSession, dir: String): DataFrame =
    attributionStreamFrom(readEvents(spark, dir))

  /** The attribution transform over any watermark-able
    * (user_id, ts_us, event_id, event_type, event_ts) stream —
    * factored so the eviction spec can drive it from a MemoryStream. */
  private[graft] def attributionStreamFrom(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"), col("event_ts"))
      .withWatermark("event_ts", "1 hour")
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, AttrOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state) =>
          if (state.hasTimedOut) {
            // the touch can no longer influence any admissible purchase
            state.remove()
            Iterator.empty
          } else {
            // a null typ: no touch carried yet
            var st = state.getOption.getOrElse(TouchState(NoEvent, null))
            val out = scala.collection.mutable.ArrayBuffer[AttrOut]()
            rows.toSeq.sortBy(r => (r._2, r._3)).foreach {
              case (_, ts, eid, typ, _) =>
                if (typ == "purchase") {
                  out += AttrOut(uid, ts, eid,
                    creditedTouch(st.ts, st.typ, ts, TouchWindowUs))
                }
                if (isTouch(typ)) st = TouchState(ts, typ)
            }
            if (st.typ != null) {
              state.update(st)
              // round the deadline UP to the next millisecond: timeouts are
              // ms-grained while ts is µs, and flooring could evict up to
              // 999 µs before touch + window, letting a purchase in that
              // sub-ms tail resolve "none" where batch says the touch type
              state.setTimeoutTimestamp((st.ts + TouchWindowUs + 999) / 1000)
            }
            out.iterator
          }
      }
      .toDF()
  }

  final case class LastEvent(typ: String)
  final case class Transition(user_id: Long, from_type: String,
                              to_type: String)

  /** Streaming twin of Journey.markov: running first-order transitions
    * with O(1) state per user — just the previous event type. Each
    * arriving event emits its (from, to) pair immediately (Append
    * mode); the aggregated emissions equal the batch lag-window
    * construction exactly (EventStreamSpec), which certifies that the
    * window semantics and the incremental carry agree.
    *
    * NoTimeout is deliberate: the lag construction crosses idle gaps of
    * any length (the user's first event after a year still forms a
    * transition from their last event before it), so evicting the
    * one-string state would silently drop cross-gap transitions vs the
    * batch answer. Contrast attributionStream, where eviction is
    * provably semantics-free.
    */
  def markovStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readEvents(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var prev = state.getOption.map(_.typ).orNull
          val out = scala.collection.mutable.ArrayBuffer[Transition]()
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, typ) =>
            if (prev != null) out += Transition(uid, prev, typ)
            prev = typ
          }
          if (prev != null) state.update(LastEvent(prev))
          out.iterator
      }
      .toDF()
  }

  final case class SeqNfaState(
      lastVTs: Long, lastVId: Long, lastPTs: Long, lastPId: Long,
      firstPTs: Long, firstPId: Long, lastETs: Long, lastEId: Long,
      firstVcTs: Long, firstVcId: Long,
      minBridgeTs: Long, minBridgeId: Long, nSeen: Long)
  final case class SeqNfaOut(user_id: Long, n_seen: Long,
                             browse_buy: Boolean, error_churn: Boolean,
                             direct_buy: Boolean)

  /** Streaming twin of Journey.sequenceMatchNfa: the compiled pattern
    * state machines advanced per event — the quantities the batch form
    * reads off one window (last view/purchase before each click, the
    * min live-bridge click, first/last purchase, last error, first
    * view-or-click) are all running mins/maxes over the (ts, event_id)
    * order key, so the per-user state is TWELVE longs for any journey
    * length (the same O(1) bound that lets the batch twin drop the
    * journey-string cap). Each batch emits the refreshed three pattern
    * flags (Update mode); the final emission per user matches the
    * batch NFA decomposition exactly (EventStreamSpec aggregates both
    * to the registry's per-pattern counts). Rows are processed in
    * (ts, event_id) order within each batch; cross-batch disorder
    * follows the standard watermark contract.
    */
  def sequenceNfaStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val None_ = Long.MinValue
    // lexicographic (ts, id) helpers over sentinel-padded pairs
    def lt(aT: Long, aI: Long, bT: Long, bI: Long): Boolean =
      aT < bT || (aT == bT && aI < bI)
    readEvents(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[SeqNfaState, SeqNfaOut](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var st = state.getOption.getOrElse(SeqNfaState(
            None_, None_, None_, None_, None_, None_, None_, None_,
            None_, None_, None_, None_, 0L))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach {
            case (_, ts, eid, typ) =>
              val code = typ.head
              if (code == 'c' && st.lastVTs != None_ &&
                  (st.lastPTs == None_ ||
                    lt(st.lastPTs, st.lastPId, st.lastVTs, st.lastVId)) &&
                  (st.minBridgeTs == None_ ||
                    lt(ts, eid, st.minBridgeTs, st.minBridgeId)))
                st = st.copy(minBridgeTs = ts, minBridgeId = eid)
              code match {
                case 'v' =>
                  st = st.copy(lastVTs = ts, lastVId = eid)
                  if (st.firstVcTs == None_)
                    st = st.copy(firstVcTs = ts, firstVcId = eid)
                case 'c' =>
                  if (st.firstVcTs == None_)
                    st = st.copy(firstVcTs = ts, firstVcId = eid)
                case 'p' =>
                  st = st.copy(lastPTs = ts, lastPId = eid)
                  if (st.firstPTs == None_)
                    st = st.copy(firstPTs = ts, firstPId = eid)
                case 'e' =>
                  st = st.copy(lastETs = ts, lastEId = eid)
                case _ => ()
              }
              st = st.copy(nSeen = st.nSeen + 1)
          }
          state.update(st)
          val m1 = st.minBridgeTs != None_ && st.lastPTs != None_ &&
            lt(st.minBridgeTs, st.minBridgeId, st.lastPTs, st.lastPId)
          val m2 = st.lastETs != None_ && (st.lastPTs == None_ ||
            lt(st.lastPTs, st.lastPId, st.lastETs, st.lastEId))
          val m3 = st.firstPTs != None_ && (st.firstVcTs == None_ ||
            lt(st.firstPTs, st.firstPId, st.firstVcTs, st.firstVcId))
          SeqNfaOut(uid, st.nSeen, m1, m2, m3)
      }
      .toDF()
  }

  final case class PipeState(lastTs: Long, nSessions: Long, nEvents: Long,
                             nPurchases: Long, touchTs: Long, touchTyp: String,
                             revClickE6: Long, revViewE6: Long,
                             revNoneE6: Long)
  final case class PipeOut(user_id: Long, n_events: Long, n_sessions: Long,
                           n_purchases: Long, rev_click: Double,
                           rev_view: Double, rev_none: Double)

  /** Streaming twin of the fluent `api.EventPipeline` chain
    * (events_pipeline = sessions + last-touch attribution + per-user
    * summary): the three per-user signals COMPOSE into one O(1) state —
    * the last event time (session-gap detector, the sessions twin's
    * state), the latest click/view touch (the attribution twin's
    * state), and the running summary counters with attributed revenue
    * in exact decimal micros. Each batch emits the refreshed summary
    * (Update mode); the final emission per user equals the batch
    * pipeline's one-exchange answer exactly — including the DECIMAL-
    * routed revenue sums: values scale to integer micros by the same
    * half-up 6-dp rule as Spark's double→DECIMAL(18,6) cast, so the
    * stream's Long accumulator replays the batch decimal sum
    * bit-for-bit, then applies the identical shortest-repr half-up
    * 4-dp round. NoTimeout is correct here: the state IS the answer
    * (CDC-latest semantics) — evicting an idle user would forget their
    * summary, not just their in-flight progress.
    */
  def pipelineSummary(spark: SparkSession, dir: String): DataFrame =
    pipelineSummaryFrom(readEvents(spark, dir))

  /** The composed-state transform over any (user_id, ts_us, event_id,
    * event_type, value) stream — factored so StreamRecoverySpec can
    * drive it from a time-tranched multi-file source and kill it
    * mid-stream (the state here is ORDER-SENSITIVE, so the recovery
    * source must deliver batches in per-user event-time order). */
  private[graft] def pipelineSummaryFrom(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def e6(v: Double): Long =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying.movePointRight(6).longValueExact
    def round4(micros: Long): Double =
      BigDecimal.valueOf(
        new java.math.BigDecimal(micros).movePointLeft(6).doubleValue())
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    events
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[PipeState, PipeOut](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var st = state.getOption.getOrElse(
            PipeState(NoEvent, 0L, 0L, 0L, NoEvent, null, 0L, 0L, 0L))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach {
            case (_, ts, _, typ, value) =>
              val newSession = opensSession(st.lastTs, ts, SessionGapUs)
              var s = st.copy(lastTs = ts,
                nSessions = st.nSessions + (if (newSession) 1L else 0L),
                nEvents = st.nEvents + 1)
              if (typ == "purchase") {
                val v = e6(value)
                s = s.copy(nPurchases = s.nPurchases + 1)
                s = creditedTouch(s.touchTs, s.touchTyp, ts, TouchWindowUs) match {
                  case "click" => s.copy(revClickE6 = s.revClickE6 + v)
                  case "view" => s.copy(revViewE6 = s.revViewE6 + v)
                  case _ => s.copy(revNoneE6 = s.revNoneE6 + v)
                }
              }
              if (isTouch(typ)) s = s.copy(touchTs = ts, touchTyp = typ)
              st = s
          }
          state.update(st)
          PipeOut(uid, st.nEvents, st.nSessions, st.nPurchases,
            round4(st.revClickE6), round4(st.revViewE6),
            round4(st.revNoneE6))
      }
      .toDF()
  }

  final case class KmvState(sk: Array[Long])
  final case class KmvSketchOut(event_type: String, sk: Array[Long])

  /** Streaming twin of Sketches.kmvSketch: the running bottom-256 KMV
    * distinct sketch per event type. State is the sketch itself — 256
    * longs per key, FIXED regardless of stream length (the whole point
    * of sketch state vs. the exact distinct set slidingActive keeps for
    * its 7-day window): merging a batch folds new hashes in and
    * re-truncates, and because bottom-k merge is associative and
    * order-insensitive, the final streamed state equals the batch
    * tournament's sketch exactly — certified in EventStreamSpec, which
    * also certifies the estimates derived from it. Emissions are
    * per-batch refreshed sketches (Update mode).
    */
  def kmvSketches(spark: SparkSession, dir: String): DataFrame =
    kmvSketchStream(readEvents(spark, dir))

  /** The sketch-state transform over any (event_type, user_id) stream —
    * factored so StreamRecoverySpec can drive it from a multi-file
    * source and kill it mid-stream. */
  private[graft] def kmvSketchStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[KmvState, KmvSketchOut](GroupStateTimeout.NoTimeout) {
        case (typ, rows, state) =>
          val prev = state.getOption.map(_.sk).getOrElse(Array.empty[Long])
          val merged = (prev ++ rows.map(r => graft.ops.Sketches.h60Scala(
              r._2.toString)))
            .distinct.sorted.take(256)
          state.update(KmvState(merged))
          KmvSketchOut(typ, merged)
      }
      .toDF()
  }
}
