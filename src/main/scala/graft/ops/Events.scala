package graft.ops

import graft.{QueryDef, Tables}
import graft.api.EventPipeline
import graft.QueryDef.dsum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream batch operators: sessionization, the ordered funnel
  * and retention cohorts, as-of and range joins, tumbling windows, CDC
  * compaction / SCD2 / snapshot diff, cohort LTV and new-vs-returning.
  * These are the batch twins of the Structured Streaming path
  * (graft.streaming); both compute identical results so the streaming
  * specs assert equality against these plans.
  *
  * q_sessionize, q_funnel_window and q_retention run their
  * `api.EventPipeline` step (withSessions, withFunnel, withRetention)
  * plus a projection; steps and window constants live there only.
  *
  * Timestamps are surfaced as epoch-microsecond BIGINTs at the oracle
  * boundary — integer-exact across engines and parquet timestamp units.
  */
object Events {

  /** Gap-based sessionization: `EventPipeline.withSessions` (lag →
    * new-session flag → running count; one shuffle on user_id, both
    * windows share the exchange+sort), aggregated per session.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    EventPipeline.load(s, dir).withSessions().df
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           min(col("ts_us")).as("session_start_us"),
           max(col("ts_us")).as("session_end_us"))
      .orderBy("user_id", "session_id")

  val sessionizeSql: String = s"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER
          (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_us
      FROM events),
    marked AS (
      SELECT user_id, event_id, ts_us,
        CASE WHEN prev_us IS NULL OR ts_us - prev_us > ${EventPipeline.SessionGapUs}
             THEN 1 ELSE 0 END AS is_start
      FROM flagged),
    sess AS (
      SELECT user_id, ts_us,
        CAST(SUM(is_start) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS BIGINT) AS session_id
      FROM marked)
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id"""

  /** As-of join events→orders (most recent order at or before each event,
    * per user). Orders deduped to one per (custkey, orderdate) first —
    * as-of ties are undefined. Oracle uses DuckDB's native ASOF JOIN.
    */
  def asof(s: SparkSession, dir: String): DataFrame = {
    val dedupW = Window.partitionBy("o_custkey", "o_orderdate")
      .orderBy(col("o_orderkey").desc)
    val od = Tables.withMicros(Tables.load(s, dir, "orders"), "o_orderdate", "o_us")
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_us"),
        col("o_orderkey"), col("o_totalprice"))
    val e = Tables.loadEventsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    AsofJoin.leftAsof(e, od,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts_us", rightTime = "o_us",
        payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("_match.o_orderkey").as("matched_order"),
        col("_match.o_totalprice").as("matched_price"))
      .orderBy("event_id")
  }

  val asofSql: String = """
    WITH od AS (
      SELECT o_custkey, epoch_us(o_orderdate) AS o_us, o_orderkey, o_totalprice
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                         ORDER BY o_orderkey DESC) AS rn
            FROM orders)
      WHERE rn = 1),
    e AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events)
    SELECT e.event_id, e.user_id,
           od.o_orderkey AS matched_order, od.o_totalprice AS matched_price
    FROM e ASOF LEFT JOIN od
      ON e.user_id = od.o_custkey AND e.ts_us >= od.o_us
    ORDER BY e.event_id"""

  /** Tumbling 1-hour windows per event type — the batch twin of the
    * streaming windowed aggregation.
    */
  def tumbling(s: SparkSession, dir: String): DataFrame = {
    Tables.loadEventsUs(s, dir)
      .groupBy(expr("ts_us - ts_us % 3600000000").as("hour_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           dsum(col("value"), 6).as("total_value"))
      .orderBy("hour_us", "event_type")
  }

  val tumblingSql: String = """
    SELECT epoch_us(CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)) AS hour_us,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_us, event_type"""

  /** Weekly retention cohorts: users bucketed by first-seen week,
    * counted per (cohort, active-week) — the classic retention matrix
    * in long form. Weeks are epoch-µs integer buckets (7-day). The
    * cohort is the week of `EventPipeline.withRetention`'s first-seen
    * window, not a first-seen aggregate joined back: week flooring is
    * monotone, so the week of the first event is the first week. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    def week(us: Column) = us - us % EventPipeline.RetentionPeriodUs
    EventPipeline.load(s, dir).withRetention().df
      .select(col("user_id"), week(col("_first_ts")).as("cohort_us"),
        week(col("ts_us")).as("week_us"))
      .groupBy("cohort_us", "week_us")
      .agg(countDistinct("user_id").as("active_users"))
      .orderBy("cohort_us", "week_us")
  }

  val retentionSql: String = """
    WITH e AS (
      SELECT user_id,
        epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(ts AS TIMESTAMP)) % 604800000000 AS week_us
      FROM events),
    first_seen AS (SELECT user_id, MIN(week_us) AS cohort_us FROM e GROUP BY user_id)
    SELECT f.cohort_us, e.week_us, COUNT(DISTINCT e.user_id) AS active_users
    FROM e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Global top-25 token 3-grams across the corpus — vocabulary /
    * phrase-frequency statistics for the text pipeline. */
  def topNgrams(s: SparkSession, dir: String): DataFrame = {
    Text.docToks(s, dir)
      .select(explode(
        call_function("word_ngrams", col("toks"), lit(3))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(25)
  }

  val topNgramsSql: String = """
    WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
    g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 2),
            i -> array_to_string(w[i:i+2], ' '))) AS ngram FROM t)
    SELECT ngram, COUNT(*) AS n FROM g
    GROUP BY ngram ORDER BY n DESC, ngram LIMIT 25"""

  /** CDC latest-state compaction (MERGE/upsert semantics): collapse a
    * change stream to one surviving row per key, latest (ts, event_id)
    * wins. The plan is a SINGLE hash aggregate — max over a
    * lexicographically-ordered struct — with map-side partial
    * aggregation, not a window sort: at 100 TB the window formulation
    * sorts every partition end-to-end while this one combines locally
    * and shuffles only one struct per key per map task.
    * Mirrors the compaction step a Delta/Hudi-style MERGE performs
    * (reference has no CDC surface; this is engine bread-and-butter).
    */
  /** (ts_us, event_id) version order packed into one DECIMAL(38,0):
    * ts_us · 10¹² + event_id — exact decimal arithmetic, 10¹² of id
    * space per microsecond tick. A max over a bare STRUCT regresses
    * the whole aggregation to SortAggregate (struct buffers are not
    * mutable in UnsafeRow), which map-side SORTS every scan partition
    * at 100 TB; decimal buffers stay in HashAggregate, so max /
    * max_by over the packed order keep the one-shuffle hash-argmax
    * shape (same trick as dedup_keep_best's bit-packed long — events
    * need 10¹² ids × µs timestamps, which only decimal128 can hold).
    * Guarded loudly: an event_id outside [0, 10¹²) would silently
    * corrupt the version order (DedupCluster packable-range precedent). */
  private[graft] def packedVer: Column =
    expr("""CASE WHEN event_id >= 0 AND event_id < 1000000000000
            THEN CAST(ts_us AS DECIMAL(38,0)) * 1000000000000 + event_id
            ELSE raise_error(concat(
              'packedVer: event_id outside packable range: ',
              CAST(event_id AS STRING))) END""")

  def cdcCompact(s: SparkSession, dir: String): DataFrame = {
    Tables.loadEventsUs(s, dir)
      .withColumn("ver", packedVer)
      .groupBy("user_id", "event_type")
      .agg(max(col("ts_us")).as("latest_ts_us"),
        max_by(col("event_id"), col("ver")).as("latest_event_id"),
        round(max_by(col("value"), col("ver")), 6).as("latest_value"),
        count(lit(1)).as("n_versions"))
      .orderBy("user_id", "event_type")
  }

  val cdcCompactSql: String = """
    WITH u AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             event_id, value
      FROM events),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts_us DESC, event_id DESC) AS rn,
        COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
      FROM u)
    SELECT user_id, event_type, ts_us AS latest_ts_us,
           event_id AS latest_event_id, ROUND(value, 6) AS latest_value,
           n_versions
    FROM r WHERE rn = 1
    ORDER BY user_id, event_type"""

  /** Range (interval) join — the second custom-join class the brief
    * names next to as-of: each click attributed to the same user's
    * purchases within the following hour. The equi key (user) carries
    * the hash join; the range predicate rides the join condition as a
    * post-probe filter, so this is a plain shuffled equi-join at any
    * scale — never a cartesian, never a window. Batch twin of the
    * stream-stream interval join (streaming.EventStream
    * .clickPurchases; equality asserted in EventStreamSpec). */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadEventsUs(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts_us").as("click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts_us").as("purchase_us"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_us") >= col("click_us") &&
          col("purchase_us") < col("click_us") + lit(3600000000L))
      .select(col("click_id"), col("purchase_id"),
        (col("purchase_us") - col("click_us")).as("lag_us"))
      .orderBy("click_id", "purchase_id")
  }

  val rangeJoinSql: String = """
    WITH e AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events)
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           p.us - c.us AS lag_us
    FROM e c JOIN e p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.us >= c.us AND p.us < c.us + 3600000000
    ORDER BY click_id, purchase_id"""

  /** SCD type-2 history build: each (user, event_type) observation
    * becomes a validity interval [ts, next-ts-of-same-key), open (NULL
    * valid_to, is_current) on the latest — the warehouse MERGE-history
    * companion to q_cdc_compact's latest-state compaction. One lead
    * window per (user_id, event_type) partition — a single shuffle on
    * the key, no global sort; at 100 TB each key's history sorts
    * independently. */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("valid_from_us", "event_id")
    Tables.loadEventsUs(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us").as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy("user_id", "event_type", "valid_from_us", "event_id")
  }

  val scd2Sql: String = """
    SELECT user_id, event_type, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from_us,
           LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             (PARTITION BY user_id, event_type
              ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
             AS valid_to_us,
           (LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             (PARTITION BY user_id, event_type
              ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) IS NULL)
             AS is_current
    FROM events
    ORDER BY user_id, event_type, valid_from_us, event_id"""

  /** Snapshot state diff — the audit companion to q_cdc_compact /
    * q_scd2: compact the stream to its latest state as of TWO cut
    * times and classify each (user, type) key as added / changed /
    * unchanged between them. ONE scan + ONE hash aggregate — each
    * snapshot is a conditional max over the ordered version struct
    * with map-side partials; never two state builds joined back
    * (the naive twin shuffles the events twice and adds an outer
    * join that dominates at 100 TB). */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val t1 = 1704412800000000L // 2024-01-05 00:00 UTC, epoch µs
    val t2 = 1704499200000000L // 2024-01-06 00:00 UTC
    def unpackId(p: Column) =
      (p % 1000000000000L).cast("bigint") // exact decimal mod
    Tables.loadEventsUs(s, dir)
      .filter(col("ts_us") <= t2)
      .withColumn("ver", packedVer)
      .groupBy("user_id", "event_type")
      .agg(
        max(when(col("ts_us") <= t1, col("ver"))).as("p1"),
        max(col("ver")).as("p2"),
        sum(when(col("ts_us") <= t1, 1L).otherwise(0L)).as("n1"),
        count(lit(1)).as("n2"))
      .select(col("user_id"), col("event_type"),
        when(col("p1").isNull, "added")
          .when(col("p1") =!= col("p2"), "changed")
          .otherwise("unchanged").as("status"),
        col("n1"), col("n2"),
        unpackId(col("p1")).as("latest1"), unpackId(col("p2")).as("latest2"))
      .orderBy("user_id", "event_type")
  }

  val snapshotDiffSql: String = """
    WITH u AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
      FROM events
      WHERE epoch_us(CAST(ts AS TIMESTAMP)) <= 1704499200000000),
    a AS (
      SELECT user_id, event_type,
        max(struct_pack(ts := ts_us, id := event_id))
          FILTER (WHERE ts_us <= 1704412800000000) AS m1,
        max(struct_pack(ts := ts_us, id := event_id)) AS m2,
        COUNT(*) FILTER (WHERE ts_us <= 1704412800000000) AS n1,
        COUNT(*) AS n2
      FROM u GROUP BY 1, 2)
    SELECT user_id, event_type,
      CASE WHEN m1 IS NULL THEN 'added'
           WHEN m1.id <> m2.id THEN 'changed'
           ELSE 'unchanged' END AS status,
      CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      m1.id AS latest1, m2.id AS latest2
    FROM a ORDER BY user_id, event_type"""

  /** CDC compaction WITH tombstone deletes — full MERGE semantics:
    * per user key, the latest (ts, event_id) version wins, and if
    * that winning version is a tombstone ('error' here stands in for
    * the delete op-code) the key is REMOVED from the compacted state
    * rather than surfaced. Same single decimal-packed-argmax hash
    * aggregate as q_cdc_compact (map-side partials, never a window
    * sort) plus one post-aggregate filter — deletes cost nothing
    * extra at any scale. */
  def cdcDelete(s: SparkSession, dir: String): DataFrame = {
    // the tombstone decision rides max_by over an INT flag — a string
    // max_by (latest event_type) would regress the whole aggregate to
    // SortAggregate (immutable buffer type), the exact trap the
    // dedup_keep_best bit-pack avoids
    Tables.loadEventsUs(s, dir)
      .withColumn("ver", packedVer)
      .groupBy("user_id")
      .agg(max(col("ts_us")).as("latest_ts_us"),
        max_by(col("event_id"), col("ver")).as("latest_event_id"),
        max_by((col("event_type") === "error").cast("int"), col("ver"))
          .as("tomb"),
        round(max_by(col("value"), col("ver")), 6).as("latest_value"),
        count(lit(1)).as("n_versions"))
      .filter(col("tomb") === 0)
      .drop("tomb")
      .orderBy("user_id")
  }

  val cdcDeleteSql: String = """
    WITH u AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             event_id, value
      FROM events),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts_us DESC, event_id DESC) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS n_versions
      FROM u)
    SELECT user_id, ts_us AS latest_ts_us, event_id AS latest_event_id,
           ROUND(value, 6) AS latest_value, n_versions
    FROM r WHERE rn = 1 AND event_type != 'error'
    ORDER BY user_id"""

  // ---- ordered-sequence funnel (windowFunnel) -------------------------
  /** Time-bounded ORDERED funnel — the windowFunnel class of engines
    * like ClickHouse (q_funnel counts step membership; this one
    * demands view → click → purchase in event order with the whole
    * chain inside a 24 h window of its opening view). The two chained
    * running-max windows of `EventPipeline.withFunnel` over ONE
    * per-user sort resolve the chain without any self-join or per-user
    * collect: at each click, the latest earlier view; at each purchase,
    * the best (latest) view among valid earlier clicks — if any chain
    * fits the window, the max-view chain fits. The user's level is the
    * max of its row steps (the oracle's greatest of per-level maxima:
    * the same number). The oracle replays the identical window
    * construction, so semantics match by construction. Scale shape:
    * one hash exchange on user, one sort, both windows share it. */
  def funnelWindow(s: SparkSession, dir: String): DataFrame =
    EventPipeline.load(s, dir).withFunnel().df
      .groupBy("user_id")
      .agg(max(col("funnel_step")).as("funnel_level"))
      .filter(col("funnel_level") >= 1)
      .orderBy("user_id")

  val funnelWindowSql: String = s"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             event_type
      FROM events),
    lv1 AS (
      SELECT *,
        MAX(CASE WHEN event_type = 'view' THEN ts_us END) OVER
          (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
      FROM ev),
    lv2 AS (
      SELECT *,
        MAX(CASE WHEN event_type = 'click' AND lv IS NOT NULL
                  AND lv < ts_us THEN lv END) OVER
          (PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lvc
      FROM lv1)
    SELECT user_id,
      GREATEST(
        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
        MAX(CASE WHEN event_type = 'click' AND lv IS NOT NULL
                  AND lv < ts_us THEN 2 ELSE 0 END),
        MAX(CASE WHEN event_type = 'purchase' AND lvc IS NOT NULL
                  AND ts_us - lvc <= ${EventPipeline.FunnelChainUs}
             THEN 3 ELSE 0 END)) AS funnel_level
    FROM lv2
    GROUP BY user_id
    HAVING GREATEST(
        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
        MAX(CASE WHEN event_type = 'click' AND lv IS NOT NULL
                  AND lv < ts_us THEN 2 ELSE 0 END),
        MAX(CASE WHEN event_type = 'purchase' AND lvc IS NOT NULL
                  AND ts_us - lvc <= ${EventPipeline.FunnelChainUs}
             THEN 3 ELSE 0 END)) >= 1
    ORDER BY user_id"""

  /** Cohort LTV matrix: users grouped by first-seen WEEK, purchase
    * revenue accumulated per cohort-week × age-week cell with the
    * running cumulative — the lifetime-value companion to q_retention's
    * activity matrix. First-seen joins back by user-key SHUFFLE (the
    * user dimension is unbounded at scale — never broadcast); the
    * cumulative rides a window over the tiny cohort×age matrix and
    * stays DECIMAL until the final cast, so prefix sums are exact, not
    * float-order-dependent.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val ev = Tables.loadEventsUs(s, dir)
      .withColumn("wk", expr("ts_us DIV 604800000000"))
    val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val m = ev.join(first.hint("shuffle_hash"), "user_id")
      .withColumn("age_wk", col("wk") - col("cohort_wk"))
      .groupBy("cohort_wk", "age_wk")
      .agg(count_distinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)).cast(dec)).as("rd"))
    m.withColumn("cum", sum(col("rd")).over(
        Window.partitionBy("cohort_wk").orderBy("age_wk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("cohort_wk"), col("age_wk"), col("n_users"),
        round(col("rd").cast("double"), 4).as("revenue"),
        round(col("cum").cast("double"), 4).as("cum_revenue"))
      .orderBy("cohort_wk", "age_wk")
  }

  val cohortLtvSql: String = """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk,
             event_type, value
      FROM events),
    fs AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1),
    m AS (
      SELECT cohort_wk, wk - cohort_wk AS age_wk,
             COUNT(DISTINCT ev.user_id) AS n_users,
             SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                      ELSE 0.0 END AS DECIMAL(18,6))) AS rd
      FROM ev JOIN fs ON ev.user_id = fs.user_id
      GROUP BY 1, 2)
    SELECT cohort_wk, age_wk, CAST(n_users AS BIGINT) AS n_users,
           ROUND(CAST(rd AS DOUBLE), 4) AS revenue,
           ROUND(CAST(SUM(rd) OVER (PARTITION BY cohort_wk ORDER BY age_wk
             ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS cum_revenue
    FROM m ORDER BY cohort_wk, age_wk"""

  /** One row per (user_id, active epoch day): the activity rollup
    * q_new_vs_returning and q_dau_stickiness start from. */
  private[ops] def userDays(s: SparkSession, dir: String): DataFrame =
    Tables.loadEventsUs(s, dir)
      .select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
      .distinct()

  /** Daily new-vs-returning split: per day, distinct active users
    * partitioned into first-ever-seen (new) and returning — the
    * growth-accounting companion to q_retention. One (user, day) dedup,
    * one first-seen aggregate, one user-key shuffle join back, one
    * daily aggregate; all counts exact integers.
    */
  def newVsReturning(s: SparkSession, dir: String): DataFrame = {
    val daily = userDays(s, dir)
    val first = daily.groupBy("user_id").agg(min(col("day")).as("fd"))
    daily.join(first.hint("shuffle_hash"), "user_id")
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("fd") === col("day"), 1L).otherwise(0L)).as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"))
      .orderBy("day")
  }

  val newVsReturningSql: String = """
    WITH daily AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events),
    fs AS (SELECT user_id, MIN(day) AS fd FROM daily GROUP BY 1)
    SELECT day, COUNT(*) AS n_active,
           CAST(SUM(CASE WHEN fd = day THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           COUNT(*) - CAST(SUM(CASE WHEN fd = day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_returning
    FROM daily JOIN fs ON daily.user_id = fs.user_id
    GROUP BY day ORDER BY day"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("q_cohort_ltv", cohortLtv, Some(cohortLtvSql)),
    QueryDef("q_new_vs_returning", newVsReturning, Some(newVsReturningSql)),
    QueryDef("q_funnel_window", funnelWindow, Some(funnelWindowSql)),
    QueryDef("q_cdc_delete", cdcDelete, Some(cdcDeleteSql)),
    QueryDef("q_retention", retention, Some(retentionSql)),
    QueryDef("q_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    QueryDef("q_top_ngrams", topNgrams, Some(topNgramsSql)),
    QueryDef("q_sessionize", sessionize, Some(sessionizeSql)),
    QueryDef("q_asof_join", asof, Some(asofSql)),
    QueryDef("q_tumbling", tumbling, Some(tumblingSql)),
    QueryDef("q_cdc_compact", cdcCompact, Some(cdcCompactSql)),
    QueryDef("q_scd2", scd2, Some(scd2Sql)),
    QueryDef("q_range_join", rangeJoin, Some(rangeJoinSql)))
}
