package graft.ops

import graft.{QueryDef, Tables}
import graft.api.EventPipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-journey operators over the event stream: regex sequence matching
  * (the MATCH_RECOGNIZE / ClickHouse-windowFunnel class, generalized
  * from q_funnel_window's fixed 3-step chain to arbitrary patterns with
  * negations) and first-order Markov transition structure.
  *
  * Reference analog: duckpipe has no event-sequence surface; these are
  * the product-analytics operators a warehouse runs next to funnels.
  *
  * Regex policy: patterns restricted to the Java∩RE2 intersection
  * (character classes, *, anchors — no lookaround/backrefs), the
  * text_pii precedent, so Spark's Java regex and DuckDB's RE2 agree.
  */
object Journey {

  /** Per-user journey length cap: the collect-per-user state bound. At
    * 99 events/user in the synthetic stream this never binds; a corpus
    * that exceeds it fails LOUDLY instead of silently truncating a
    * sequence (which would corrupt negated patterns like [^p]*$). */
  private val Cap = 4096

  private def code: Column =
    when(col("event_type") === "click", "c")
      .when(col("event_type") === "error", "e")
      .when(col("event_type") === "purchase", "p")
      .when(col("event_type") === "signup", "s")
      .when(col("event_type") === "view", "v")
      .otherwise(raise_error(concat(lit("q_sequence_match: unknown event_type "),
        col("event_type"))))

  /** Regex sequence match over per-user event-code strings: each user's
    * journey is rendered once as an ordered single-char code string
    * (ONE shuffle on the user key; state per user = its own journey,
    * capped loudly at [[Cap]]), then every pattern is a conditional
    * count in ONE aggregate — adding patterns costs zero extra passes.
    * Patterns exercise the shapes fixed-step funnels cannot express:
    * a negated-gap chain (view→click→purchase with no purchase
    * between), an absorbing failure (error never followed by a
    * purchase), and an anchored prefix (purchase before any view or
    * click).
    */
  def sequenceMatch(s: SparkSession, dir: String): DataFrame =
    renderMatchesFrom(Tables.loadEventsUs(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), code.as("code")))

  private[graft] def renderMatchesFrom(ev: DataFrame): DataFrame = {
    val arr = array_sort(collect_list(struct(col("ts_us"), col("event_id"),
      col("code"))))
    val seqs = ev.groupBy("user_id")
      .agg(arr.as("arr"))
      .select(when(size(col("arr")) <= Cap,
        array_join(transform(col("arr"), x => x.getField("code")), ""))
        .otherwise(raise_error(concat(lit("q_sequence_match: journey longer "),
          lit(s"than $Cap events for user "), col("user_id").cast("string"))))
        .as("s"))
    val m = seqs.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("s").rlike("v[^p]*c[^p]*p"), 1L).otherwise(0L)).as("m1"),
      sum(when(col("s").rlike("e[^p]*$"), 1L).otherwise(0L)).as("m2"),
      sum(when(col("s").rlike("^[^vc]*p"), 1L).otherwise(0L)).as("m3"))
    m.select(expr(
        """stack(3, 'browse_buy', m1, 'error_churn', m2, 'direct_buy', m3)
           AS (pattern, n_matched)"""),
        col("n_users"))
      .select(col("pattern"), col("n_users"), col("n_matched"),
        round(col("n_matched").cast("double") / col("n_users"), 6)
          .as("match_rate"))
      .orderBy("pattern")
  }

  val sequenceMatchSql: String = """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id,
        CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
          WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
          WHEN 'view' THEN 'v' END AS code
      FROM events),
    seqs AS (
      SELECT user_id, string_agg(code, '' ORDER BY t, event_id) AS s
      FROM ev GROUP BY 1),
    m AS (
      SELECT COUNT(*) AS n_users,
        SUM(CASE WHEN regexp_matches(s, 'v[^p]*c[^p]*p') THEN 1 ELSE 0 END) AS m1,
        SUM(CASE WHEN regexp_matches(s, 'e[^p]*$') THEN 1 ELSE 0 END) AS m2,
        SUM(CASE WHEN regexp_matches(s, '^[^vc]*p') THEN 1 ELSE 0 END) AS m3
      FROM seqs)
    SELECT pattern, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_matched AS BIGINT) AS n_matched,
           ROUND(CAST(n_matched AS DOUBLE) / n_users, 6) AS match_rate
    FROM (
      SELECT 'browse_buy' AS pattern, n_users, m1 AS n_matched FROM m
      UNION ALL SELECT 'error_churn', n_users, m2 FROM m
      UNION ALL SELECT 'direct_buy', n_users, m3 FROM m)
    ORDER BY pattern"""

  /** The scale-safe twin of [[sequenceMatch]]: each pattern COMPILED to
    * an incremental state machine instead of a journey-string render —
    * O(1) state per user, so there is no cap to blow past (the string
    * form aborts loudly beyond [[Cap]] events/user; this form just
    * keeps folding). The compilation, per pattern (the q_funnel_window
    * running-max trick generalized):
    *
    *  - `v[^p]*c[^p]*p` (browse_buy): a 'c' at position j is a LIVE
    *    BRIDGE iff last-'v'-before-j exists and is later than
    *    last-'p'-before-j (no p inside the v..c gap); the pattern
    *    matches iff some live bridge has a 'p' after it — i.e.
    *    min(bridge positions) < max('p' positions). The first p after
    *    a bridge has no p before it inside the c..p gap by
    *    definition, so the two [^p]* gaps collapse to two running
    *    maxima and one min/max comparison.
    *  - `e[^p]*$` (error_churn): last 'e' after last 'p' (or no p).
    *  - `^[^vc]*p` (direct_buy): first 'p' before first 'v'/'c'.
    *
    * Physical shape: ONE user-hash window (two running maxima share
    * the node) whose partitioning the per-user aggregate reuses —
    * a single exchange, all aggregates commutative min/max over the
    * packed (ts, event_id) order key. Registered against the SAME
    * oracle as the string form: hash-equality IS the twin proof. */
  private[graft] def nfaMatchesFrom(ev: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lastV = max(when(col("code") === "v", col("k"))).over(wPrev)
    val lastP = max(when(col("code") === "p", col("k"))).over(wPrev)
    val per = ev
      .withColumn("bridge_c", when(col("code") === "c" && lastV.isNotNull &&
        (lastP.isNull || lastV > lastP), col("k")))
      .groupBy("user_id")
      .agg(min(col("bridge_c")).as("min_bridge"),
        max(when(col("code") === "p", col("k"))).as("last_p"),
        min(when(col("code") === "p", col("k"))).as("first_p"),
        max(when(col("code") === "e", col("k"))).as("last_e"),
        min(when(col("code") === "v" || col("code") === "c", col("k")))
          .as("first_vc"))
    per.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("min_bridge").isNotNull && col("last_p").isNotNull &&
        col("last_p") > col("min_bridge"), 1L).otherwise(0L)).as("m1"),
      sum(when(col("last_e").isNotNull &&
        (col("last_p").isNull || col("last_e") > col("last_p")), 1L)
        .otherwise(0L)).as("m2"),
      sum(when(col("first_p").isNotNull &&
        (col("first_vc").isNull || col("first_p") < col("first_vc")), 1L)
        .otherwise(0L)).as("m3"))
      .select(expr(
        """stack(3, 'browse_buy', m1, 'error_churn', m2, 'direct_buy', m3)
           AS (pattern, n_matched)"""),
        col("n_users"))
      .select(col("pattern"), col("n_users"), col("n_matched"),
        round(col("n_matched").cast("double") / col("n_users"), 6)
          .as("match_rate"))
      .orderBy("pattern")
  }

  def sequenceMatchNfa(s: SparkSession, dir: String): DataFrame =
    nfaMatchesFrom(Tables.loadEventsUs(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), code.as("code"))
      .withColumn("k", Events.packedVer))

  /** First-order Markov transition matrix over event types: counts and
    * conditional probabilities P(to | from) of consecutive event pairs
    * per user. ONE per-user lag window (single shuffle) + one hash
    * aggregate; the row-normalizing total rides a window over the tiny
    * 5×5 count matrix. Probabilities are single divisions of exact
    * integer counts — bit-deterministic cross-engine.
    */
  def markov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val tr = Tables.loadEventsUs(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type").as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    val counts = tr.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    counts
      .withColumn("tot", sum(col("n")).over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  val markovSql: String = """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id,
             event_type
      FROM events),
    tr AS (
      SELECT event_type AS to_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS from_type
      FROM ev),
    counts AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM tr WHERE from_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6)
             AS p
    FROM counts ORDER BY from_type, to_type"""

  /** Top-10 three-step user paths (the Sankey/path-analysis rollup):
    * consecutive event-type trigrams per user journey, globally
    * counted. Two lead windows sharing ONE per-user sort (single
    * shuffle), one hash aggregate, TakeOrdered for the top-10 with a
    * full (count desc, path) tie-break — the q_top_movers shape.
    */
  def path3(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.loadEventsUs(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type").as("t0"))
      .withColumn("t1", lead(col("t0"), 1).over(w))
      .withColumn("t2", lead(col("t0"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(concat_ws(">", col("t0"), col("t1"), col("t2")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(10)
  }

  val path3Sql: String = """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id,
             event_type AS t0
      FROM events),
    tri AS (
      SELECT t0,
             LEAD(t0, 1) OVER w AS t1,
             LEAD(t0, 2) OVER w AS t2
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
    SELECT t0 || '>' || t1 || '>' || t2 AS path, COUNT(*) AS n
    FROM tri WHERE t2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 10"""

  /** Last-touch revenue attribution: every purchase credits its value
    * to the most recent click/view by the same user within 24 h (else
    * 'none') — the marketing-attribution operator behind channel ROI
    * reports. The carried touch is `EventPipeline.withAttribution`:
    * ONE per-user window (two last_value(ignoreNulls) columns sharing
    * the same sort/exchange — no self-join, no per-purchase scan-back),
    * then one conditional hash aggregate over the purchases; revenue
    * sums are decimal-routed (QueryDef.dsum policy). The same window
    * construction is stated in the oracle, so hash equality certifies
    * the carry semantics including the same-instant tie order
    * (t, event_id).
    */
  def attribution(s: SparkSession, dir: String): DataFrame =
    EventPipeline.load(s, dir).withAttribution().df
      .filter(col("event_type") === "purchase")
      .groupBy("touch")
      .agg(count(lit(1)).as("n_purchases"),
        round(QueryDef.dsum(col("value"), 6), 4).as("revenue"))
      .orderBy("touch")

  val attributionSql: String = """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id,
             event_type, value
      FROM events),
    m AS (
      SELECT user_id, t, event_id, event_type, value,
        LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN t END
                   IGNORE NULLS) OVER w AS lt_ts,
        LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN event_type
                   END IGNORE NULLS) OVER w AS lt_type
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT CASE WHEN lt_ts IS NOT NULL AND t - lt_ts <= 86400000000
             THEN lt_type ELSE 'none' END AS touch,
           COUNT(*) AS n_purchases,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS revenue
    FROM m WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1"""

  /** The fluent event-analytics chain end-to-end (api.EventPipeline):
    * sessionization + last-touch attribution + per-user summary as ONE
    * fused Catalyst plan — every windowed signal rides a single
    * user-hash exchange and the final aggregate reuses its
    * partitioning (PlanAuditSpec pins exactly one hash exchange).
    * The oracle replays the identical window constructions, so hash
    * equality certifies the whole composed pipeline, not just its
    * pieces.
    */
  def eventsPipeline(s: SparkSession, dir: String): DataFrame =
    EventPipeline.load(s, dir).withSessions().withAttribution().userSummary()

  /** The fluent chain at full width: sessions + attribution + funnel +
    * retention composed into the SAME single-exchange plan — the two
    * extra steps ride the shared user sort (running funnel maxima +
    * a whole-partition first-seen frame), and the summary still reuses
    * the window's hash partitioning (PlanAuditSpec pins exactly one
    * exchange for this plan too). */
  def eventsPipelineFull(s: SparkSession, dir: String): DataFrame =
    EventPipeline.load(s, dir)
      .withSessions().withAttribution().withFunnel().withRetention()
      .userSummary()

  val eventsPipelineSql: String = """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id,
             event_type, value
      FROM events),
    m AS (
      SELECT user_id, t, event_id, event_type, value,
        LAG(t) OVER wn AS prev,
        LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN t END
                   IGNORE NULLS) OVER wr AS lt_ts,
        LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                   THEN event_type END IGNORE NULLS) OVER wr AS lt_type
      FROM ev
      WINDOW wn AS (PARTITION BY user_id ORDER BY t, event_id),
             wr AS (PARTITION BY user_id ORDER BY t, event_id
                    ROWS UNBOUNDED PRECEDING)),
    st AS (
      SELECT *, CASE WHEN prev IS NULL OR t - prev > 1800000000
                     THEN 1 ELSE 0 END AS s0
      FROM m),
    s2 AS (
      SELECT *,
        SUM(s0) OVER (PARTITION BY user_id ORDER BY t, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_id,
        CASE WHEN event_type = 'purchase' THEN
          CASE WHEN lt_ts IS NOT NULL AND t - lt_ts <= 86400000000
               THEN lt_type ELSE 'none' END END AS touch
      FROM st)
    SELECT user_id, COUNT(*) AS n_events,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_purchases,
           ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN touch = 'click'
             THEN value END AS DECIMAL(18,6))) AS DOUBLE), 0.0), 4)
             AS rev_click,
           ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN touch = 'view'
             THEN value END AS DECIMAL(18,6))) AS DOUBLE), 0.0), 4)
             AS rev_view,
           ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN touch = 'none'
             THEN value END AS DECIMAL(18,6))) AS DOUBLE), 0.0), 4)
             AS rev_none
    FROM s2 GROUP BY user_id ORDER BY user_id"""

  val eventsPipelineFullSql: String = """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id,
             event_type, value
      FROM events),
    m AS (
      SELECT user_id, t, event_id, event_type, value,
        LAG(t) OVER wn AS prev,
        LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN t END
                   IGNORE NULLS) OVER wr AS lt_ts,
        LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                   THEN event_type END IGNORE NULLS) OVER wr AS lt_type,
        MAX(CASE WHEN event_type = 'view' THEN t END) OVER wr AS lv,
        MIN(t) OVER (PARTITION BY user_id) AS first_ts
      FROM ev
      WINDOW wn AS (PARTITION BY user_id ORDER BY t, event_id),
             wr AS (PARTITION BY user_id ORDER BY t, event_id
                    ROWS UNBOUNDED PRECEDING)),
    st AS (
      SELECT *, CASE WHEN prev IS NULL OR t - prev > 1800000000
                     THEN 1 ELSE 0 END AS s0
      FROM m),
    s2 AS (
      SELECT *,
        SUM(s0) OVER wr AS session_id,
        MAX(CASE WHEN event_type = 'click' AND lv IS NOT NULL AND lv < t
                 THEN lv END) OVER wr AS lvc,
        CASE WHEN event_type = 'purchase' THEN
          CASE WHEN lt_ts IS NOT NULL AND t - lt_ts <= 86400000000
               THEN lt_type ELSE 'none' END END AS touch
      FROM st
      WINDOW wr AS (PARTITION BY user_id ORDER BY t, event_id
                    ROWS UNBOUNDED PRECEDING)),
    s3 AS (
      SELECT *,
        GREATEST(
          CASE WHEN event_type = 'view' THEN 1 ELSE 0 END,
          CASE WHEN event_type = 'click' AND lv IS NOT NULL AND lv < t
               THEN 2 ELSE 0 END,
          CASE WHEN event_type = 'purchase' AND lvc IS NOT NULL
                AND t - lvc <= 86400000000 THEN 3 ELSE 0 END)
          AS funnel_step,
        CASE WHEN t - first_ts >= 604800000000
              AND t - first_ts < 1209600000000 THEN 1 ELSE 0 END AS ret_p1,
        t // 86400000000 AS day
      FROM s2)
    SELECT user_id, COUNT(*) AS n_events,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_purchases,
           ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN touch = 'click'
             THEN value END AS DECIMAL(18,6))) AS DOUBLE), 0.0), 4)
             AS rev_click,
           ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN touch = 'view'
             THEN value END AS DECIMAL(18,6))) AS DOUBLE), 0.0), 4)
             AS rev_view,
           ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN touch = 'none'
             THEN value END AS DECIMAL(18,6))) AS DOUBLE), 0.0), 4)
             AS rev_none,
           CAST(MAX(funnel_step) AS INTEGER) AS funnel_level,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_active_days,
           CAST(MAX(ret_p1) AS BIGINT) AS retained_p1
    FROM s3 GROUP BY user_id ORDER BY user_id"""

  /** DAU / trailing-7-day WAU / trailing-30-day MAU + the DAU/MAU
    * stickiness ratio — the product-analytics headline series. The
    * COUNT(DISTINCT) OVER RANGE shape follows q_sliding_distinct's
    * contribution EXPLODE: dedup (user, day) once, fan each activity
    * day to the ≤7 (resp. ≤30) report days it supports — map-side,
    * bounded 37× of the tiny (user, day) rollup — and count distinct
    * per report day; report days beyond the observed span are clipped
    * so every row reflects real data. Stickiness divides exact
    * integers, rounded at 6 dp.
    */
  def dauStickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = Events.userDays(s, dir)
    val span = ud.agg(max(col("day")).as("max_day"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    def trailing(width: Int, name: String): DataFrame =
      ud.crossJoin(broadcast(span))
        .select(col("user_id"),
          explode(sequence(col("day"), least(col("day") + (width - 1),
            col("max_day")))).as("rd"))
        .distinct()
        .groupBy(col("rd").as("day")).agg(count(lit(1)).as(name))
    dau.join(trailing(7, "wau"), "day")
      .join(trailing(30, "mau"), "day")
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
      .orderBy("day")
  }

  val dauStickinessSql: String = """
    WITH ud AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events),
    span AS (SELECT MAX(day) AS max_day FROM ud),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
    wau AS (
      SELECT rd AS day, COUNT(DISTINCT user_id) AS wau FROM (
        SELECT user_id, unnest(generate_series(day,
          least(day + 6, max_day))) AS rd
        FROM ud, span)
      GROUP BY 1),
    mau AS (
      SELECT rd AS day, COUNT(DISTINCT user_id) AS mau FROM (
        SELECT user_id, unnest(generate_series(day,
          least(day + 29, max_day))) AS rd
        FROM ud, span)
      GROUP BY 1)
    SELECT dau.day, dau.dau, wau.wau, mau.mau,
           ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
    FROM dau JOIN wau ON wau.day = dau.day JOIN mau ON mau.day = dau.day
    ORDER BY dau.day"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("q_dau_stickiness", dauStickiness, Some(dauStickinessSql)),
    QueryDef("events_pipeline", eventsPipeline, Some(eventsPipelineSql)),
    QueryDef("events_pipeline_full", eventsPipelineFull,
      Some(eventsPipelineFullSql)),
    QueryDef("q_sequence_match", sequenceMatch, Some(sequenceMatchSql)),
    QueryDef("q_sequence_match_nfa", sequenceMatchNfa, Some(sequenceMatchSql)),
    QueryDef("q_markov", markov, Some(markovSql)),
    QueryDef("q_path3", path3, Some(path3Sql)),
    QueryDef("q_attribution", attribution, Some(attributionSql)))
}
