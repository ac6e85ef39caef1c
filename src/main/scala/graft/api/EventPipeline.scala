package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fluent event-analytics pipeline — the events-domain sibling of
  * [[CorpusPipeline]] and [[GeoCalculator]] (the reference's fluent
  * Calculator chain, re-aimed at a clickstream): sessionization,
  * last-touch attribution and the per-user summary declared as lazy
  * column transforms over ONE shared per-user window, so the whole
  * chain compiles into a single Catalyst plan with ONE user-hash
  * exchange and ONE sort feeding every windowed signal
  * (PlanAuditSpec pins the single exchange).
  *
  * {{{
  * EventPipeline(eventsUs)          // (user_id, ts_us, event_id, event_type, value)
  *   .withSessions()                // 30-min gap session ids
  *   .withAttribution()             // 24 h last-touch carry
  *   .userSummary()                 // one row per user
  * }}}
  *
  * Each step is the one batch definition of its signal, and the report
  * ops run it plus a projection: q_sessionize (withSessions),
  * q_funnel_window (withFunnel), q_retention (withRetention's
  * first-seen), q_attribution (withAttribution), events_pipeline[_full]
  * (the chain + userSummary). The companion holds each step's window
  * constant and the rules the streaming twins fold with (session
  * opening, touch carry and credit), each next to its `Column` form.
  */
final case class EventPipeline(df: DataFrame) {
  import EventPipeline._

  private def w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
  private def run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Gap-based session ids per user (running count of gap starts). */
  def withSessions(gapUs: Long = SessionGapUs): EventPipeline = copy(
    df = df
      .withColumn("_prev", lag(col("ts_us"), 1).over(w))
      .withColumn("_start",
        when(opensSession(col("_prev"), col("ts_us"), gapUs), 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("_start")).over(run))
      .drop("_prev"))

  /** Last click/view carried to each row; `touch` is the channel a
    * purchase credits (null on other rows). Both carried columns sit in
    * ONE select: a withColumn chain would interleave a Project and keep
    * CollapseWindow from fusing them into one Window node. */
  def withAttribution(windowUs: Long = TouchWindowUs): EventPipeline = copy(
    df = df
      .select(col("*"),
        last(when(isTouch(col("event_type")), col("ts_us")), ignoreNulls = true)
          .over(run).as("_lt_ts"),
        last(when(isTouch(col("event_type")), col("event_type")), ignoreNulls = true)
          .over(run).as("_lt_type"))
      .withColumn("touch",
        when(col("event_type") === "purchase",
          creditedTouch(col("_lt_ts"), col("_lt_type"), col("ts_us"), windowUs)))
      .drop("_lt_ts", "_lt_type"))

  /** Running ordered-funnel step per row — the q_funnel_window
    * construction (levels 1 view / 2 view→click / 3 chain purchase
    * within `chainUs` of its opening view) over the SAME shared user
    * window: both running maxima chain onto the one sort, so the step
    * costs no new exchange. */
  def withFunnel(chainUs: Long = FunnelChainUs): EventPipeline = copy(
    df = {
      val withLv = df.withColumn("_lv",
        max(when(col("event_type") === "view", col("ts_us"))).over(run))
      withLv.withColumn("_lvc",
        max(when(col("event_type") === "click" && col("_lv").isNotNull &&
          col("_lv") < col("ts_us"), col("_lv"))).over(run))
        .withColumn("funnel_step", greatest(
          when(col("event_type") === "view", 1).otherwise(0),
          when(col("event_type") === "click" && col("_lv").isNotNull &&
            col("_lv") < col("ts_us"), 2).otherwise(0),
          when(col("event_type") === "purchase" && col("_lvc").isNotNull &&
            col("ts_us") - col("_lvc") <= chainUs, 3).otherwise(0)))
        .drop("_lv", "_lvc")
    })

  /** First-seen anchor (`_first_ts`, q_retention's cohort source),
    * activity day, and period-1 return flag per row. The first-seen
    * minimum rides a whole-partition frame over the SAME
    * partition/order, so it shares the one sort and exchange. */
  def withRetention(periodUs: Long = RetentionPeriodUs): EventPipeline =
    copy(df = df
      .withColumn("_first_ts",
        min(col("ts_us")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("_ret_p1",
        when(col("ts_us") - col("_first_ts") >= periodUs &&
          col("ts_us") - col("_first_ts") < 2 * periodUs, 1L)
          .otherwise(0L))
      .withColumn("_day",
        floor(col("ts_us") / lit(86400000000L)).cast("long")))

  private def dsum6(c: Column): Column = graft.QueryDef.dsum(c, 6)

  /** One row per user: activity, session and attributed-revenue
    * profile — plus the funnel level and retention columns when the
    * corresponding steps ran. All windowed inputs were computed over
    * the one shared user sort; this aggregate reuses the same hash
    * partitioning. Distinct active days use size(collect_set(day))
    * rather than COUNT(DISTINCT) — one hash aggregate with per-user
    * state bounded by calendar days, instead of the Expand-based
    * distinct plan that would add a second exchange. */
  def userSummary(): DataFrame = {
    val aggs = Seq.newBuilder[Column]
    aggs += max(col("session_id")).as("n_sessions")
    aggs += sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
      .as("n_purchases")
    aggs += round(coalesce(dsum6(when(col("touch") === "click",
      col("value"))), lit(0.0)), 4).as("rev_click")
    aggs += round(coalesce(dsum6(when(col("touch") === "view",
      col("value"))), lit(0.0)), 4).as("rev_view")
    aggs += round(coalesce(dsum6(when(col("touch") === "none",
      col("value"))), lit(0.0)), 4).as("rev_none")
    if (df.columns.contains("funnel_step"))
      aggs += max(col("funnel_step")).as("funnel_level")
    if (df.columns.contains("_day")) {
      aggs += size(collect_set(col("_day"))).cast("long").as("n_active_days")
      aggs += max(col("_ret_p1")).as("retained_p1")
    }
    df.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), aggs.result(): _*)
      .orderBy("user_id")
  }
}

object EventPipeline {
  val SessionGapUs: Long = 30L * 60 * 1000000        // inactivity gap: 30 min
  val TouchWindowUs: Long = 24L * 3600 * 1000000     // touch creditable: 24 h
  val FunnelChainUs: Long = 24L * 3600 * 1000000     // view → purchase: 24 h
  val RetentionPeriodUs: Long = 7L * 86400 * 1000000 // period (cohort week)

  /** The chain over `dir`'s events, with the columns the steps read. */
  def load(s: SparkSession, dir: String): EventPipeline =
    EventPipeline(graft.Tables.loadEventsUs(s, dir)
      .select("user_id", "ts_us", "event_id", "event_type", "value"))

  /** "No earlier event" in the scalar rules. */
  val NoEvent: Long = Long.MinValue

  /** Session rule: an event opens a session when it is its user's
    * first or follows the previous one by more than `gapUs`. */
  def opensSession(prevUs: Column, tsUs: Column, gapUs: Long): Column =
    prevUs.isNull || tsUs - prevUs > gapUs
  def opensSession(prevUs: Long, tsUs: Long, gapUs: Long): Boolean =
    prevUs == NoEvent || tsUs - prevUs > gapUs

  /** Touch carry: clicks and views replace the carried touch. */
  private val TouchTypes = Seq("click", "view")
  def isTouch(eventType: Column): Column = eventType.isin(TouchTypes: _*)
  def isTouch(eventType: String): Boolean = TouchTypes.contains(eventType)

  /** Touch credit: a purchase credits the carried touch's type when it
    * lies at most `windowUs` before, else "none" (null `touchType`: no
    * touch carried). */
  def creditedTouch(touchUs: Column, touchType: Column, tsUs: Column,
                    windowUs: Long): Column =
    when(touchUs.isNotNull && tsUs - touchUs <= windowUs, touchType)
      .otherwise("none")
  def creditedTouch(touchUs: Long, touchType: String, tsUs: Long,
                    windowUs: Long): String =
    if (touchType != null && tsUs - touchUs <= windowUs) touchType else "none"
}
