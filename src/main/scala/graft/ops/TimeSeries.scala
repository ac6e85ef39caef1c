package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series operators over the events stream: sweep-line interval
  * concurrency via a DISTRIBUTED prefix sum, and tap-based exponential
  * smoothing. Both follow the house determinism policy (decimal-routed
  * sums, fully tie-broken orders) so the DuckDB oracle hash-matches.
  */
object TimeSeries {

  private val DayUs = 86400000000L
  private[graft] val SessUs = 30L * 60 * 1000000 // 30-min interval per event

  /** Max interval concurrency per event type (each event opens a 30-min
    * interval): the sweep-line +1/−1 running sum — but as a DISTRIBUTED
    * prefix sum, never one global window. Deltas are bucketed by day;
    * a window per (type, day) computes the LOCAL running sum, a tiny
    * per-bucket rollup cumsums the bucket totals per type (the carry),
    * and the global concurrency is carry + local — two narrow shuffles
    * and O(rows/bucket) memory at any scale, where the textbook single
    * `SUM OVER (PARTITION BY type ORDER BY t)` serializes each type on
    * one task. Tie order (t, delta, event_id) is total, with −1 before
    * +1 at equal t — end-exclusive intervals (back-to-back intervals
    * never overlap). The oracle states the same semantics as the plain
    * global running sum, so hash equality certifies the decomposition.
    * Peak pick: max concurrency per type, then earliest instant that
    * attains it via a tiny broadcast join-back (a packed argmax would
    * overflow: t ~ 1.7e15 µs leaves no headroom above the count).
    */
  def intervalSweep(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadEventsUs(s, dir)
      .select(col("event_type"), col("ts_us"), col("event_id"))
    val deltas = ev.select(col("event_type"), col("ts_us").as("t"),
        lit(1).as("d"), col("event_id"))
      .unionAll(ev.select(col("event_type"),
        (col("ts_us") + lit(SessUs)).as("t"), lit(-1).as("d"),
        col("event_id")))
    val bucketed = deltas.withColumn("bk", expr("t DIV 86400000000"))
    val local = bucketed.withColumn("c_local",
      sum(col("d")).over(Window.partitionBy("event_type", "bk")
        .orderBy(col("t"), col("d"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val carry = bucketed.groupBy("event_type", "bk")
      .agg(sum(col("d")).as("tot"))
      .withColumn("carry",
        coalesce(sum(col("tot")).over(Window.partitionBy("event_type")
          .orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("event_type").as("ct"), col("bk").as("cb"), col("carry"))
    val conc = local.join(broadcast(carry),
        col("event_type") === col("ct") && col("bk") === col("cb"))
      .select(col("event_type"), col("t"),
        (col("carry") + col("c_local")).as("c"))
    val peak = conc.groupBy("event_type").agg(max(col("c")).as("max_concurrent"))
    conc.join(broadcast(peak), Seq("event_type"))
      .filter(col("c") === col("max_concurrent"))
      .groupBy("event_type")
      .agg(first(col("max_concurrent")).as("max_concurrent"),
        min(col("t")).as("peak_t_us"))
      .join(ev.groupBy("event_type").agg(count(lit(1)).as("n_intervals")),
        Seq("event_type"))
      .select(col("event_type"), col("n_intervals"),
        col("max_concurrent"), col("peak_t_us"))
      .orderBy("event_type")
  }

  val intervalSweepSql: String = """
    WITH ev AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id FROM events),
    deltas AS (
      SELECT event_type, t, 1 AS d, event_id FROM ev
      UNION ALL
      SELECT event_type, t + 1800000000, -1, event_id FROM ev),
    sweep AS (
      SELECT event_type, t,
             SUM(d) OVER (PARTITION BY event_type
                          ORDER BY t, d, event_id) AS c
      FROM deltas),
    peak AS (
      SELECT event_type, MAX(c) AS max_concurrent FROM sweep GROUP BY 1),
    counts AS (SELECT event_type, COUNT(*) AS n_intervals FROM ev GROUP BY 1)
    SELECT s.event_type, n.n_intervals,
           CAST(p.max_concurrent AS BIGINT) AS max_concurrent,
           MIN(s.t) AS peak_t_us
    FROM sweep s
    JOIN peak p ON s.event_type = p.event_type AND s.c = p.max_concurrent
    JOIN counts n ON s.event_type = n.event_type
    GROUP BY s.event_type, n.n_intervals, p.max_concurrent
    ORDER BY s.event_type"""

  /** Exponentially-weighted moving average of the daily mean value per
    * event type — 8 dyadic taps (weight 2⁻ᵏ on the k-th previous
    * OBSERVATION, normalized over the taps present), the smoothing
    * signal dashboards layer over q_top_movers' raw deltas. Aggregate
    * FIRST: the per-(type, day) rollup is tiny at any scale, so the lag
    * window runs over thousands of rows, never the raw stream. Dyadic
    * weights are exact in binary, the daily mean is the same 6-dp
    * davg double in both engines, and each tap term is cast to
    * DECIMAL(38,16) before the sum — order-proof, then one double
    * division at the end (the q_stats recipe).
    */
  def ewma(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEventsUs(s, dir)
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .groupBy("event_type", "day")
      .agg(QueryDef.davg(col("value"), 6).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    // x is never NULL (the group exists), so absent taps can fold to a
    // decimal 0 and the sums stay LINEAR expression trees — a
    // coalesce(a+b, a, b) chain would double the subtree per tap
    // (the CLAUDE.md expression-duplication tax)
    val zero = lit(BigDecimal(0)).cast(DecimalType(38, 16))
    val taps = (0 to 7).map { k =>
      val xv = if (k == 0) col("x") else lag(col("x"), k).over(w)
      val wt = math.pow(0.5, k)
      (coalesce((xv * lit(wt)).cast(DecimalType(38, 16)), zero),
       when(xv.isNotNull, lit(BigDecimal(wt)).cast(DecimalType(38, 16)))
         .otherwise(zero))
    }
    val num = taps.map(_._1).reduce(_ + _)
    val den = taps.map(_._2).reduce(_ + _)
    daily.select(col("event_type"), col("day"), col("x"),
        num.as("num"), den.as("den"))
      .select(col("event_type"), col("day"), col("x"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("ewma"))
      .orderBy("event_type", "day")
  }

  val ewmaSql: String = {
    val tapsNum = (0 to 7).map { k =>
      val x = if (k == 0) "x"
      else s"LAG(x, $k) OVER (PARTITION BY event_type ORDER BY day)"
      val wt = java.math.BigDecimal.valueOf(math.pow(0.5, k)).toPlainString
      s"COALESCE(CAST($x * CAST($wt AS DOUBLE) AS DECIMAL(38,16)), CAST(0 AS DECIMAL(38,16)))"
    }
    val tapsDen = (0 to 7).map { k =>
      val x = if (k == 0) "x"
      else s"LAG(x, $k) OVER (PARTITION BY event_type ORDER BY day)"
      val wt = java.math.BigDecimal.valueOf(math.pow(0.5, k)).toPlainString
      s"CASE WHEN $x IS NOT NULL THEN CAST($wt AS DECIMAL(38,16)) ELSE CAST(0 AS DECIMAL(38,16)) END"
    }
    s"""
    WITH daily AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS x
      FROM events GROUP BY 1, 2),
    tapped AS (
      SELECT event_type, day, x,
             ${tapsNum.mkString(" + ")} AS num,
             ${tapsDen.mkString(" + ")} AS den
      FROM daily)
    SELECT event_type, day, x,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma
    FROM tapped ORDER BY event_type, day"""
  }

  /** Two-sample A/B test per event type: Welch z on `value` between
    * the hash-bucket variants (k even = A, k odd = B — assignment by
    * bucket, the standard experiment design). ONE conditional-
    * aggregation pass (never two scans outer-joined back); moments
    * ride the q_stats decimal power sums so both engines hold
    * identical doubles, and the only non-arithmetic call is sqrt —
    * IEEE-754 correctly rounded in both engines, unlike log/exp, so
    * the z-score itself passes the hash gate at 6 dp.
    */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column, sc: Int) = c.cast(DecimalType(28, sc))
    val isA = from_json(col("props"), lit("k INT"))
      .getField("k") % 2 === 0
    val v = col("value")
    Tables.load(s, dir, "events")
      .select(col("event_type"), isA.as("is_a"), v.as("value"))
      .groupBy("event_type")
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a"), d(col("value"), 6))).cast("double").as("sa"),
        sum(when(!col("is_a"), d(col("value"), 6))).cast("double").as("sb"),
        sum(when(col("is_a"), d(col("value") * col("value"), 8)))
          .cast("double").as("sa2"),
        sum(when(!col("is_a"), d(col("value") * col("value"), 8)))
          .cast("double").as("sb2"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("sa") / col("n_a"), 6).as("mean_a"),
        round(col("sb") / col("n_b"), 6).as("mean_b"),
        round(
          (col("sa") / col("n_a") - col("sb") / col("n_b")) /
            sqrt(
              ((col("sa2") * col("n_a") - col("sa") * col("sa")) /
                (col("n_a") * (col("n_a") - 1))) / col("n_a") +
              ((col("sb2") * col("n_b") - col("sb") * col("sb")) /
                (col("n_b") * (col("n_b") - 1))) / col("n_b")), 6).as("z"),
        when(abs(
          (col("sa") / col("n_a") - col("sb") / col("n_b")) /
            sqrt(
              ((col("sa2") * col("n_a") - col("sa") * col("sa")) /
                (col("n_a") * (col("n_a") - 1))) / col("n_a") +
              ((col("sb2") * col("n_b") - col("sb") * col("sb")) /
                (col("n_b") * (col("n_b") - 1))) / col("n_b"))) > 1.96,
          1).otherwise(0).as("significant"))
      .orderBy("event_type")
  }

  val abTestSql: String = {
    val za = "(sa / n_a - sb / n_b) / sqrt(((sa2 * n_a - sa * sa) / (n_a * (n_a - 1))) / n_a + ((sb2 * n_b - sb * sb) / (n_b * (n_b - 1))) / n_b)"
    s"""
    WITH e AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$$.k') AS INTEGER) % 2 = 0
               AS is_a,
             value
      FROM events),
    m AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN is_a
               THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS sa,
             CAST(SUM(CASE WHEN NOT is_a
               THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS sb,
             CAST(SUM(CASE WHEN is_a
               THEN CAST(value * value AS DECIMAL(28,8)) END) AS DOUBLE)
               AS sa2,
             CAST(SUM(CASE WHEN NOT is_a
               THEN CAST(value * value AS DECIMAL(28,8)) END) AS DOUBLE)
               AS sb2
      FROM e GROUP BY 1)
    SELECT event_type, n_a, n_b,
           ROUND(sa / n_a, 6) AS mean_a,
           ROUND(sb / n_b, 6) AS mean_b,
           ROUND($za, 6) AS z,
           CASE WHEN abs($za) > 1.96 THEN 1 ELSE 0 END AS significant
    FROM m ORDER BY event_type"""
  }

  /** Lag-k autocorrelation (k = 1..7) of the daily event-count series
    * per type — the seasonality detector (a weekly cycle shows as an
    * r-spike at lag 7). Aggregate FIRST: the per-(type, day) rollup is
    * tiny at any scale, so the 7 lag pairs ride ONE window over it,
    * stacked into (lag, x, y) rows and folded by one hash aggregate.
    * Pairs pair day t with OBSERVED day t−k only (a gap in the series
    * contributes no pair, rather than silently pairing across it).
    * Counts are integers, so every power sum is exact; Pearson r is
    * then pure double arithmetic + one sqrt (IEEE-correctly rounded in
    * both engines — the q_stats/abtest policy), rounded at 6 dp.
    * Degenerate (constant) segments yield NULL r via a zero-variance
    * guard, mirrored in the oracle.
    */
  def autocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEventsUs(s, dir)
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = (1 to 7).foldLeft(daily) { (df, k) =>
      df.withColumn(s"x$k",
          when(lag(col("day"), k).over(w) === col("day") - k,
            lag(col("x"), k).over(w)))
    }
    val stacked = lagged.select(col("event_type"), col("x"),
      expr(s"stack(7, ${(1 to 7).map(k => s"$k, x$k").mkString(", ")}) AS (lag, y)"))
      .filter(col("y").isNotNull)
    stacked.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("lag"), col("n"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("n") * col("syy") - col("sy") * col("sy") > 0,
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                   (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            6)).as("r"))
      .orderBy("event_type", "lag")
  }

  val autocorrSql: String = {
    val lagCols = (1 to 7).map { k =>
      s"""CASE WHEN LAG(day, $k) OVER w = day - $k
            THEN LAG(x, $k) OVER w END AS x$k"""
    }.mkString(",\n             ")
    val stacked = (1 to 7).map { k =>
      s"SELECT event_type, x, $k AS lag, x$k AS y FROM lagged"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH daily AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, day, x,
             $lagCols
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    stacked AS ($stacked),
    m AS (
      SELECT event_type, lag, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM stacked WHERE y IS NOT NULL GROUP BY 1, 2)
    SELECT event_type, lag, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                        / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r
    FROM m ORDER BY event_type, lag"""
  }

  /** CUSUM changepoint detection per event type over the daily count
    * series: the day where the cumulative deviation from the global
    * mean peaks in magnitude — the level-shift locator behind drift
    * alerts. The whole statistic stays INTEGER: with S the total, n the
    * day count and P_t the prefix sum, n·S_t = n·P_t − t·S (S_t = the
    * textbook Σ(x−x̄) cusum), so the argmax is exact and the only
    * doubles are the final reported magnitudes. Aggregate-first (tiny
    * rollup), one window for the prefix sum, peak picked by the
    * broadcast join-back pattern (intervalSweep precedent) with ties
    * to the earliest day; before/after segment means certify the shift
    * direction.
    */
  def cusum(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEventsUs(s, dir)
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val pre = daily
      .withColumn("t", row_number().over(w))
      .withColumn("p", sum(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = daily.groupBy("event_type")
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val cu = pre.join(broadcast(tot), "event_type")
      .withColumn("c", col("n") * col("p") - col("t") * col("s"))
    val peak = cu.groupBy("event_type").agg(max(abs(col("c"))).as("cmax"))
    // earliest peak day per type, then ONE tiny join-back recovers the
    // full chosen row — a min_by over a struct here would regress the
    // aggregate to SortAggregate (the dedup_keep_best trap)
    val pick = cu.join(broadcast(peak), "event_type")
      .filter(abs(col("c")) === col("cmax"))
      .groupBy(col("event_type").as("et")).agg(min(col("day")).as("cp_day"))
    cu.join(broadcast(pick),
        col("event_type") === col("et") && col("day") === col("cp_day"))
      .select(col("event_type"), col("n").as("n_days"), col("cp_day"),
        round(col("c").cast("double") / col("n"), 6).as("cusum"),
        round(col("p").cast("double") / col("t"), 6).as("mean_before"),
        when(col("n") > col("t"),
          round((col("s") - col("p")).cast("double") /
            (col("n") - col("t")), 6)).as("mean_after"),
        when(col("c") >= 0, "down").otherwise("up").as("direction"))
      .orderBy("event_type")
  }

  val cusumSql: String = """
    WITH daily AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    pre AS (
      SELECT event_type, day, x,
             ROW_NUMBER() OVER w AS t,
             SUM(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS p
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    tot AS (
      SELECT event_type, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS n
      FROM daily GROUP BY 1),
    cu AS (
      SELECT pre.event_type, day, t, CAST(p AS BIGINT) AS p, s, n,
             n * CAST(p AS BIGINT) - t * s AS c
      FROM pre JOIN tot ON pre.event_type = tot.event_type),
    peak AS (SELECT event_type, MAX(abs(c)) AS cmax FROM cu GROUP BY 1),
    hit AS (
      SELECT cu.event_type, cu.day, cu.t, cu.p, cu.c, cu.s, cu.n, pk.cmax,
             ROW_NUMBER() OVER (PARTITION BY cu.event_type ORDER BY cu.day)
               AS rn
      FROM cu JOIN peak pk
        ON cu.event_type = pk.event_type AND abs(cu.c) = pk.cmax)
    SELECT event_type, n AS n_days, day AS cp_day,
           ROUND(CAST(c AS DOUBLE) / n, 6) AS cusum,
           ROUND(CAST(p AS DOUBLE) / t, 6) AS mean_before,
           CASE WHEN n > t
             THEN ROUND(CAST(s - p AS DOUBLE) / (n - t), 6) END AS mean_after,
           CASE WHEN c >= 0 THEN 'down' ELSE 'up' END AS direction
    FROM hit WHERE rn = 1 ORDER BY event_type"""

  /** Day-of-week seasonality profile per event type: mean daily count
    * and share of the week for each weekday slot — the profile behind
    * q_autocorr's lag-7 spike. Weekday = epoch-day mod 7 (engine-
    * neutral integer arithmetic — calendar dayofweek functions differ
    * in origin/locale across engines). Two tiny hash aggregates over
    * the daily rollup; every reported ratio divides exact integers.
    */
  def seasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEventsUs(s, dir)
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val dow = daily.withColumn("dow", pmod(col("day"), lit(7)))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("total"))
    dow.withColumn("wk_total",
        sum(col("total")).over(Window.partitionBy("event_type")))
      .select(col("event_type"), col("dow"), col("n_days"), col("total"),
        round(col("total").cast("double") / col("n_days"), 6).as("avg_count"),
        round(col("total").cast("double") / col("wk_total"), 6).as("share"))
      .orderBy("event_type", "dow")
  }

  val seasonalSql: String = """
    WITH daily AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    dw AS (
      SELECT event_type, day % 7 AS dow, COUNT(*) AS n_days,
             CAST(SUM(x) AS BIGINT) AS total
      FROM daily GROUP BY 1, 2)
    SELECT event_type, dow, n_days, total,
           ROUND(CAST(total AS DOUBLE) / n_days, 6) AS avg_count,
           ROUND(CAST(total AS DOUBLE)
                 / SUM(total) OVER (PARTITION BY event_type), 6) AS share
    FROM dw ORDER BY event_type, dow"""

  /** Rolling 14-day Pearson correlation between the click and purchase
    * daily count series — the co-movement signal behind "do clicks
    * still convert". The raw stream reduces to ONE (day, clicks,
    * purchases) rollup row per day (conditional aggregation — no
    * pivot/join), then every power sum rides a single 14-row window;
    * counts are integers so the sums are exact and r is one sqrt +
    * one division (round 6). Warm-up days (window < 14) report with
    * their actual window size; zero-variance windows yield NULL,
    * mirrored in the oracle. The global (unpartitioned) window is safe
    * at ANY corpus size: its input is one row per calendar day.
    */
  def rollCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEventsUs(s, dir)
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .groupBy("day")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val w = Window.orderBy("day").rowsBetween(-13, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .select(col("day"), col("n"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("n") * col("syy") - col("sy") * col("sy") > 0,
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                   (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            6)).as("r"))
      .orderBy("day")
  }

  val rollCorrSql: String = """
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS y
      FROM events GROUP BY 1),
    m AS (
      SELECT day,
             COUNT(*) OVER w AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
             CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT day, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                        / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 6) END
             AS r
    FROM m ORDER BY day"""

  /** OLS linear trend per event type: slope/intercept/R² of the daily
    * count series against the day index — the "is this metric growing"
    * estimator under q_ewma's smoothing and q_cusum's level shifts.
    * Counts and day indices are INTEGERS, so every power sum is exact
    * and the closed-form OLS terms are bit-deterministic doubles (the
    * q_stats recipe; slope reported per day). Degenerate series
    * (single day / zero variance) yield NULLs, mirrored.
    */
  def trendOls(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEventsUs(s, dir)
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
    val m = daily
      .withColumn("x", col("day") - min(col("day"))
        .over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val cxy = col("n") * col("sxy") - col("sx") * col("sy")
    m.select(col("event_type"), col("n"),
        when(vx > 0,
          round(cxy.cast("double") / vx.cast("double"), 6)).as("slope"),
        when(vx > 0, round(
          (col("sy").cast("double") - cxy.cast("double") / vx.cast("double")
            * col("sx")) / col("n"), 6)).as("intercept"),
        when(vx > 0 && vy > 0, round(
          cxy.cast("double") * cxy.cast("double") /
            (vx.cast("double") * vy.cast("double")), 6)).as("r2"))
      .orderBy("event_type")
  }

  val trendOlsSql: String = """
    WITH daily AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2),
    xs AS (
      SELECT event_type,
             day - MIN(day) OVER (PARTITION BY event_type) AS x, y
      FROM daily),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM xs GROUP BY 1)
    SELECT event_type, n,
           CASE WHEN n * sxx - sx * sx > 0
             THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
           CASE WHEN n * sxx - sx * sx > 0
             THEN ROUND((CAST(sy AS DOUBLE)
                         - CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n, 6)
             END AS intercept,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                        * CAST(n * sxy - sx * sy AS DOUBLE)
                        / (CAST(n * sxx - sx * sx AS DOUBLE)
                           * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r2
    FROM m ORDER BY event_type"""

  /** Seasonal-naive forecast backtest: predict each day's count with
    * the value 7 days earlier (the baseline every real forecaster must
    * beat) and report per-type MAE and MAPE over the backtest window —
    * plus the same errors for the plain naive (yesterday) forecast, so
    * the table SHOWS whether weekly seasonality helps. One lag window
    * over the tiny daily rollup; absolute errors are integers, means
    * are exact-integer ratios rounded at 6 dp. Days without a lag-7
    * (or lag-1) observation drop out of that column's backtest,
    * mirrored in the oracle.
    */
  def forecastNaive(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEventsUs(s, dir)
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily
      .withColumn("p7", when(lag(col("day"), 7).over(w) === col("day") - 7,
        lag(col("y"), 7).over(w)))
      .withColumn("p1", when(lag(col("day"), 1).over(w) === col("day") - 1,
        lag(col("y"), 1).over(w)))
    lagged.groupBy("event_type")
      .agg(
        sum(when(col("p7").isNotNull, 1L).otherwise(0L)).as("n7"),
        sum(when(col("p7").isNotNull, abs(col("y") - col("p7")))).as("ae7"),
        sum(when(col("p7").isNotNull,
          abs(col("y") - col("p7")).cast("double") / col("y"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("ape7"),
        sum(when(col("p1").isNotNull, 1L).otherwise(0L)).as("n1"),
        sum(when(col("p1").isNotNull, abs(col("y") - col("p1")))).as("ae1"))
      .select(col("event_type"), col("n7"),
        round(col("ae7").cast("double") / col("n7"), 6).as("mae_seasonal"),
        round(col("ape7").cast("double") / col("n7"), 6).as("mape_seasonal"),
        round(col("ae1").cast("double") / col("n1"), 6).as("mae_naive"))
      .orderBy("event_type")
  }

  val forecastNaiveSql: String = """
    WITH daily AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, day, y,
        CASE WHEN LAG(day, 7) OVER w = day - 7
          THEN LAG(y, 7) OVER w END AS p7,
        CASE WHEN LAG(day, 1) OVER w = day - 1
          THEN LAG(y, 1) OVER w END AS p1
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type,
           CAST(SUM(CASE WHEN p7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n7,
           ROUND(CAST(SUM(CASE WHEN p7 IS NOT NULL
                          THEN abs(y - p7) END) AS DOUBLE)
                 / SUM(CASE WHEN p7 IS NOT NULL THEN 1 ELSE 0 END), 6)
             AS mae_seasonal,
           ROUND(CAST(SUM(CAST(CASE WHEN p7 IS NOT NULL
                          THEN CAST(abs(y - p7) AS DOUBLE) / y END
                          AS DECIMAL(28,12))) AS DOUBLE)
                 / SUM(CASE WHEN p7 IS NOT NULL THEN 1 ELSE 0 END), 6)
             AS mape_seasonal,
           ROUND(CAST(SUM(CASE WHEN p1 IS NOT NULL
                          THEN abs(y - p1) END) AS DOUBLE)
                 / SUM(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END), 6)
             AS mae_naive
    FROM lagged GROUP BY event_type ORDER BY event_type"""

  /** CUPED variance reduction for the A/B test — the standard
    * experimentation-stack tightener: each user's post-period metric is
    * adjusted by its PRE-period metric, Y′ = Y − θ(X − X̄), with
    * θ = cov(X,Y)/var(X) estimated pooled; the report shows per-variant
    * adjusted means and the variance reduction the covariate bought.
    * Time is split at the stream's midpoint (integer µs arithmetic from
    * a broadcast 1-row span); users lacking both periods drop out
    * (documented, mirrored). Per-user X/Y are 6-dp means; every
    * cross-user moment is a DECIMAL power sum; θ, the adjusted means
    * and both variances derive from those same moments in CLOSED FORM
    * (var(Y′) = var(Y) − 2θ·cov + θ²·var(X)) — no per-row adjusted
    * values, so the whole report is bit-deterministic. Assignment is
    * per-user (user_id mod 2), as CUPED requires.
    */
  def abCuped(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val ev = Tables.loadEventsUs(s, dir)
      .select(col("user_id"), col("ts_us"), col("value"))
    val span = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid"))
    val users = ev.crossJoin(broadcast(span))
      .groupBy("user_id")
      .agg(
        count(when(col("ts_us") < col("mid"), 1)).as("nx"),
        round(QueryDef.dsum(when(col("ts_us") < col("mid"), col("value")), 6) /
          count(when(col("ts_us") < col("mid"), 1)), 6).as("x"),
        count(when(col("ts_us") >= col("mid"), 1)).as("ny"),
        round(QueryDef.dsum(when(col("ts_us") >= col("mid"), col("value")), 6) /
          count(when(col("ts_us") >= col("mid"), 1)), 6).as("y"))
      .filter(col("nx") > 0 && col("ny") > 0)
      .withColumn("variant", (col("user_id") % 2).cast("int"))
    val moments = Tables.hot(users.groupBy("variant")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy")))
    val pooled = moments.agg(
        sum(col("n")).as("pn"),
        sum(col("sx")).cast("double").as("psx"),
        sum(col("sy")).cast("double").as("psy"),
        sum(col("sxx")).cast("double").as("psxx"),
        sum(col("sxy")).cast("double").as("psxy"))
      .select(col("pn"),
        (col("psx") / col("pn")).as("mx"),
        ((col("psxy") - col("psx") * col("psy") / col("pn")) /
          (col("psxx") - col("psx") * col("psx") / col("pn"))).as("theta"))
    moments.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n").as("n_users"),
        round(col("sy").cast("double") / col("n"), 6).as("mean_post"),
        round(col("sy").cast("double") / col("n") -
          col("theta") * (col("sx").cast("double") / col("n") - col("mx")), 6)
          .as("mean_adj"),
        round((col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double") / col("n")) /
          col("n"), 6).as("var_post"),
        round((col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double") / col("n")) /
          col("n") -
          lit(2.0) * col("theta") *
            ((col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double") / col("n")) /
              col("n")) +
          col("theta") * col("theta") *
            ((col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double") / col("n")) /
              col("n")), 6).as("var_adj"),
        round(col("theta"), 6).as("theta"))
      .orderBy("variant")
  }

  val abCupedSql: String = """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
      FROM events),
    span AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM ev),
    users AS (
      SELECT user_id,
        COUNT(CASE WHEN t < mid THEN 1 END) AS nx,
        ROUND(CAST(SUM(CASE WHEN t < mid
            THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
          / COUNT(CASE WHEN t < mid THEN 1 END), 6) AS x,
        COUNT(CASE WHEN t >= mid THEN 1 END) AS ny,
        ROUND(CAST(SUM(CASE WHEN t >= mid
            THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
          / COUNT(CASE WHEN t >= mid THEN 1 END), 6) AS y
      FROM ev, span GROUP BY user_id),
    ok AS (
      SELECT CAST(user_id % 2 AS INTEGER) AS variant, x, y
      FROM users WHERE nx > 0 AND ny > 0),
    m AS (
      SELECT variant, COUNT(*) AS n,
        SUM(CAST(x AS DECIMAL(38,12))) AS sx,
        SUM(CAST(y AS DECIMAL(38,12))) AS sy,
        SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
        SUM(CAST(y * y AS DECIMAL(38,12))) AS syy,
        SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy
      FROM ok GROUP BY 1),
    pooled AS (
      SELECT CAST(SUM(n) AS BIGINT) AS pn,
        CAST(SUM(sx) AS DOUBLE) AS psx, CAST(SUM(sy) AS DOUBLE) AS psy,
        CAST(SUM(sxx) AS DOUBLE) AS psxx, CAST(SUM(sxy) AS DOUBLE) AS psxy
      FROM m),
    th AS (
      SELECT pn, psx / pn AS mx,
        (psxy - psx * psy / pn) / (psxx - psx * psx / pn) AS theta
      FROM pooled)
    SELECT variant, n AS n_users,
      ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_post,
      ROUND(CAST(sy AS DOUBLE) / n
            - theta * (CAST(sx AS DOUBLE) / n - mx), 6) AS mean_adj,
      ROUND((CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n, 6)
        AS var_post,
      ROUND((CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n
            - 2.0 * theta
              * ((CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n)
            + theta * theta
              * ((CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n), 6)
        AS var_adj,
      ROUND(theta, 6) AS theta
    FROM m, th ORDER BY variant"""

  /** Exact trailing rolling MEDIAN — the robust smoother next to
    * q_ewma's exponential mean (a single fat-finger order skews a mean
    * for 7 days; the median shrugs it off). Daily value totals
    * quantize to integer CENTS (floor(v·100 + 0.5) — the
    * engine-unambiguous idiom) so the median is EXACT integer
    * arithmetic: the frame's sorted cent list yields 2·median as the
    * sum of the two middle elements (odd frames: the middle twice),
    * and the reported median = med2/200.0 is an exact ≤3-dp decimal —
    * no cross-engine rounding surface at all. One per-key window; the
    * 7-row frame bounds the per-row sort at O(7 log 7). Neither
    * engine's built-in median() is used — both sides compute the same
    * sorted-list formula, so interpolation conventions cannot
    * diverge. */
  def rollMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEventsUs(s, dir)
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .groupBy("event_type", "day")
      .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .as("cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("fr", array_sort(collect_list(col("cents")).over(w)))
      .select(col("event_type"), col("day"), col("cents"),
        (element_at(col("fr"), expr("CAST((size(fr) - 1) DIV 2 + 1 AS INT)"))
          + element_at(col("fr"), expr("CAST(size(fr) DIV 2 + 1 AS INT)")))
          .as("med2"))
      .select(col("event_type"), col("day"), col("cents"), col("med2"),
        (col("med2") / lit(200.0)).as("median"))
      .orderBy("event_type", "day")
  }

  val rollMedianSql: String = """
    WITH daily AS (
      SELECT event_type,
        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
          AS cents
      FROM events GROUP BY 1, 2),
    fr AS (
      SELECT event_type, day, cents,
        list_sort(list(cents) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS fr
      FROM daily)
    SELECT event_type, day, cents,
      CAST(fr[(len(fr) - 1) // 2 + 1] + fr[len(fr) // 2 + 1] AS BIGINT)
        AS med2,
      CAST(fr[(len(fr) - 1) // 2 + 1] + fr[len(fr) // 2 + 1] AS BIGINT)
        / CAST(200.0 AS DOUBLE) AS median
    FROM fr ORDER BY event_type, day"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("q_roll_median", rollMedian, Some(rollMedianSql)),
    QueryDef("q_ab_cuped", abCuped, Some(abCupedSql)),
    QueryDef("q_trend_ols", trendOls, Some(trendOlsSql)),
    QueryDef("q_forecast_naive", forecastNaive, Some(forecastNaiveSql)),
    QueryDef("q_seasonal", seasonal, Some(seasonalSql)),
    QueryDef("q_roll_corr", rollCorr, Some(rollCorrSql)),
    QueryDef("q_interval_sweep", intervalSweep, Some(intervalSweepSql)),
    QueryDef("q_ewma", ewma, Some(ewmaSql)),
    QueryDef("q_abtest", abTest, Some(abTestSql)),
    QueryDef("q_autocorr", autocorr, Some(autocorrSql)),
    QueryDef("q_cusum", cusum, Some(cusumSql)))
}
