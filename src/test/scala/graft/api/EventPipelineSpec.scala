package graft.api

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.api.EventPipeline._
import graft.ops.{Events, Journey}
import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** EventPipeline's steps on hand-built frames: each step reads only its
  * own window constant, and at every window boundary the batch step
  * columns, the companion's scalar rules and the streaming twins that
  * fold with them give the same per-row answers. */
class EventPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val T = 1700000000000000L // epoch µs
  private val Sec = 1000000L

  private def frame(rows: (Long, Long, Long, String, Double)*): DataFrame =
    rows.toDF("user_id", "ts_us", "event_id", "event_type", "value")

  private def levels(p: EventPipeline): Map[Long, Int] =
    p.withFunnel().df.groupBy("user_id").agg(max("funnel_step"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("withAttribution's window does not narrow withFunnel's chain") {
    val df = frame((9L, T, 1L, "view", 0.0), (9L, T + Sec, 2L, "click", 0.0),
      (9L, T + 2 * 3600 * Sec, 3L, "purchase", 1.0))
    assert(levels(EventPipeline(df)) == Map(9L -> 3))
    assert(levels(EventPipeline(df).withAttribution(3600 * Sec)) == Map(9L -> 3))
  }

  // (user, ts, event_id, type, value): one user per boundary
  private val G = SessionGapUs
  private val D = TouchWindowUs
  private val C = FunnelChainUs
  private val boundaries = Seq(
    // session gap of exactly G (same session), then G + 1 µs (new one)
    (1L, T, 1L, "view", 0.0), (1L, T + G, 2L, "view", 0.0),
    (1L, T + 2 * G + 1, 3L, "view", 0.0),
    // purchase exactly D after its touch (credited), D + 1 µs (not)
    (2L, T, 4L, "click", 0.0), (2L, T + D, 5L, "purchase", 10.0),
    (3L, T, 6L, "view", 0.0), (3L, T + D + 1, 7L, "purchase", 20.0),
    // same-instant click and purchase: event_id orders them
    (4L, T, 8L, "purchase", 30.0), (4L, T, 9L, "click", 0.0),
    (5L, T, 10L, "click", 0.0), (5L, T, 11L, "purchase", 40.0),
    // funnel chain of exactly C (level 3), C + 1 µs (level 2)
    (6L, T, 12L, "view", 0.0), (6L, T + Sec, 13L, "click", 0.0),
    (6L, T + C, 14L, "purchase", 5.0),
    (7L, T, 15L, "view", 0.0), (7L, T + Sec, 16L, "click", 0.0),
    (7L, T + C + 1, 17L, "purchase", 6.0))

  /** The boundary events as a one-file `events.parquet` table, the
    * layout the batch ops and the streaming sources read. */
  private def withEventsDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("event-boundaries")
    val staged = dir.resolve("staged")
    try {
      frame(boundaries: _*)
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ts"), col("event_type"),
          col("value"))
        .coalesce(1).write.parquet(staged.toString)
      val part = Files.list(staged).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
      Files.move(part, dir.resolve("events.parquet"))
      deleteTree(staged)
      body(dir.toString)
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  private def runStream(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("batch steps, scalar rules and streaming twins agree at each window boundary") {
    val rows = EventPipeline(frame(boundaries: _*))
      .withSessions().withAttribution().withFunnel().df
      .select("user_id", "ts_us", "event_id", "event_type", "_start",
        "session_id", "touch", "funnel_step")
      .as[(Long, Long, Long, String, Long, Long, String, Int)].collect()
    val batchStart = rows.map(r => r._3 -> (r._5 == 1L)).toMap
    val batchTouch = rows.collect { case r if r._7 != null => r._3 -> r._7 }.toMap

    // the scalar rules, folded per user in (ts, event_id) order as the
    // streaming twins fold them
    val ruleStart = Map.newBuilder[Long, Boolean]
    val ruleTouch = Map.newBuilder[Long, String]
    rows.groupBy(_._1).values.foreach { evs =>
      var prev = NoEvent
      var (touchUs, touchType) = (NoEvent, null: String)
      evs.sortBy(r => (r._2, r._3)).foreach { r =>
        ruleStart += r._3 -> opensSession(prev, r._2, SessionGapUs)
        prev = r._2
        if (r._4 == "purchase")
          ruleTouch += r._3 -> creditedTouch(touchUs, touchType, r._2, TouchWindowUs)
        if (isTouch(r._4)) { touchUs = r._2; touchType = r._4 }
      }
    }
    assert(batchStart == ruleStart.result())
    assert(batchTouch == ruleTouch.result())
    assert(Seq(1L, 2L, 3L).map(batchStart) == Seq(true, false, true))
    assert(batchTouch == Map(5L -> "click", 7L -> "none", 8L -> "none",
      11L -> "click", 14L -> "click", 17L -> "click"))
    val batchLevel = rows.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._8).max }
    assert(batchLevel(6L) == 3 && batchLevel(7L) == 2)
    val batchSessions = rows.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._6).max }
    assert(batchSessions(1L) == 2L)

    withEventsDir { dir =>
      // the report ops over the same events
      assert(Journey.attribution(spark, dir).as[(String, Long, Double)].collect()
        .toSet == Set(("click", 4L, 61.0), ("none", 2L, 50.0)))
      assert(Events.funnelWindow(spark, dir).as[(Long, Int)].collect().toMap ==
        batchLevel.filter(_._2 >= 1))
      assert(Events.sessionize(spark, dir).filter(col("user_id") === 1L)
        .select("n_events").as[Long].collect().toSeq == Seq(2L, 1L))

      val attr = runStream(EventStream.attributionStream(spark, dir),
        "boundary_attr_out", OutputMode.Append())
        .select("event_id", "touch").as[(Long, String)].collect().toMap
      assert(attr == batchTouch)
      // Update mode: levels and counts are monotone — the max is final
      val funnel = runStream(EventStream.funnelLevels(spark, dir),
        "boundary_funnel_out", OutputMode.Update())
        .groupBy("user_id").agg(max("funnel_level"))
        .as[(Long, Int)].collect().toMap
      assert(funnel == batchLevel)
      val sessions = runStream(EventStream.pipelineSummary(spark, dir),
        "boundary_pipe_out", OutputMode.Update())
        .groupBy("user_id").agg(max("n_sessions"))
        .as[(Long, Long)].collect().toMap
      assert(sessions == batchSessions)
    }
  }
}
