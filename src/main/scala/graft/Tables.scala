package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the graft engine.
  *
  * Mirrors the reference's habit of scanning parquet per calculator
  * (see reference duckpipe/calculator/AirportDistanceCalculator.py:82),
  * but loads lazily through Spark's datasource so column pruning and
  * predicate pushdown reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize a timestamp-ish column to an epoch-microsecond BIGINT,
    * tolerant of every vintage the driver's generator has shipped:
    *   - INT64 nanos (TIMESTAMP(NANOS) read with
    *     spark.sql.legacy.parquet.nanosAsLong=true) → integer-divide,
    *     NOT a double floor — ns epochs (~1.7e18) exceed double's 2^53
    *     exact-integer range;
    *   - TIMESTAMP (with local TZ) → unix_micros directly;
    *   - TIMESTAMP_NTZ / DATE (current driver output) → cast to
    *     timestamp first; the session TZ is pinned to UTC, so the cast
    *     is a unit reinterpretation, not an instant shift.
    * One helper for every table (events.ts, orders.o_orderdate) so a
    * future parquet-type drift is a one-line fix here, not a scavenger
    * hunt across operators.
    */
  def withMicros(df: DataFrame, srcCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}
    df.schema(srcCol).dataType match {
      case LongType         => df.withColumn(outCol, expr(s"$srcCol DIV 1000"))
      case TimestampType    => df.withColumn(outCol, unix_micros(col(srcCol)))
      case TimestampNTZType => df.withColumn(outCol, unix_micros(col(srcCol).cast(TimestampType)))
      case DateType         => df.withColumn(outCol, unix_micros(col(srcCol).cast(TimestampType)))
      case other => throw new IllegalStateException(
        s"$srcCol: unsupported timestamp representation $other")
    }
  }

  /** Events with `ts` normalized to an epoch-microsecond `ts_us` BIGINT
    * so downstream operators are unit-exact cross-engine. */
  def loadEventsUs(spark: SparkSession, dir: String): DataFrame =
    withMicros(load(spark, dir, "events"), "ts", "ts_us")

  /** Spread a compact input across the cluster BEFORE a fan-out stage
    * (offset explode, shingle explode, multi-plane folds). Scans of
    * small files arrive as one partition; exploding 9–64× inside that
    * one task serializes the whole operator. Shuffling the compact rows
    * first is cheap and restores full parallelism; at scale, inputs
    * with many splits pay one small shuffle of the pre-explosion rows.
    */
  def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Materialize a reused intermediate NOW and truncate its lineage.
    *
    * A lazy .cache() that several concurrent AQE stages hit before the
    * first materialization makes each stage recompute the full subtree
    * (no sharing until blocks exist) — a ~6× CPU storm observed on the
    * dedup pipelines. An eager localCheckpoint stores the partitions
    * once and every downstream stage reads the blocks; there is no
    * cache-manager plan matching and no lineage left to recompute.
    * (On a real cluster with lineage-failure concerns, swap for
    * checkpoint() to reliable storage — same call shape.)
    */
  def hot(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** `hot` + row count in ONE job: mark for local checkpoint lazily,
    * then let the count() materialize it — the fixed-point loops
    * (pointer doubling, label propagation) need a count every round
    * anyway, and the eager-checkpoint-then-count form paid a second
    * driver round-trip per round for the same scan. Safe against the
    * concurrent-AQE-recompute storm `hot` guards (the count IS the
    * immediate materialization — no window for a second consumer). */
  def hotCount(df: DataFrame): (DataFrame, Long) = {
    val h = df.localCheckpoint(false)
    (h, h.count())
  }

  /** RDD ids of the live session-frozen artifacts' blocks, which
    * `Artifacts.releaseQueryState` must NOT unpersist: dropping them
    * would force every consumer query to re-train an index a real
    * deployment trains once and serves from. Owned by `Artifacts`
    * (`pin` adds, dead or stopped-session entries remove). */
  val pinnedRddIds: java.util.Set[Int] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Lazy local checkpoint for loops whose convergence check is itself
    * a full-scan aggregate over the new state: the check's job
    * materializes the blocks and truncates lineage in one pass. The
    * FIRST action must scan every partition (count over the state or
    * a derived join — not isEmpty/take, which short-circuit). */
  def hotLazy(df: DataFrame): DataFrame =
    df.localCheckpoint(false)

  /** Register every table as a temp view so spark.sql(...) works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
