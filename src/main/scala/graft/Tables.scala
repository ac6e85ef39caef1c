package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the graft engine, and the session's table
  * catalog.
  *
  * Loads stay lazy through Spark's datasource, so column pruning and
  * predicate pushdown reach the scan. The catalog contract:
  *  - Once per session: a table's schema is inferred (one Spark job)
  *    the first time a session loads it, and later loads hand the
  *    stored schema to `spark.read.schema`, which runs no job. The
  *    entry is an `Artifacts.frozen` artifact, so it is per session
  *    (the session conf shapes inference, e.g. nanosAsLong) and goes
  *    when the session stops.
  *  - Keyed by path and stamp: the qualified path plus the length and
  *    modification time of the file, or of every leaf file when
  *    `<name>.parquet` is a directory, read from Hadoop's FileSystem
  *    (so `s3a://` and other cloud URIs work as local paths do).
  *  - Never stale: a table changed in place gets a new stamp, and the
  *    next load infers again.
  *  - A fresh Dataset per load, with fresh attribute ids, so two loads
  *    of one table self-join like two scans.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  /** The catalog's schema of `dir/name.parquet` in this session; also
    * what streaming sources over the table declare. */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val path = new Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(path)
    Artifacts.frozen(spark, ("table", qualified.toString, stamp(fs, qualified))) {
      spark.read.parquet(path.toString).schema
    }
  }

  /** (leaf path, length, modification time) of every file under `p`. */
  private def stamp(fs: FileSystem, p: Path): Vector[(String, Long, Long)] = {
    val files = fs.listFiles(p, true)
    val b = Vector.newBuilder[(String, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result().sorted
  }

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
