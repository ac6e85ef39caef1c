package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkFiles
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for SESSION-FROZEN artifacts: state a production
  * deployment builds once and serves every query from (IVF/PQ
  * indexes, graph edges, degrees and adjacency, tokenized corpora,
  * BM25 stats, the `Tables` catalog's schemas). Per-query
  * intermediates stay on `Tables.hot*`.
  *
  *  - `frozen(s, key)(build)` serves the live artifact for (s, key),
  *    or runs `build` exactly once, concurrent callers included. Keys
  *    are (family name, inputs…) tuples, unique across families.
  *  - Inside a build, `pin(df)` eager-checkpoints `df` and pins its
  *    blocks against `releaseQueryState`; the pinned blocks are the
  *    artifact's liveness set. Once any of them is gone (an explicit
  *    unpersist, a test reset) the next access unpins the rest and
  *    rebuilds instead of serving a dangling checkpoint.
  *  - Builds hold only their own key's lock, so a build may read other
  *    artifacts (ivfPqFrozen ← ivfAssign, bm25Stats ← docToks); each
  *    nested build pins into its own artifact.
  *  - Disk artifacts (`table`) and scratch dirs (`scratchDir`) live
  *    under one root per session inside Spark's driver temp dir, which
  *    Spark deletes when the SparkContext stops.
  *  - Entries of stopped sessions are swept on access and unpinned.
  */
object Artifacts {

  final class PinOutsideBuild extends IllegalStateException(
    "Artifacts.pin outside an Artifacts.frozen build: no artifact " +
      "would own the pinned blocks")

  private final class Slot(val session: SparkSession, val id: Long) {
    // all guarded by this
    var art: Option[Any] = None
    var pinned: Seq[RDD[_]] = Nil // owned: unpinned when the slot dies
    var deps: Seq[RDD[_]] = Nil   // another artifact's blocks it derives from
    def alive: Boolean = art.isDefined &&
      (pinned ++ deps).forall(_.getStorageLevel != StorageLevel.NONE)
    def reset(): Unit = {
      pinned.foreach(r => Tables.pinnedRddIds.remove(r.id))
      art = None; pinned = Nil; deps = Nil
    }
  }

  private final class Build(val id: Long) {
    val pinned = ArrayBuffer.empty[RDD[_]]
    val deps = ArrayBuffer.empty[RDD[_]]
  }

  private val slots = new ConcurrentHashMap[(SparkSession, Any), Slot]()
  private val roots = new ConcurrentHashMap[SparkSession, Path]()
  private val ids = new AtomicLong()
  private val builds = ThreadLocal.withInitial[List[Build]](() => Nil)

  /** Serve the live artifact for (s, key), or build it exactly once. */
  def frozen[A](s: SparkSession, key: Any)(build: => A): A = {
    sweepStopped()
    val slot = slots.computeIfAbsent((s, key), _ => new Slot(s, ids.incrementAndGet()))
    slot.synchronized {
      if (!slot.alive) {
        slot.reset()
        val b = new Build(slot.id)
        builds.set(b :: builds.get)
        try {
          slot.art = Some(build)
          slot.pinned = b.pinned.toList
          slot.deps = b.deps.toList
        } catch { case t: Throwable =>
          b.pinned.foreach(r => Tables.pinnedRddIds.remove(r.id))
          throw t
        } finally builds.set(builds.get.tail)
      }
      slot.art.get.asInstanceOf[A]
    }
  }

  /** `Tables.hot`, owned by the artifact being built. */
  def pin(df: DataFrame): DataFrame = {
    val b = current()
    val h = Tables.hot(df)
    val rdds = checkpointRdds(h)
    require(rdds.nonEmpty, "Artifacts.pin: checkpoint produced no RDD")
    rdds.foreach(r => Tables.pinnedRddIds.add(r.id))
    b.pinned ++= rdds
    h
  }

  /** Disk artifact: `df` written as parquet catalog table `prefix<n>`
    * under the session root, `n` unique to this (session, key) in the
    * JVM — so neither the table nor the path can collide with another
    * key's, and a rebuild overwrites the same table in place. The
    * table is a layout of `df`: when the blocks `df` reads die, the
    * table is rebuilt with them, so the two never drift. */
  def table(prefix: String, df: DataFrame)
           (layout: DataFrameWriter[Row] => DataFrameWriter[Row]): DataFrame = {
    val b = current()
    val s = df.sparkSession
    val name = s"$prefix${b.id}"
    val path = root(s).resolve(name)
    s.sql(s"DROP TABLE IF EXISTS $name")
    deleteTree(path)
    layout(df.write).format("parquet").option("path", path.toString)
      .mode("overwrite").saveAsTable(name)
    b.deps ++= checkpointRdds(df)
    s.table(name)
  }

  /** A fresh, not yet created path under the session root for
    * per-query sink output; deleted with the root. */
  def scratchDir(s: SparkSession, prefix: String): String =
    root(s).resolve(s"$prefix-${ids.incrementAndGet()}").toString

  /** Per-query cleanup shared by every harness: drop every persisted
    * RDD except the pinned artifacts, then the SQL cache. */
  def releaseQueryState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !Tables.pinnedRddIds.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  private def current(): Build = builds.get match {
    case b :: _ => b
    case Nil => throw new PinOutsideBuild
  }

  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  private def root(s: SparkSession): Path =
    roots.computeIfAbsent(s, _ => Files.createDirectories(Paths.get(
      SparkFiles.getRootDirectory(), "graft_artifacts", s"s${ids.incrementAndGet()}")))

  private def sweepStopped(): Unit = {
    slots.forEach { (k, slot) =>
      if (slot.session.sparkContext.isStopped && slots.remove(k, slot))
        slot.synchronized(slot.reset())
    }
    roots.keySet.removeIf(_.sparkContext.isStopped)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}
