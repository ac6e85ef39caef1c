package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The shuffle route's bucketed pagerank adjacency is a DISK artifact
  * (a catalog table plus its parquet dir). Its identity must be the
  * full (session, input dir) key: two input dirs whose path strings
  * share a 32-bit `String.hashCode` must each answer like the data
  * they hold, and each must own exactly one on-disk adjacency dir —
  * registered as its table, rewritten in place when the adjacency is
  * rebuilt after every block is dropped, and with no orphan dir left
  * beside it. Both dirs hold the same data, so the answer checks guard
  * the rebuild path rather than the collision itself.
  */
class BucketedAdjSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def pagerank(dir: String): DataFrame =
    SparkEntry.queries("graph_pagerank")(spark, dir)

  /** Collected rows plus the on-disk dirs its adjacency scans read. */
  private def run(dir: String): (Seq[String], Set[Path]) = {
    val df = pagerank(dir)
    val rows = df.collect().map(_.toString).toSeq
    val adjDirs = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.getName.startsWith("graft_pr_adj_")) =>
        s.relation.location.rootPaths.map(p => Paths.get(p.toUri))
    }.flatten.toSet
    (rows, adjDirs)
  }

  /** On-disk location of every `graft_pr_adj_*` catalog table. */
  private def adjTableDirs(): Map[String, Path] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_pr_adj_"))
      .map { t =>
        val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
          .find(_.getString(0) == "Location").get.getString(1)
        val u = new java.net.URI(loc)
        t -> (if (u.getScheme == null) Paths.get(loc) else Paths.get(u))
      }.toMap

  private def parquetFiles(dir: Path): Set[String] =
    Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet

  private def dropAllPersistentRdds(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  test("colliding-hash input dirs each own one bucketed adjacency dir and answer like sf0.001") {
    val base = Files.createTempDirectory("graft_adj_spec")
    // sibling dirs ending "Aa" / "BB": equal String.hashCode, same data
    val dirs = Seq("inputAa", "inputBB").map { n =>
      val d = Files.createDirectory(base.resolve(n))
      Files.list(Paths.get(sfDir)).forEach { f =>
        Files.createSymbolicLink(d.resolve(f.getFileName), f.toAbsolutePath)
      }
      d.toString
    }
    assert(dirs(0).hashCode == dirs(1).hashCode)
    spark.conf.set(graft.ops.Graph.BroadcastVerticesKey, "0")
    try {
      val expected = run(sfDir)._1
      assert(expected.nonEmpty)
      val first = dirs.map(run)
      val filesBefore = first.map(r => parquetFiles(r._2.head))
      dropAllPersistentRdds()
      val second = dirs.map(run)
      for ((d, (a, b)) <- dirs.zip(first.zip(second))) {
        assert(a._1 == expected, s"$d: answer diverges from sf0.001")
        assert(b._1 == expected, s"$d: post-rebuild answer diverges from sf0.001")
      }
      val tables = adjTableDirs()
      for ((d, (a, b)) <- dirs.zip(first.zip(second))) {
        val seen = a._2 ++ b._2
        assert(seen.size == 1,
          s"$d: adjacency read from ${seen.size} dirs across a rebuild: $seen")
        assert(Files.isDirectory(seen.head), s"$d: adjacency dir ${seen.head} is gone")
        assert(parquetFiles(seen.head) != filesBefore(dirs.indexOf(d)),
          s"$d: the rebuild did not rewrite the adjacency in place")
        assert(tables.values.count(_ == seen.head) == 1,
          s"$d: adjacency dir ${seen.head} is not the location of exactly " +
            s"one adjacency table: $tables")
      }
      assert(first(0)._2 != first(1)._2, "two input dirs share one adjacency dir")
      val parent = first(0)._2.head.getParent
      val onDisk = Files.list(parent).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("graft_pr_adj_")).toSet
      assert(onDisk == tables.values.filter(_.getParent == parent).toSet,
        s"orphan adjacency dirs under $parent: " +
          s"${onDisk -- tables.values}")
    } finally {
      spark.conf.unset(graft.ops.Graph.BroadcastVerticesKey)
      Files.walk(base).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }
}
