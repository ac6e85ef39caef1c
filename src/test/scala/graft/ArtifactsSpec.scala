package graft

import java.util.UUID
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Unit certification of the Artifacts contract: concurrent callers of
  * one key produce exactly ONE build (a racing loser would leak its
  * pinned checkpoint RDDs for the session lifetime); dead pinned blocks
  * trigger a rebuild and are unpinned, while live ones are served; a
  * build may read another artifact, which owns its own blocks; and a
  * `pin` outside any build fails loudly instead of pinning blocks no
  * artifact owns. */
class ArtifactsSpec extends SparkSpec {

  // a fresh key per test: the artifact map lives as long as the session
  private def key(name: String): (String, String) =
    (s"ArtifactsSpec.$name", UUID.randomUUID().toString)

  private def blocks(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  test("concurrent frozen builds exactly once per key") {
    val k = key("contention")
    val builds = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 16).map { _ =>
        pool.submit(new Callable[Int] {
          def call(): Int = Artifacts.frozen(spark, k) {
            Thread.sleep(50) // widen the race window
            builds.incrementAndGet()
          }
        })
      }
      val vals = results.map(_.get()).toSet
      assert(builds.get() == 1,
        s"expected exactly one build under contention, got ${builds.get()}")
      assert(vals == Set(1), s"all callers must see the single artifact: $vals")
    } finally pool.shutdown()
  }

  test("dead pinned blocks rebuild; live ones are served") {
    val k = key("liveness")
    var builds = 0
    var backing: DataFrame = null
    def get(): Int = Artifacts.frozen(spark, k) {
      builds += 1
      backing = Artifacts.pin(spark.range(4).toDF("x"))
      builds
    }
    assert(get() == 1)
    assert(get() == 1, "a live artifact must be served, not rebuilt")
    val dead = blocks(backing)
    assert(dead.nonEmpty && dead.forall(r => Tables.pinnedRddIds.contains(r.id)),
      "pin must pin the checkpoint's blocks")
    dead.foreach(_.unpersist(blocking = true))
    assert(get() == 2, "dead pinned blocks must trigger a rebuild")
    assert(get() == 2, "the rebuilt artifact is live and served")
    assert(dead.forall(r => !Tables.pinnedRddIds.contains(r.id)),
      "a dead entry must release its pinned ids")
  }

  test("a build may read another artifact; each owns its own blocks") {
    val (outerK, innerK) = (key("outer"), key("inner"))
    var (outerBuilds, innerBuilds) = (0, 0)
    var innerDf: DataFrame = null
    def inner(): DataFrame = Artifacts.frozen(spark, innerK) {
      innerBuilds += 1
      innerDf = Artifacts.pin(spark.range(3).toDF("x"))
      innerDf
    }
    def outer(): Long = Artifacts.frozen(spark, outerK) {
      outerBuilds += 1
      Artifacts.pin(inner().selectExpr("x * 2 AS y")).count()
    }
    assert(outer() == 3)
    assert((outerBuilds, innerBuilds) == (1, 1))
    blocks(innerDf).foreach(_.unpersist(blocking = true))
    assert(outer() == 3)
    assert(outerBuilds == 1,
      "the outer artifact's own blocks are live: it must be served")
    inner()
    assert(innerBuilds == 2, "the inner artifact owns its blocks and rebuilds")
  }

  test("pin outside a build throws") {
    val before = Tables.pinnedRddIds.size
    intercept[Artifacts.PinOutsideBuild] {
      Artifacts.pin(spark.range(1).toDF("x"))
    }
    assert(Tables.pinnedRddIds.size == before)
  }
}
