package graft

import java.nio.file.{Files, Path}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, udf}

/** The harness contracts every main relies on: `SparkEntry.run` caps,
  * reports and cleans up a query; the resolver rejects unknown names;
  * Bench's stdout line stays parseable inside a 2000-char tail window;
  * a Verify dump writes exactly the queries it was given. */
class HarnessSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def blocks(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  test("a query past its cap is cancelled and reported; the next run succeeds") {
    val sleepy = udf { (x: Long) => Thread.sleep(60000); x }
    val slow = SparkEntry.run(spark, "sleepy",
      spark.range(0, 2, 1, 2).select(sleepy(col("id"))), capS = 1)(SparkEntry.noop)
    assert(slow.failure.isDefined, "a query past its cap must be reported as a failure")
    assert(slow.wallS < 30, s"the cap did not stop the query: ${slow.wallS} s")
    assert(slow.failure.get.getMessage.contains("cancelled"), slow.failure.get.getMessage)
    val next = SparkEntry.run(spark, "after-cap", spark.range(100).toDF(), capS = 60)(SparkEntry.noop)
    assert(next.failure.isEmpty, s"the run after a cancel failed: ${next.failure}")
    assert(next.wallS >= 0 && next.cpuS >= 0)
  }

  test("after an ok and a failed run only pinned artifacts stay persisted") {
    val art = Artifacts.frozen(spark, ("HarnessSpec", UUID.randomUUID().toString)) {
      Artifacts.pin(spark.range(5).toDF("x"))
    }
    val pinned = blocks(art).map(_.id).toSet
    assert(pinned.nonEmpty && pinned.subsetOf(persisted))
    for (fail <- Seq(false, true)) {
      var hot = Set.empty[Int]
      val r = SparkEntry.run(spark, s"hot-$fail", spark.range(50).toDF("y"), capS = 60) { df =>
        hot = blocks(Tables.hot(df)).map(_.id).toSet
        assert(hot.nonEmpty && hot.subsetOf(persisted))
        if (fail) throw new IllegalStateException("boom")
      }
      assert(r.failure.isDefined == fail, s"run outcome: ${r.failure}")
      assert((hot & persisted).isEmpty, s"per-query blocks survived the run (fail=$fail)")
      assert(pinned.subsetOf(persisted), s"pinned artifact blocks were dropped (fail=$fail)")
    }
  }

  test("the resolver names every unknown query and keeps the given order") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.resolve(Seq("q1_agg", "q1_agg_typo", "nope")))
    assert(e.getMessage.contains("q1_agg_typo, nope"), e.getMessage)
    assert(SparkEntry.resolve(Seq("q6_filter_agg", "q1_agg")) == Seq("q6_filter_agg", "q1_agg"))
    assert(SparkEntry.resolve(Nil) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("Bench's result line fits the tail window, parses and keeps the top-by-wall queries") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val failed = names.take(3).toSet
    // distinct walls; a -1 (failed) sample beside the ok ones
    val samples = names.zipWithIndex.map { case (n, i) =>
      val w = 0.1 + i * 0.013
      n -> (if (failed(n)) Seq((-1.0, -1.0), (-1.0, -1.0))
            else Seq((w * 2, w * 6), (-1.0, -1.0), (w, w * 3)))
    }.toMap
    val dir = "/data/sf \"quoted\" \\ dir"
    val (full, line) = Bench.report(names, samples, 3, 12.5, dir)
    assert(line.length <= 1900, s"result line is ${line.length} chars")
    val json = new ObjectMapper()
    val tail = json.readTree(line)
    val detail = json.readTree(full)
    assert(tail.get("sf").asText == dir && detail.get("sf").asText == dir)
    assert(tail.get("n_queries").asInt == names.size)
    assert(tail.get("n_ok").asInt == names.size - failed.size)
    val kept = tail.get("queries").fieldNames.asScala.toSet
    val okByWall = names.filterNot(failed).sortBy(n => -samples(n).last._1)
    assert(kept.nonEmpty && kept == okByWall.take(kept.size).toSet,
      "the line must keep the top queries by wall")
    for (n <- kept) {
      val (w, c) = samples(n).last
      assert(tail.get("queries").get(n).asDouble == math.rint(w * 100) / 100)
      assert(tail.get("queries_cpu").get(n).asDouble == math.rint(c * 100) / 100)
    }
    for (n <- failed) assert(detail.get("queries").get(n).asDouble == -1.0)
    assert(detail.get("samples").get(names.last).get("wall").size == 3)
  }

  test("a Verify dump of two queries writes exactly their oracles and results") {
    val out: Path = Files.createTempDirectory("harness-verify")
    val names = Seq("q6_filter_agg", "q1_agg")
    try {
      Verify.dump(spark, sfDir, out.toString, names, capS = 240)
      val oracle = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
      assert(oracle.fieldNames.asScala.toSet == names.toSet)
      assert(out.toFile.list.toSet == names.toSet + "oracle_sql.json")
      for (n <- names) {
        val parts = out.resolve(n).toFile.list.count(_.endsWith(".parquet"))
        assert(parts == 1, s"$n: $parts parquet files")
        assert(spark.read.parquet(out.resolve(n).toString).count() > 0)
      }
    } finally FileUtils.deleteDirectory(out.toFile)
  }
}
