package graft

import java.util.concurrent.atomic.AtomicBoolean

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is one [[SparkEntry.run]] into the noop sink. One cheap
  * warmup query initializes the JVM/codegen machinery so the first
  * measured query isn't charged Spark's startup.
  *
  * Measurement design (this VM's host steals CPU erratically — wall
  * times swing up to 100× between identical runs while aggregate CPU
  * supply stays roughly conserved):
  *   - each query runs up to SPARK_GRAFT_ITERS times (default 3),
  *     iterations interleaved across the whole suite so one steal burst
  *     cannot poison all samples of a single query;
  *   - the JSON reports the per-query MIN wall ("queries", the driver's
  *     headline numbers) and MIN process-CPU seconds ("queries_cpu"),
  *     plus every raw sample ("samples") for adjudication. CPU-seconds
  *     barely move under steal, so queries_cpu is the number that
  *     certifies a plan; wall is the number a quiet machine would show.
  *
  * Robustness (the round-3 bench was killed by the harness timeout
  * mid-iteration and emitted nothing):
  *   - a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET, default 1150 s)
  *     bounds the whole run: a later iteration starts only if the
  *     previous one fits in the remaining budget, and a started
  *     iteration skips its remaining queries once the budget is spent;
  *   - a per-query watchdog cancels the query's job group after
  *     SPARK_GRAFT_QUERY_CAP (default 180 s) so one wedged query
  *     cannot eat the run;
  *   - the result line is also emitted from a JVM shutdown hook, so
  *     even an external SIGTERM yields a parseable JSON with every
  *     sample collected up to that point.
  */
object Bench {
  /** Min over the successful (≥ 0) samples; -1 when none succeeded. */
  private def minOk(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  private def r3(d: Double): Double = math.rint(d * 1000) / 1000

  /** (detail object, stdout line) for `samples` (query → (wall, cpu)
    * seconds, -1 for a failed run). Result collectors json-parse only the
    * LAST ~2000 characters of stdout, so the line carries the totals and the
    * minima of the top-K queries BY WALL that fit 1900 chars: the
    * 0.3-0.7 s floor band carries no information, and top-by-wall
    * populates the per-query/scaling comparisons. The detail
    * object keeps every minimum and raw sample. */
  private[graft] def report(names: Seq[String],
                            samples: Map[String, Seq[(Double, Double)]],
                            itersDone: Int, elapsedS: Double,
                            dir: String): (String, String) = {
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => SparkEntry.jsonString(k) + ":" + v }.mkString("{", ",", "}")
    def mins(m: Seq[(String, Double)], keep: String => Boolean = _ => true,
             round: Double => Double = identity): String =
      obj(m.collect { case (n, v) if keep(n) => n -> round(v).toString })
    val wallMin = names.map(n => n -> minOk(samples(n).map(_._1)))
    val cpuMin = names.map(n => n -> minOk(samples(n).map(_._2)))
    val raw = obj(names.map { n =>
      n -> obj(Seq(
        "wall" -> samples(n).map(_._1).mkString("[", ",", "]"),
        "cpu" -> samples(n).map(_._2).mkString("[", ",", "]")))
    })
    val total = r3(wallMin.map(_._2).filter(_ >= 0).sum)
    val totalCpu = r3(cpuMin.map(_._2).filter(_ >= 0).sum)
    val nOk = wallMin.count(_._2 >= 0)
    val sf = SparkEntry.jsonString(dir)
    val totals = s""""metric":"total","value":$total,"unit":"sec","total_cpu":$totalCpu,"iters":$itersDone"""
    val full = s"""{$totals,"elapsed":${r3(elapsedS)},"queries":${mins(wallMin)},"queries_cpu":${mins(cpuMin)},"samples":$raw,"sf":$sf}"""
    val head = s"""$totals,"n_queries":${names.size},"n_ok":$nOk,"elapsed":${r3(elapsedS)},"sf":$sf"""
    def r2(v: Double): Double = math.rint(v * 100) / 100
    val ranked = wallMin.filter(_._2 >= 0).sortBy { case (k, v) => (-v, k) }
    def lineFor(k: Int): String = {
      val sel = ranked.take(k).map(_._1).toSet
      s"""{$head,"queries":${mins(wallMin, sel, r2)},"queries_cpu":${mins(cpuMin, sel, r2)}}"""
    }
    var k = ranked.size
    var line = lineFor(k)
    while (line.length > 1900 && k > 0) {
      // proportional shrink converges in a couple of rounds
      k = math.min(k - 1, k * 1900 / line.length)
      line = lineFor(k)
    }
    (full, line)
  }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - startNs) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.resolve(args.toSeq)
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1150").toDouble
    val queryCap = SparkEntry.queryCap(180)
    val spark = SparkEntry.harnessSession()

    val samples =
      scala.collection.mutable.Map(names.map(n => n -> Vector.empty[(Double, Double)]): _*)
    // the shutdown-hook emit snapshots `samples` while the main loop is
    // still appending (hooks run CONCURRENTLY with main) — guard every
    // access or the emergency emit can die on concurrent modification
    // and the run yields nothing (observed: empty BENCH output)
    val samplesLock = new Object
    def record(n: String, v: (Double, Double)): Unit =
      samplesLock.synchronized { samples(n) = samples(n) :+ v }
    var itersDone = 0

    val printed = new AtomicBoolean(false)
    /** Emit the result. Idempotent; also wired as a shutdown hook so an
      * external kill still yields a parseable result. Touches no Spark
      * state. The full detail object goes to stderr AND
      * BENCH_DETAIL.json in the working directory for adjudication (a
      * failed write throws, after the result line); stdout gets the
      * one compact final line. */
    def emit(): Unit = if (printed.compareAndSet(false, true)) {
      val (full, line) = report(names,
        samplesLock.synchronized { samples.toMap }, itersDone, elapsed, sfDir)
      System.err.println(full)
      // subset runs (explicit query args) must never clobber the
      // full-registry detail artifact the driver/judge adjudicate from
      // — they get their own file (round-6 verdict: a 4-query
      // spot-check overwrote the 161-query record)
      val detailPath = java.nio.file.Paths.get(
        if (args.nonEmpty) "BENCH_DETAIL.partial.json" else "BENCH_DETAIL.json")
        .toAbsolutePath
      val detailFailure =
        try { java.nio.file.Files.write(detailPath, full.getBytes("UTF-8")); None }
        catch { case e: java.io.IOException => Some(e) }
      println(line)
      System.out.flush()
      // after the result line, so a failed write still leaves the result
      detailFailure.foreach(e => throw new java.io.UncheckedIOException(
        s"[bench] could not write $detailPath", e))
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit()))

    /** One timed run → (wall, cpu) seconds, (-1, -1) on failure. The
      * first consumer of a session-frozen artifact pays its training
      * (visible in iteration-1 samples); min-of-N reports the steady
      * serve-time. */
    def exec(name: String): (Double, Double) = {
      val r = SparkEntry.run(spark, name, SparkEntry.queries(name)(spark, sfDir), queryCap)(
        SparkEntry.noop)
      if (r.failure.isEmpty) (r3(r.wallS), r3(r.cpuS)) else (-1.0, -1.0)
    }

    exec("q6_filter_agg") // warmup (discarded)
    // Interleave: full suite per iteration, so a steal burst hits one
    // sample of many queries rather than all samples of one query.
    // Budget gates: an iteration only starts if the previous one fits
    // in what's left; a started iteration stops sampling at the line.
    // Coverage-first under curtailment: every pass samples the
    // fewest-sampled queries first, and a curtailed pass earns an
    // extra pass while any query is still unsampled — so a steal
    // burst that blows the budget mid-pass costs later queries their
    // extra samples, never their only one.
    var it = 1
    var lastIter = 0.0
    // a query "has a sample" only when one SUCCEEDED — a watchdog-capped
    // or failed run should be retried by a later (possibly quieter) pass
    def good(n: String): Int = samples(n).count(_._1 >= 0)
    def unsampled: Boolean = names.exists(good(_) == 0)
    // Pass 1 is NOT budget-gated: under heavy host steal the round-4 run
    // burned the whole budget on warmup+startup and emitted zero samples
    // — an empty bench is strictly worse than an over-budget one (the
    // per-query watchdog still bounds each query, and an external kill
    // reaches the shutdown-hook emit with every sample so far).
    // A later pass starts whenever HALF of it is likely to fit: a pass
    // curtails cleanly at the budget line, and a half-pass of second
    // samples (fewest-sampled queries first) still turns min-of-1
    // steal noise into a real minimum for the queries it reaches —
    // requiring the whole pass to fit (the old *1.1 gate) forfeited
    // every second sample the moment pass 1 ran under a steal burst.
    while (!spark.sparkContext.isStopped &&
      (it == 1 || (elapsed < budget &&
        ((unsampled && it <= iters + 3) ||
          (it <= iters && elapsed + lastIter * 0.5 < budget))))) {
      val t0 = elapsed
      var curtailed = false
      // retry passes (beyond `iters`) re-run ONLY still-unsampled
      // queries — re-sampling healthy ones would spend the remaining
      // budget on queries that already have their number
      // per-iteration DETERMINISTIC reshuffle (tiebreak after the
      // coverage sort): with a fixed alphabetical order, a PERIODIC
      // host steal burst (~minutes) lands on the same alphabetical
      // neighborhood in every pass — the r15 run-1 audit showed
      // adjacent chunk_*/corpus_*/dedup_* queries inflated 1.5-2.6×
      // across ALL samples while other families ran calm. Shuffling
      // each pass decorrelates bursts from queries so min-of-N
      // actually reaches a calm sample per query.
      val order = {
        val o = names.sortBy(n =>
          (good(n), scala.util.hashing.MurmurHash3.stringHash(s"$n#$it")))
        if (it <= iters) o else o.filter(good(_) == 0)
      }
      order.foreach { n =>
        // an externally-initiated JVM shutdown stops the SparkContext
        // while this loop is still running — every further exec fails
        // instantly and pollutes samples with -1s; stop cleanly instead
        if (!spark.sparkContext.isStopped &&
            (it == 1 || elapsed < budget)) record(n, exec(n))
        else curtailed = true
      }
      lastIter = elapsed - t0
      if (!curtailed) itersDone += 1
      else System.err.println(f"[bench] iteration $it curtailed at budget ($elapsed%.0f s)")
      it += 1
    }
    try emit() finally spark.stop()
  }
}
