package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextVecSpec extends SparkSpec {

  test("word_ngrams is bit-identical to the Text.grams HOF chain") {
    import spark.implicits._
    // multiplicity preserved, first-space token boundaries, short-doc
    // empty array, multi-space empty tokens — all must match the
    // transform(sequence, i -> concat_ws(' ', slice(toks, i, n))) form
    val edge = Seq("a  b   c", "", "one", "one two", "rep rep rep rep")
      .toDF("text")
    val both = graft.Tables.load(spark, sfDir, "documents")
      .select($"text").limit(200).unionAll(edge)
      .select(
        call_function("word_ngrams", Text.toks, lit(3)).as("native"),
        Text.grams(3).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        "native word n-grams diverge from the HOF chain")
    }
    val bi = Seq("a b c d").toDF("text")
      .select(call_function("word_ngrams", Text.toks, lit(2)))
      .collect().head.getSeq[String](0)
    assert(bi == Seq("a b", "b c", "c d"))
  }

  test("shingle_hashes is bit-identical to the HOF gram-hash chain") {
    // the native kernel must reproduce the distinct xxhash64 gram-hash
    // SET, SORTED ascending (the round-17 contract: sorted output lets
    // candidate verification run the zero-allocation sorted_common
    // merge; every consumer is order-free — see ShingleMath.shingles),
    // including the short-doc empty-array guard
    val both = graft.Tables.load(spark, sfDir, "documents")
      .limit(200)
      .select(
        call_function("shingle_hashes", Text.toks, lit(3)).as("native"),
        array_sort(array_distinct(transform(Text.grams(3),
          g => xxhash64(g)))).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "native shingle hashes diverge from the HOF chain")
    }
    // short-doc guard: 2 tokens < n=3 → empty
    import spark.implicits._
    val short = Seq("a b").toDF("text")
      .select(call_function("shingle_hashes", Text.toks, lit(3)))
      .collect().head.getSeq[Long](0)
    assert(short.isEmpty)
    // md5 sibling: same contract against its HOF chain (the
    // oracle-replayable 60-bit md5-prefix family)
    val bothMd5 = graft.Tables.load(spark, sfDir, "documents")
      .limit(200)
      .select(
        call_function("md5_shingles", Text.toks, lit(3)).as("native"),
        array_distinct(transform(Text.grams(3),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))
          .as("hof"))
      .collect()
    bothMd5.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "native md5 shingle hashes diverge from the HOF chain")
    }
  }

  test("minhash-LSH near-dup finds exactly the exact-Jaccard pairs") {
    val exact = TextDedup.dedupNgram(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.dedupMinhash(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
    assert(exact.nonEmpty, "test data should contain planted near-dups")
  }

  test("incremental dedup equals the exact cross-side restriction of dedup_ngram") {
    // ground truth: all-pairs exact Jaccard pairs restricted to
    // (incoming, existing) sides — the increment must drop exactly the
    // docs with a cross-side J >= 0.5 match, regardless of any
    // duplicates WITHIN the increment (those are dedup_minhash's job)
    val allPairs = TextDedup.dedupNgram(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val crossDup = allPairs.flatMap { case (a, b) =>
      Seq(a, b).filter(x => x % 4 == 0 &&
        Seq(a, b).exists(y => y % 4 != 0))
    }.toSet
    val out = TextDedup.dedupIncremental(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.keys.forall(_ % 4 == 0))
    out.foreach { case (id, kept) =>
      assert(kept == !crossDup(id), s"doc $id keep decision") }
    assert(crossDup.nonEmpty, "test data should contain cross-side dups")
    assert(out.values.count(identity) > 0, "some increment docs survive")
  }

  test("simhash separates planted near-dups from random pairs") {
    // The right property for simhash isn't precision against Jaccard
    // pairs (different metric, and the synthetic docs share one small
    // vocabulary) — it's that planted near-dups sit at much smaller
    // hamming distance than the population.
    val ham = TextDedup.dedupSimhash(spark, sfDir)
      .select("da", "db", "hamming").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val exact = TextDedup.dedupNgram(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    // every planted pair must be caught by the hamming≤6 blocking join
    val caught = exact.count(ham.contains)
    assert(caught.toDouble / exact.size >= 0.9,
      s"simhash caught $caught of ${exact.size} planted pairs")
    val plantedMax = exact.flatMap(ham.get).max
    assert(plantedMax <= TextDedup.SimHam)
  }

  test("LSH ANN recall@10 vs brute force at bucket granularity fitting the data") {
    val brute = VectorOps.annCosine(spark, sfDir)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2 planes → 4 buckets over the 50-vector sf0.001 corpus; the
    // 16-plane production setting is sized for much larger corpora.
    val lsh = VectorOps.annLshWith(spark, sfDir, nPlanes = 2)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (lsh intersect brute).size.toDouble / brute.size
    assert(recall > 0.2, s"recall@10 $recall")
  }

  test("IVF ANN recall@10 beats single-bucket LSH at matched probe cost") {
    val brute = VectorOps.annCosine(spark, sfDir)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.annIvf(spark, sfDir)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    // nprobe=4 of 16 cells scans ~25% of the corpus; recall should be
    // well above that share for clustered neighbors
    assert(recall > 0.3, s"IVF recall@10 $recall")
  }

  test("ann_filtered: every hit passes the per-query language filter; " +
    "ranks well-formed; subset of the unfiltered probe set") {
    import org.apache.spark.sql.functions.col
    val lang = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = VectorOps.annFiltered(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(rows.nonEmpty)
    // the predicate holds on every emitted candidate
    rows.foreach { case (q, c, _) =>
      assert(lang(c) == lang(q), s"q=$q c=$c: language filter violated")
    }
    // per-query ranks are 1..n contiguous, n <= 10
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val ranks = rs.map(_._3).sorted.toSeq
      assert(ranks.headOption.contains(1) &&
        ranks == (1 to ranks.length) && ranks.length <= 10,
        s"q=$q: ranks $ranks")
    }
    // filtered hits are a subset of the SAME probe structure's
    // unfiltered candidates (same frozen index, same cells)
    val unfiltered = VectorOps.annIvf(spark, sfDir)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val matchedTop = rows.filter { case (q, c, _) =>
      unfiltered.contains((q, c)) }
    // where the query's top unfiltered hits already satisfy the
    // filter, the filtered search must return them too
    unfiltered.filter { case (q, c) => lang(c) == lang(q) }
      .foreach { case (q, c) =>
        // every language-matching unfiltered top-10 hit must appear
        // in the filtered top-10 (removing non-matching candidates
        // can only PROMOTE matching ones)
        assert(rows.exists(r => r._1 == q && r._2 == c),
          s"q=$q c=$c: matching hit dropped by the filtered search")
      }
    assert(matchedTop.nonEmpty, "fixture must overlap the probe set")
  }

  test("one Lloyd iteration does not increase k-means inertia") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val init = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    def inertia(cents: org.apache.spark.sql.DataFrame): Double = {
      val d2 = expr(
        "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)")
      e.join(broadcast(cents))
        .select(col("vec_id"), d2.as("d2"))
        .groupBy("vec_id").agg(min("d2").as("m"))
        .agg(sum("m")).head().getDouble(0)
    }
    val before = inertia(init)
    val after = inertia(VectorOps.kmeansIterate(e, init, iters = 1, dim = 64))
    assert(after <= before + 1e-9, s"inertia rose: $before -> $after")
    assert(after < before, "iteration should strictly improve on this data")
  }

  test("native minhash_signature is bit-identical to the aggregated form") {
    val d = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_distinct(transform(Text.grams(3), g => xxhash64(g))).as("harr"))
    val native = d
      .select(col("doc_id"),
        call_function("minhash_signature", col("harr"), lit(8)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sigCols = (0 until 8).map(p =>
      min(xxhash64(lit(p), col("hs"))).as(s"sig_$p"))
    val agged = d.select(col("doc_id"), explode(col("harr")).as("hs"))
      .groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_))).toMap
    assert(native.keySet == agged.keySet)
    native.foreach { case (id, sig) =>
      assert(sig == agged(id), s"doc $id")
    }
  }

  test("IVF-cell embedding dedup: exact subset of brute force, bounded recall") {
    val brute = VectorOps.dedupEmbed(spark, sfDir)
      .select("da", "db", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = VectorOps.dedupEmbedIvf(spark, sfDir)
      .select("da", "db", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision 1: every within-cell pair is a true threshold pair
    // with the identical verified cosine
    ivf.foreach { case (k, c) =>
      assert(brute.contains(k) && brute(k) == c, s"spurious/mismatched $k")
    }
    // recall floor for this corpus's weak (cos≈0.46) pairs at 2 probes
    // of 16 cells; true near-dups (cos≥0.9) sit far inside cells
    assert(brute.nonEmpty)
    assert(ivf.size.toDouble / brute.size >= 0.4,
      s"recall ${ivf.size}/${brute.size}")
  }

  test("ngram exact mode refuses oversized corpora, pointing at minhash") {
    val e = intercept[IllegalArgumentException] {
      graft.ops.TextDedup.dedupNgramGuarded(spark, sfDir, maxDocs = 3)
    }
    assert(e.getMessage.contains("dedup_minhash"))
  }

  test("all-pairs vector baselines refuse oversized corpora, pointing at scale paths") {
    val e1 = intercept[IllegalArgumentException] {
      VectorOps.annCosineGuarded(spark, sfDir, cap = 3)
    }
    assert(e1.getMessage.contains("ann_lsh") ||
      e1.getMessage.contains("ann_ivf"))
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.dedupEmbedGuarded(spark, sfDir, cap = 3)
    }
    assert(e2.getMessage.contains("dedup_embed_ivf"))
  }

  test("multimodal pipeline: PNG encode→decode round-trips pixel stats") {
    val out = Multimodal.decodeAll(spark, sfDir)
    assert(out.columns.toSeq ==
      Seq("doc_id", "width", "height", "n_px", "mean_px",
        "q0", "q1", "q2", "q3", "n_half", "mean_half"))
    val docs = graft.Tables.load(spark, sfDir, "documents")
    assert(out.count() == docs.count())
    // decoded pixel stats == character stats of the source text (PNG
    // is lossless), checked row-for-row against column expressions
    val expected = docs.select(col("doc_id"),
      length(col("text")).as("e_n"),
      (aggregate(transform(split(col("text"), ""),
          ch => ascii(ch).cast("long")), lit(0L), (a, x) => a + x)
        .cast("double") / length(col("text"))).as("e_mean"))
    val bad = out.join(expected, Seq("doc_id"))
      .filter(col("n_px") =!= col("e_n") ||
        abs(col("mean_px") - col("e_mean")) > 1e-9 ||
        col("q0") + col("q1") + col("q2") + col("q3") =!= col("n_px"))
    assert(bad.isEmpty)
    // the payload is a real PNG container
    val payload = Multimodal.mediaTable(spark, sfDir)
      .orderBy("doc_id").head().getAs[Array[Byte]]("payload")
    assert(payload.take(4).map(_ & 0xFF).toSeq == Seq(0x89, 0x50, 0x4E, 0x47))
  }
}
