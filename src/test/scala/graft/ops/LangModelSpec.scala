package graft.ops

import graft.SparkSpec

class LangModelSpec extends SparkSpec {

  test("char_ngrams is identical to the substring HOF chain") {
    import org.apache.spark.sql.functions._
    val both = graft.Tables.load(spark, sfDir, "documents")
      .limit(200)
      .select(
        call_function("char_ngrams", col("text"), lit(3)).as("native"),
        expr("""CASE WHEN length(text) >= 3
          THEN transform(sequence(1, length(text) - 2),
            i -> substring(text, i, 3))
          ELSE array() END""").as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        "native char ngrams diverge from the HOF chain")
    }
    // multi-byte + short-string guards
    import spark.implicits._
    val edge = Seq("héllo wörld", "ab", "").toDF("text")
      .select(
        call_function("char_ngrams", col("text"), lit(3)).as("native"),
        expr("""CASE WHEN length(text) >= 3
          THEN transform(sequence(1, length(text) - 2),
            i -> substring(text, i, 3))
          ELSE array() END""").as("hof"))
      .collect()
    edge.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("unigram scores match hand computation on a known corpus") {
    import spark.implicits._
    // counts: a=3 b=1 c=1 d=1, N=6; vocab (c>=2) = {a}
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "d"))
      .toDF("doc_id", "text")
    val got = LangModel.scoreUnigram(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val ln = (x: Double) => math.log(x)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(0) == ((1L, 3L, r6(ln(6) - 2 * ln(3) / 3), 0.333333)))
    assert(got(1) == ((2L, 2L, r6(ln(6) - ln(3) / 2), 0.5)))
    assert(got(2) == ((3L, 1L, r6(ln(6)), 1.0)))
  }

  test("bigram scores: one bigram fewer than tokens, non-negative nll") {
    val uni = LangModel.textUnigramLp(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bi = LangModel.textBigramLp(spark, sfDir).collect()
    assert(bi.nonEmpty)
    bi.foreach { r =>
      assert(r.getLong(1) == uni(r.getLong(0)) - 1,
        "n_bigrams must be n_tokens - 1")
      assert(r.getDouble(2) >= -1e-9, "conditional nll is non-negative")
    }
  }

  test("chunk_sentences conserves tokens and packs within budget grain") {
    val rows = Corpus.chunkSentences(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, ch) =>
      val chunks = ch.map(_._2).sorted
      // a sentence longer than the budget legitimately skips chunk ids,
      // so pin: starts at 0, strictly increasing, no duplicates
      assert(chunks.head == 0 && chunks.distinct.length == chunks.length,
        "chunk ids start at 0 and never repeat")
    }
    assert(rows.exists(_._2 > 0), "multi-chunk documents must be exercised")
  }

  test("text_langid_stat: the modal prediction for every language is itself") {
    val conf = LangModel.textLangidStat(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(conf.nonEmpty)
    val nDocs = graft.Tables.load(spark, sfDir, "documents").count()
    assert(conf.map(_._3).sum == nDocs, "every document must be classified")
    conf.groupBy(_._1).foreach { case (lang, row) =>
      val modal = row.maxBy(_._3)._2
      assert(modal == lang,
        s"$lang: modal prediction was $modal — profiles must separate")
    }
  }

  test("ordering: a doc of common tokens scores lower nll than a doc of rare ones") {
    val rows = LangModel.textUnigramLp(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nll, oov) = (r.getDouble(2), r.getDouble(3))
      assert(nll >= 0.0, s"avg_nll must be non-negative, got $nll")
      assert(oov >= 0.0 && oov <= 1.0)
    }
    // all-rare docs sit at the ln N ceiling; every doc is bounded by it
    val nTotal = rows.map(_.getLong(1)).sum.toDouble
    rows.foreach(r => assert(r.getDouble(2) <= math.log(nTotal) + 1e-6))
  }
}
