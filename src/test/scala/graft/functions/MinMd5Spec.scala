package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** min_md5(toks, n) must be bit-identical to the interpreted HOF chain
  * it replaces in text_fingerprint:
  *
  *   array_min(transform(word_ngrams(toks, n), g -> md5(g)))
  *
  * including the unsigned-digest-order = hex-order selection argument
  * and the NULL short-doc guard (fewer than n tokens). */
class MinMd5Spec extends SparkSpec {

  test("min_md5 matches array_min over md5 of word n-grams") {
    val rnd = new scala.util.Random(42)
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "Zq",
      "longer-token", "7", "", "éàü")
    val rows = (1 to 300).map { _ =>
      (1 to rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.size)))
        .mkString(" ")
    } :+ "" :+ "one two three" :+ "one two three four"
    import spark.implicits._
    val toks = split(col("text"), " ")
    val df = rows.toDF("text")
    val got = df.select(
      call_function("min_md5", toks, lit(4)).as("k"),
      array_min(transform(
        call_function("word_ngrams", toks, lit(4)), g => md5(g))).as("k0"),
      call_function("min_md5", toks, lit(2)).as("j"),
      array_min(transform(
        call_function("word_ngrams", toks, lit(2)), g => md5(g))).as("j0"))
      .collect()
    got.foreach { r =>
      assert(r.getString(0) === r.getString(1), "n=4 fingerprint diverges")
      assert(r.getString(2) === r.getString(3), "n=2 fingerprint diverges")
    }
    assert(got.exists(_.getString(0) == null), "short-doc NULL guard untested")
    assert(got.exists(_.getString(0) != null), "no non-null fingerprints")
  }
}
