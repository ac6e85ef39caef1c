package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared token/n-gram column expressions for the text operators —
  * one definition so TextDedup and Events cannot drift.
  */
object Text {

  /** Whitespace tokens of the `text` column. */
  val toks: Column = split(col("text"), " ")

  /** The token array of `df`: its `toks` column when it carries one (a
    * `docToks` frame, or a corpus chain no step has rewritten — steps
    * that rewrite `text` drop it), else `toks` split from `text`. */
  def toksOf(df: DataFrame): Column =
    if (df.columns.contains("toks")) col("toks") else toks

  /** SESSION-FROZEN ARTIFACT (the ivfAssign / bm25Stats pattern): the
    * TOKENIZED corpus base table — documents plus their whitespace
    * token array and token count, fanned out, checkpointed and pinned
    * once per (session, corpus dir). This is INPUT PREP, not operator
    * headline work: a production pipeline materializes its tokenized
    * corpus once and every text job reads it, instead of re-scanning
    * the raw parquet and re-splitting every document per query (which
    * is what the whole text_* family did before — tfidf, bm25,
    * heavy-hitters, bigram/unigram LM, zipf, entropy, tokens, quality
    * each paid the identical scan+split). Token arrays are exactly
    * `split(text, ' ')`, so every consumer's values — and the DuckDB
    * oracle's `string_split` mirror — are unchanged.
    *
    * Columns: doc_id, text, lang, source, n_chars, toks, n_tok. */
  def docToks(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frozen(s, ("text.docToks", dir)) {
      graft.Artifacts.pin(
        graft.Tables.fanout(graft.Tables.load(s, dir, "documents"))
          .withColumn("toks", toks)
          .withColumn("n_tok", size(col("toks"))))
    }

  /** n-gram array over `toks` — the native `word_ngrams` kernel
    * (functions/ShingleHashes.scala), gram-for-gram BIT-IDENTICAL to
    * the `transform(sequence(…), i -> concat_ws(' ', slice(toks, i,
    * n)))` HOF chain it replaces (certified in TextVecSpec): Catalyst
    * ran that lambda INTERPRETED per position with a slice allocation
    * + string build each; the kernel emits the same strings through
    * `UTF8String.concatWs` in one compiled pass. Docs shorter than n
    * tokens yield the empty array (the short-doc guard both the old
    * CASE and the DuckDB oracle's generate_series(1, 0) encode). */
  def grams(n: Int): Column =
    call_function("word_ngrams", toks, lit(n))
}
