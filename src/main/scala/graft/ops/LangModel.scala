package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-language-model scoring — the perplexity-style quality filter
  * of an LLM data pipeline (CCNet/Gopher practice: score each document
  * under a language model trained on the corpus itself and drop the
  * tails). Here the model is the corpus's own unigram distribution:
  *
  *   p(w) = c(w)/N          for in-vocabulary tokens (count ≥ minCount)
  *   p(w) = 1/N             for rare/OOV tokens (floor probability)
  *
  * and each document reports its average negative log-likelihood
  * (avg_nll — the log-perplexity proxy) plus its OOV fraction.
  *
  * Engine shape, chosen for 100 TB: the vocabulary is NOT broadcast —
  * a web-scale corpus has an unbounded heavy tail of rare tokens, so
  * the token→count table joins back to the exploded token stream as a
  * plain token-key shuffle join (the per-key dim side is exactly one
  * row, so hot tokens hash-partition without skew amplification), and
  * both aggregations (vocab build, per-doc fold) run with map-side
  * partial combine. The only broadcast is the one-row corpus total.
  * Σ ln c is a float sum folded at 6 dp — per-document term count
  * (~10²) bounds the cross-engine order-sensitivity near 1e-12, the
  * same argument text_entropy's gate has held through every round.
  */
object LangModel {

  /** Library entry point: score any (doc_id, text) DataFrame under its
    * own unigram distribution. minCount sets the vocabulary floor —
    * tokens below it score at the 1/N OOV floor probability. */
  def scoreUnigram(docsDf: DataFrame, minCount: Int = 2): DataFrame = {
    // consume a precomputed token column when the caller passes the
    // docToks artifact; fall back to splitting for arbitrary frames
    val tokCol = Text.toksOf(docsDf)
    val w = docsDf.select(col("doc_id"), explode(tokCol).as("w"))
    val vocab = w.groupBy("w").agg(count(lit(1)).as("c"))
    // shuffle_hash: the vocab must NEVER ride a broadcast — at web scale
    // the rare-token tail is unbounded. The hint pins the shuffled hash
    // join at every scale (PlanAuditSpec asserts it).
    w.join(vocab.hint("shuffle_hash"), "w")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("c") >= minCount, log(col("c").cast("double")))
          .otherwise(lit(0.0))).as("s_ln"),
        sum(when(col("c") < minCount, 1L).otherwise(0L)).as("n_oov"))
      .crossJoin(broadcast(vocab.agg(sum("c").cast("double").as("nt"))))
      .select(
        col("doc_id"), col("n_tok"),
        round(log(col("nt")) - col("s_ln") / col("n_tok"), 6).as("avg_nll"),
        round(col("n_oov").cast("double") / col("n_tok"), 6).as("oov_frac"))
  }

  def textUnigramLp(s: SparkSession, dir: String): DataFrame =
    scoreUnigram(Text.docToks(s, dir))
      .orderBy("doc_id")

  val textUnigramLpSql: String = """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    v AS (
      SELECT w, COUNT(*) AS c FROM w GROUP BY 1),
    n AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS nt FROM v),
    j AS (
      SELECT doc_id, c FROM w JOIN v USING (w))
    SELECT doc_id,
           COUNT(*) AS n_tok,
           ROUND(ln((SELECT nt FROM n))
                 - SUM(CASE WHEN c >= 2 THEN ln(CAST(c AS DOUBLE))
                       ELSE 0.0 END) / COUNT(*), 6) AS avg_nll,
           ROUND(CAST(SUM(CASE WHEN c < 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS oov_frac
    FROM j GROUP BY doc_id ORDER BY doc_id"""

  /** Bigram LM scoring — the next-order signal above textUnigramLp:
    * p(w2 | w1) = c(w1 w2) / c(w1 ·), per-doc average negative
    * conditional log-likelihood over its bigrams (docs shorter than
    * two tokens have no bigrams and drop out, mirrored in SQL).
    * Same scale shape as the unigram: both count tables join back by
    * key SHUFFLE (bigram vocab is far too large to broadcast at web
    * scale), all aggregations map-side combined, 6 dp float gate. */
  def textBigramLp(s: SparkSession, dir: String): DataFrame = {
    // native word_ngrams(toks, 2): the bigram stream in one compiled
    // pass (the former struct-transform HOF ran interpreted per
    // position), then MULTIPLICITY-FOLD BEFORE the checkpoint (the
    // text_langid_stat recipe): the raw bigram stream is scanned
    // exactly once and the hot table holds compact (doc, bg, k) rows —
    // the count tables AND the probe side re-derive from it by integer
    // sums, and the per-doc score becomes Σ k·(ln c1 − ln c12) on BOTH
    // engines (same doubles; the oracle folds identically)
    val dk = Text.docToks(s, dir)
      .select(col("doc_id"),
        explode(call_function("word_ngrams", col("toks"), lit(2)))
          .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
    // both count tables become WINDOW sums over the compact table —
    // c12(bg) = Σ k over the bigram, c1(w1) = Σ k over its context
    // (w1 re-derives from the bigram string; tokens are space-split,
    // so the first space is the token boundary). Two narrow window
    // shuffles replace the count-table builds + two shuffle-hash
    // join-backs; the window keys are the vocabulary — never broadcast
    // (the text_unigram_lp rule), and partition skew is bounded by the
    // hottest bigram/context frequency exactly like the join was.
    val w1 = substring_index(col("bg"), " ", 1)
    dk.withColumn("c12", sum(col("k")).over(Window.partitionBy("bg")))
      .withColumn("c1",
        sum(col("k")).over(Window.partitionBy(w1)))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * (log(col("c1").cast("double")) -
          log(col("c12").cast("double")))).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s") / col("n_bigrams"), 6).as("avg_nll2"))
      .orderBy("doc_id")
  }

  val textBigramLpSql: String = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bidx AS (
      SELECT doc_id, w,
             unnest(generate_series(1, len(w) - 1)) AS i
      FROM t),
    b AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg FROM bidx),
    dk AS (SELECT doc_id, bg, COUNT(*) AS k FROM b GROUP BY 1, 2),
    c12 AS (SELECT bg, CAST(SUM(k) AS BIGINT) AS c12 FROM dk GROUP BY 1),
    c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
           FROM c12 GROUP BY 1)
    SELECT dk.doc_id,
           CAST(SUM(dk.k) AS BIGINT) AS n_bigrams,
           ROUND(SUM(dk.k * (ln(CAST(c1.c1 AS DOUBLE))
                 - ln(CAST(c12.c12 AS DOUBLE)))) / SUM(dk.k), 6) AS avg_nll2
    FROM dk
    JOIN c12 ON dk.bg = c12.bg
    JOIN c1 ON split_part(dk.bg, ' ', 1) = c1.w1
    GROUP BY 1 ORDER BY doc_id"""

  /** Statistical language ID — the corpus-trained upgrade over the
    * stopword heuristic (text_langid): per-language char-TRIGRAM
    * profiles learned from the corpus's own labels, each document
    * scored under every language's Laplace-smoothed trigram model
    *   score(d, l) = Σ_g ln(c_{g,l} + 1) − n_grams(d)·ln(n_l + V)
    * and classified by argmax (rounded at 6 dp first, so the
    * cross-engine tie-break is stable; ties fall to the smaller
    * language code). Output is the confusion matrix (true lang ×
    * predicted, ≤ |L|² rows) — the evidence the classifier actually
    * separates languages. Scale shape: the trigram stream is exploded
    * once, multiplicity-folded map-side, and the compact (doc, gram,
    * k) table is what checkpoints and feeds every aggregate; the
    * learned profile (bounded by the gram space, not the corpus)
    * BROADCASTS back onto the probe side; absent (doc, lang) gram
    * matches contribute exactly ln(1) = 0 so no dense vocab×lang
    * materialization is needed, and the 5-row language totals + 1-row
    * vocab size broadcast. */
  /** Loud ceiling on the pivoted profile's language arity: each
    * language adds one dense double to every gram row and one static
    * sum column to the per-doc aggregate, so the pivot is only the
    * right shape while the label space is small (it is — ISO codes in
    * a labeled corpus number tens, not thousands). Past the cap the
    * right design is the lang-keyed long profile again; fail with the
    * remedy instead of silently planning a 1000-column aggregate. */
  val MaxLangidLangs = 64

  def textLangidStat(s: SparkSession, dir: String): DataFrame = {
    // native char_ngrams: the same trigram strings as the former
    // transform(sequence, i -> substring) HOF — which Catalyst runs
    // INTERPRETED per position — in one compiled pass
    val g3 = call_function("char_ngrams", col("text"), lit(3))
    // gram MULTIPLICITY folds BEFORE the checkpoint: the raw trigram
    // occurrence stream is scanned exactly once (explode → map-side
    // partial count → one shuffle), and the hot table holds compact
    // (doc, lang, gram, k) rows — the profile and the score probe both
    // derive from it by integer re-aggregation (lang is functionally
    // dependent on doc_id, so per-(doc, gram) multiplicities are
    // exact). The score term is k·ln(c+1) in BOTH engines — same
    // doubles.
    val dgc = Tables.hot(
      Text.docToks(s, dir)
        .select(col("doc_id"), col("lang"), explode(g3).as("g"))
        .groupBy("doc_id", "lang", "g").agg(count(lit(1)).as("kc")))
    // the label space is a ROUTING aggregate (≤ tens of rows, loud
    // cap): per-language gram totals collect to the driver so the
    // smoothing penalty ln(n_l + V) becomes a per-language constant
    // and the per-language score columns can be laid out statically.
    val langRows = dgc.groupBy(col("lang"))
      .agg(sum(col("kc")).as("nl")).orderBy("lang").collect()
    require(langRows.length <= MaxLangidLangs,
      s"text_langid_stat: ${langRows.length} languages exceed the " +
        s"pivoted-profile cap $MaxLangidLangs — route the profile " +
        "back through the long (gram, lang) join shape instead")
    val langs = langRows.map(r => (r.getString(0), r.getLong(1))).toSeq
    // the profile is the trained MODEL, PIVOTED to ONE row per gram
    // with a dense per-language ln(c+1) vector (absent (gram, lang)
    // pairs are exactly ln(1) = 0). The old long (gram, lang) profile
    // multiplied every probe row by the ~|langs| languages holding
    // that gram — a 5× join fan-out the pivot removes: the probe join
    // now emits ONE row per (doc, gram) and the broadcast hashmap
    // holds one entry per gram instead of five. Still ROUTED on the
    // measured gram count (CJK charsets push distinct trigrams into
    // the tens of millions): broadcast under the bound, loud
    // shuffle-hash fallback past it rather than a driver OOM.
    // hotCount doubles as the materialization AND measures V (the
    // distinct gram count of the smoothing term) for free.
    val (profV, nGrams) = Tables.hotCount(
      dgc.groupBy(col("g"), col("lang"))
        .agg(sum(col("kc")).as("c"))
        .groupBy("g")
        .agg(map_from_entries(collect_list(struct(col("lang"),
          log(col("c").cast("double") + 1.0)))).as("m"))
        .select(col("g") +: langs.zipWithIndex.map { case ((l, _), i) =>
          coalesce(col("m")(lit(l)), lit(0.0)).as(s"lc$i") }: _*))
    // per-doc scores in ONE aggregate pass: |langs| static conditional
    // sums (plus the gram total) — no (doc, lang)-keyed shuffle, no
    // per-language row expansion anywhere in the plan.
    val sums = sum(col("k")).as("n_g") +:
      langs.indices.map(i => sum(col("k") * col(s"lc$i")).as(s"s$i"))
    val perDoc = dgc
      .select(col("doc_id"), col("lang"), col("g"),
        col("kc").cast("double").as("k"))
      // routeState's row bound was sized for ~16-byte packed (v, long)
      // rows; a PIVOTED profile row carries the gram plus a dense
      // |langs|-double vector (~8 B each), so route on the EFFECTIVE
      // packed-row count nGrams·|langs| — a CJK-scale profile near the
      // raw-gram bound would otherwise broadcast multiple GB into the
      // driver OOM the route exists to prevent.
      .join(Graph.routeState("text_langid_stat.profile", profV,
          nGrams * math.max(1, langs.length).toLong),
        Seq("g"))
      .groupBy("doc_id", "lang")
      .agg(sums.head, sums.tail: _*)
    // argmax by (score DESC, plang ASC) is a map-side array_min over
    // the per-language candidate structs — scores rounded at 6 dp
    // FIRST so the cross-engine tie-break is stable (ties fall to the
    // smaller language code), like the old min-struct aggregate but
    // with no extra shuffle. ln(n_l + V) is a driver constant: same
    // java.lang.Math.log Spark's log expression evaluates, on an
    // exactly-representable integer-valued double.
    perDoc.select(col("lang"), array_min(array(
        langs.zipWithIndex.map { case ((l, nl), i) =>
          struct(
            (-round(col(s"s$i") - col("n_g") *
              lit(math.log(nl.toDouble + nGrams.toDouble)), 6)).as("ns"),
            lit(l).as("plang"))
        }: _*)).as("m"))
      .groupBy(col("lang"), col("m.plang").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  val textLangidStatSql: String = """
    WITH dg AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, length(text) - 2),
               i -> substr(text, i, 3))) AS g
      FROM documents),
    prof AS (
      SELECT g, lang AS plang, COUNT(*) AS c FROM dg GROUP BY 1, 2),
    langtot AS (
      SELECT plang, CAST(SUM(c) AS BIGINT) AS nl FROM prof GROUP BY 1),
    vdf AS (
      SELECT CAST(COUNT(DISTINCT g) AS DOUBLE) AS v FROM prof),
    docg AS (
      SELECT doc_id, lang, COUNT(*) AS n_g FROM dg GROUP BY 1, 2),
    docgram AS (
      SELECT doc_id, g, CAST(COUNT(*) AS DOUBLE) AS k
      FROM dg GROUP BY 1, 2),
    perlang AS (
      SELECT d.doc_id, prof.plang,
             SUM(d.k * ln(CAST(prof.c AS DOUBLE) + 1.0)) AS s0
      FROM docgram d JOIN prof ON d.g = prof.g
      GROUP BY 1, 2),
    scored AS (
      SELECT d.doc_id, d.lang, t.plang,
             ROUND(COALESCE(p.s0, 0.0)
               - d.n_g * ln(CAST(t.nl AS DOUBLE) + (SELECT v FROM vdf)),
               6) AS score
      FROM docg d
      CROSS JOIN langtot t
      LEFT JOIN perlang p ON p.doc_id = d.doc_id AND p.plang = t.plang),
    pred AS (
      SELECT doc_id, lang, plang AS pred_lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score DESC, plang) AS rn
      FROM scored)
    SELECT lang, pred_lang, COUNT(*) AS n
    FROM pred WHERE rn = 1
    GROUP BY 1, 2 ORDER BY lang, pred_lang"""

  /** CCNet-style perplexity bucketing: every document scored under the
    * corpus unigram LM (scoreUnigram — the certified text_unigram_lp
    * machinery), then split per source into head/middle/tail TERCILES
    * of avg negative log-likelihood, with per-bucket survival stats —
    * the bucket label that decides which third of a crawl enters
    * training, which gets LM-filtered, which is dropped.
    *
    * The tercile cuts come from a 300-bin MERGEABLE histogram per
    * source (the q_incr_quantile machinery), never a per-source global
    * sort: bin counts aggregate with map-side combine, the cut bins
    * fold over the tiny (source × 300) table, and bucket assignment is
    * an integer bin comparison against two broadcast cut points. Cut
    * positions are exact integer ceilings ((n+2) DIV 3), and avg_nll
    * is already rounded at 6 dp by the scorer, so binning the
    * identical doubles is bit-deterministic cross-engine.
    */
  def textPplBucket(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = 300
    val docs = Text.docToks(s, dir)
    val scored = scoreUnigram(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
    val span = scored.groupBy("source")
      .agg(min("avg_nll").as("lo"), max("avg_nll").as("hi"))
    val binned = scored.join(broadcast(span), "source")
      .withColumn("bin",
        when(col("hi") > col("lo"),
          least(lit(nb - 1), greatest(lit(0),
            floor((col("avg_nll") - col("lo")) / (col("hi") - col("lo")) * nb)
              .cast("int"))))
          .otherwise(0))
    val counts = binned.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cc", sum(col("c")).over(Window.partitionBy("source")
        .orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nn", sum(col("c")).over(Window.partitionBy("source")))
    val cuts = cum.groupBy("source").agg(
      min(when(col("cc") >= expr("(nn + 2) DIV 3"), col("bin"))).as("b1"),
      min(when(col("cc") >= expr("(2 * nn + 2) DIV 3"), col("bin"))).as("b2"))
    binned.join(broadcast(cuts), "source")
      .withColumn("bucket",
        when(col("bin") <= col("b1"), "head")
          .when(col("bin") <= col("b2"), "middle")
          .otherwise("tail"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        QueryDef.davg(col("avg_nll"), 6).as("mean_nll"),
        QueryDef.davg(col("n_tok"), 4).as("mean_tok"))
      .orderBy("source", "bucket")
  }

  val textPplBucketSql: String = """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    v AS (SELECT w, COUNT(*) AS c FROM w GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS DOUBLE) AS nt FROM v),
    j AS (SELECT doc_id, c FROM w JOIN v USING (w)),
    lp AS (
      SELECT doc_id, COUNT(*) AS n_tok,
             ROUND(ln((SELECT nt FROM n))
                   - SUM(CASE WHEN c >= 2 THEN ln(CAST(c AS DOUBLE))
                         ELSE 0.0 END) / COUNT(*), 6) AS avg_nll
      FROM j GROUP BY doc_id),
    sc AS (
      SELECT lp.doc_id, d.source, lp.n_tok, lp.avg_nll
      FROM lp JOIN documents d USING (doc_id)),
    span AS (
      SELECT source, MIN(avg_nll) AS lo, MAX(avg_nll) AS hi
      FROM sc GROUP BY 1),
    b AS (
      SELECT sc.*, CASE WHEN hi > lo
        THEN least(299, greatest(0,
          CAST(floor((avg_nll - lo) / (hi - lo) * 300) AS INTEGER)))
        ELSE 0 END AS bin
      FROM sc JOIN span USING (source)),
    c AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
    cum AS (
      SELECT source, bin,
             SUM(c) OVER (PARTITION BY source ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cc,
             SUM(c) OVER (PARTITION BY source) AS nn
      FROM c),
    cuts AS (
      SELECT source,
             MIN(CASE WHEN cc >= (nn + 2) // 3 THEN bin END) AS b1,
             MIN(CASE WHEN cc >= (2 * nn + 2) // 3 THEN bin END) AS b2
      FROM cum GROUP BY 1)
    SELECT b.source,
           CASE WHEN bin <= b1 THEN 'head'
                WHEN bin <= b2 THEN 'middle' ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(avg_nll AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_nll,
           ROUND(CAST(SUM(CAST(n_tok AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_tok
    FROM b JOIN cuts USING (source)
    GROUP BY 1, 2 ORDER BY 1, 2"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("text_ppl_bucket", textPplBucket, Some(textPplBucketSql)),
    QueryDef("text_unigram_lp", textUnigramLp, Some(textUnigramLpSql)),
    QueryDef("text_bigram_lp", textBigramLp, Some(textBigramLpSql)),
    QueryDef("text_langid_stat", textLangidStat, Some(textLangidStatSql)))
}
