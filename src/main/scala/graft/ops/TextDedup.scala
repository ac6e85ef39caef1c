package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data text operators: exact + near deduplication, token
  * statistics, quality scoring, language ID, fingerprinting. First-class
  * engine components (SURVEY.md §2 "LLM-training-data operators").
  *
  * Scale notes: exact dedup is a hash groupBy (one shuffle). Near-dup
  * has two modes — `dedup_ngram` is the exact mode (shingle self-join;
  * right at small scale, quadratic-ish at 100 TB), `dedup_minhash` is
  * the scale mode: 64-perm MinHash signatures → 32 LSH band buckets →
  * candidate pairs only → exact Jaccard verification of candidates.
  * Both emit identical pairs at the configured threshold (the LSH miss
  * probability at J≥0.5 with 32 bands of 2 is ≤ (1-0.25)^32 ≈ 1e-4,
  * and the planted near-dups sit well above the threshold).
  */
object TextDedup {

  /** Documents scan, fanned out across the cluster at the source: the
    * parquet file arrives as one split locally, and every operator in
    * this family does per-doc work that must not serialize on one task
    * (shingle explosion, regex extraction, md5 over every 4-gram). One
    * cheap shuffle of the compact rows restores full parallelism. */
  // session-frozen tokenized corpus (Text.docToks) - the pinned base
  // table every text query reads instead of re-scanning + re-splitting
  private def docs(s: SparkSession, dir: String) = Text.docToks(s, dir)

  private val toks = Text.toks
  private def grams(n: Int): Column = Text.grams(n)

  /** Distinct hashed shingles: (doc_id, hs). All self-joins run on the
    * 8-byte hash, not the string — same pairs (64-bit collisions are
    * ~1e-11 at this vocabulary), far smaller shuffles. The native
    * shingle_hashes pass dedups WITHIN the document, which makes
    * (doc_id, hs) rows distinct by construction — the global distinct
    * shuffle the HOF form needed is gone. */
  private def shinglesHashed(d: DataFrame): DataFrame = {
    graft.GraftFunctions.register(d.sparkSession)
    d.select(col("doc_id"),
      explode(call_function("shingle_hashes", toks, lit(3))).as("hs"))
  }

  /** Exact-Jaccard pairs ≥ `minJ` from a hashed-shingle table over all
    * co-occurring pairs — the exact small-scale mode (dedup_ngram);
    * candidate-driven callers verify off the shingle ARRAYS instead
    * (see dedupMinhash). */
  private def jaccardPairs(sh: DataFrame, minJ: Double): DataFrame = {
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common =
      sh.as("a").join(sh.as("b"),
          col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("c"))
    common
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("j"))
      .filter(col("j") >= minJ)
      .orderBy("da", "db")
  }

  /** Exact-Jaccard verification of CANDIDATE pairs straight off the
    * per-doc sorted distinct shingle-hash arrays: two joins fetch each
    * pair's arrays, |A∩B| is one compiled zero-allocation two-pointer
    * merge (`sorted_common` — shingle_hashes emits sorted arrays), and
    * |A| / |B| are array sizes. The former exploded-row form re-keyed
    * the ENTIRE (doc_id, hs) corpus by candidate doc twice and paid a
    * full (da, db) hash aggregate over every matched shingle row; only
    * the candidates pay anything here, and c / (na + nb − c) is the
    * identical double arithmetic on identical integers. */
  private def jaccardPairsArr(base: DataFrame, minJ: Double,
                              cands: DataFrame): DataFrame =
    cands
      .join(base.select(col("doc_id").as("da"), col("harr").as("ha")),
        Seq("da"))
      .join(base.select(col("doc_id").as("db"), col("harr").as("hb")),
        Seq("db"))
      .select(col("da"), col("db"),
        call_function("sorted_common", col("ha"), col("hb")).as("c"),
        size(col("ha")).cast("long").as("na"),
        size(col("hb")).cast("long").as("nb"))
      .select(col("da"), col("db"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("j"))
      .filter(col("j") >= minJ)
      .orderBy("da", "db")

  // ---- exact dedup ---------------------------------------------------
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .orderBy("h")

  val dedupExactSql: String = """
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n
    FROM documents GROUP BY 1 ORDER BY h"""

  // ---- quality-aware canonical selection -----------------------------
  /** Exact dedup with a QUALITY policy: among byte-identical texts keep
    * the doc with the most characters (tie → lowest doc_id) — the
    * production "keep the best copy" rule, vs dedup_exact's keep-first.
    * The argmax is a single commutative MAX over one bit-packed long —
    * (n_chars << 43) | (2^43−1 − doc_id), so "longer wins, ties go to
    * the smaller id" is the plain integer order. Packing matters for
    * the plan: max/max_by over a (n_chars, −doc_id) STRUCT has a
    * variable-width buffer, which HashAggregateExec can't hold, and
    * the whole aggregation silently regresses to SortAggregate (a sort
    * of every partition); a primitive long keeps it a true hash
    * aggregate with map-side partials (PlanAuditSpec pins this). The
    * packing is guarded — n_chars ≥ 2^20 or doc_id ≥ 2^43 fails
    * loudly rather than mis-ranking. Reads the table directly: a pure
    * aggregation needs no fanout repartition (partials shrink the
    * data BEFORE the only shuffle). The oracle replays the argmax as
    * a ROW_NUMBER window with the same total order. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val idSpace = 1L << 43
    val packed = when(
      col("n_chars") >= 0 && col("n_chars") < (1L << 20) &&
        col("doc_id") >= 0 && col("doc_id") < idSpace,
      shiftleft(col("n_chars"), 43) +
        (lit(idSpace - 1) - col("doc_id")))
      .otherwise(raise_error(concat(
        lit("dedup_keep_best: doc_id/n_chars outside packable range: "),
        col("doc_id").cast("string"))))
    Tables.load(s, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(max(packed).as("p"), count(lit(1)).as("n"))
      .select(col("h"),
        (lit(idSpace - 1) - (col("p") % idSpace)).as("keep_id"),
        shiftright(col("p"), 43).as("n_chars"), col("n"))
      .orderBy("h")
  }

  val dedupKeepBestSql: String = """
    SELECT h, doc_id AS keep_id, n_chars, n FROM (
      SELECT md5(text) AS h, doc_id, n_chars,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n,
             ROW_NUMBER() OVER (PARTITION BY md5(text)
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    WHERE rn = 1 ORDER BY h"""

  // ---- exact n-gram Jaccard near-dup (small-scale exact mode) --------
  /** Exact mode guardrail: the shingle self-join is quadratic-ish in
    * corpus size, so refuse corpora past `maxDocs` instead of silently
    * launching a 100 TB-shaped disaster — at scale, dedup_minhash
    * computes the same pairs with LSH candidate pruning. */
  val NgramMaxDocs = 200000L

  def dedupNgram(s: SparkSession, dir: String): DataFrame =
    dedupNgramGuarded(s, dir, NgramMaxDocs)

  def dedupNgramGuarded(s: SparkSession, dir: String,
                        maxDocs: Long): DataFrame = {
    val d = docs(s, dir)
    val n = d.count()
    require(n <= maxDocs,
      s"dedup_ngram is the small-scale exact mode ($n docs > cap $maxDocs); " +
        "use dedup_minhash: same pairs at threshold 0.5, LSH-pruned")
    jaccardPairs(Tables.hot(shinglesHashed(d)), 0.5)
  }

  val dedupNgramSql: String = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 2),
          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT da, db,
      CAST(c AS DOUBLE) / (cnt_a.n + cnt_b.n - c) AS j
    FROM common
    JOIN cnt cnt_a ON common.da = cnt_a.doc_id
    JOIN cnt cnt_b ON common.db = cnt_b.doc_id
    WHERE CAST(c AS DOUBLE) / (cnt_a.n + cnt_b.n - c) >= 0.5
    ORDER BY da, db"""

  // ---- MinHash + LSH near-dup (100 TB scale mode) --------------------
  val NumPerms = 64
  val BandRows = 2 // 32 bands × 2 rows

  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    // per-doc SORTED distinct shingle-hash ARRAY: signatures become a
    // pure map stage (native minhash_signature computes all 64
    // permutation minima in one pass — bit-identical to the former
    // explode + 64-column min aggregation, minus its shuffle), and the
    // exact verification reads the same materialized arrays per
    // candidate pair — the corpus is never exploded into (doc, hs)
    // rows at all
    val base = Tables.hot(
      docs(s, dir).select(col("doc_id"),
        call_function("shingle_hashes", toks, lit(3)).as("harr")))
    // band keys: hash of each row-group of the signature. sig lives in
    // ONE projection chain off the checkpoint (never re-derived from
    // raw text — project-collapse would otherwise inline harr's gram
    // hashing into every sig reference)
    val bands = (0 until NumPerms / BandRows).map { b =>
      val rows = (0 until BandRows).map(r => col("sig")(b * BandRows + r))
      struct(lit(b).as("band"), xxhash64(lit(b) +: rows: _*).as("bk"))
    }
    val bucketed = base
      .select(col("doc_id"),
        call_function("minhash_signature", col("harr"), lit(NumPerms)).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), explode(array(bands: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bk").as("bk"))
    // salted within-bucket pair generation: singleton buckets dropped,
    // hot buckets split over ceil(m/32) shuffle keys (SURVEY.md §4)
    val cands = SkewJoin.saltedSelfPairs(bucketed, Seq("band", "bk"),
        "doc_id", target = 32)
      .select(col("_ida").as("da"), col("_idb").as("db"))
      .distinct()
    // exact Jaccard verification, candidate-driven, off the sorted
    // arrays (sorted_common two-pointer merge per pair)
    jaccardPairsArr(base, 0.5, cands)
  }

  /** INCREMENTAL near-dedup — new documents against an EXISTING corpus,
    * the shape a daily crawl actually runs (dedup the increment against
    * the index, never re-pair the whole corpus): LSH band buckets for
    * both sides from the same 64-permutation signatures as
    * [[dedupMinhash]], candidates from a CROSS-SIDE equi-join of
    * incoming buckets against existing buckets (salted through
    * `SkewJoin.saltedJoin` — a hot band bucket on either side would
    * otherwise pin one reducer), exact-Jaccard verification
    * candidate-driven, and one verdict row per incoming document
    * (duplicate count, best match, keep decision). At 100 TB the
    * existing side's buckets are a precomputed index; per day the work
    * is |increment| signatures + one bucket join — never O(corpus²).
    * Split here: doc_id % 4 = 0 is the increment (deterministic,
    * oracle-replayable); the oracle is the exhaustive cross-side
    * Jaccard, so the hash gate certifies 100% LSH recall at J ≥ 0.5
    * cross-side (the dedup_minhash bands, restricted to inc × base).
    */
  /** Packed LSH bucket keys from a `harr` shingle-hash array column:
    * one (kept columns…, key) row per band, sig-null (short) docs
    * dropped. The SHARED construction between dedupIncremental and its
    * streaming twin (streaming/StreamDedup.incrementalDedupStream) —
    * one definition so the two sides cannot drift. */
  private[graft] def packedBandKeys(df: DataFrame,
                                    keep: Seq[String]): DataFrame = {
    val bands = (0 until NumPerms / BandRows).map { b =>
      val rows = (0 until BandRows).map(r => col("sig")(b * BandRows + r))
      struct(lit(b).as("band"), xxhash64(lit(b) +: rows: _*).as("bk"))
    }
    df.select(keep.map(col) :+
        call_function("minhash_signature", col("harr"), lit(NumPerms))
          .as("sig"): _*)
      .filter(col("sig").isNotNull)
      .select(keep.map(col) :+ explode(array(bands: _*)).as("e"): _*)
      .select(keep.map(col) :+
        xxhash64(col("e.band"), col("e.bk")).as("key"): _*)
  }

  /** Shingle-hash array for the incremental-dedup family (3-gram
    * xxhash64, distinct) — shared with the streaming twin. */
  private[graft] def harrOf: Column =
    call_function("shingle_hashes", toks, lit(3))

  /** SESSION-FROZEN ARTIFACT (the ivfAssign / bm25Stats pattern): the
    * EXISTING corpus side's shingle arrays and LSH band buckets — the
    * "precomputed index" of the incremental scenario (see the
    * dedupIncremental Scaladoc: at 100 TB these are built nightly and
    * every increment dedups against them). Built once per
    * (session, corpus dir); only the increment side's signatures are
    * computed per run. */
  private case class IncIndex(harr: DataFrame, buckets: DataFrame)

  private def incIndex(s: SparkSession, dir: String): IncIndex =
    graft.Artifacts.frozen(s, ("textDedup.incIndex", dir)) {
      val harr = graft.Artifacts.pin(
        docs(s, dir).filter(col("doc_id") % 4 =!= 0)
          .select(col("doc_id"), harrOf.as("harr")))
      IncIndex(harr, graft.Artifacts.pin(packedBandKeys(harr, Seq("doc_id"))))
    }

  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val idx = incIndex(s, dir)
    val base = Tables.hot(
      docs(s, dir).filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), harrOf.as("harr")))
    val incoming = packedBandKeys(base, Seq("doc_id"))
      .select(col("key"), col("doc_id").as("da"))
    val existing = idx.buckets
      .select(col("key"), col("doc_id").as("db"))
    val cands = SkewJoin.saltedJoin(incoming, existing, "key", buckets = 8)
      .select("da", "db").distinct()
    // exact Jaccard straight off the hot SORTED distinct-shingle
    // ARRAYS: two joins fetch each candidate pair's arrays, |A∩B| is a
    // per-pair zero-allocation sorted_common merge — the corpus is
    // never re-exploded into (doc, shingle) rows and the
    // common-shingle groupBy disappears (candidates are the only rows
    // that pay anything). Same j: the arrays are the same distinct
    // 64-bit shingle hashes, c/(na+nb-c) is the identical double
    // arithmetic.
    val dups = cands
      .join(base.select(col("doc_id").as("da"), col("harr").as("ha")), "da")
      .join(idx.harr.select(col("doc_id").as("db"), col("harr").as("hb")),
        "db")
      .select(col("da"),
        call_function("sorted_common", col("ha"), col("hb")).as("c"),
        size(col("ha")).as("na"), size(col("hb")).as("nb"))
      .select(col("da"), (col("c").cast("double") /
        (col("na") + col("nb") - col("c")).cast("double")).as("j"))
      .filter(col("j") >= 0.5)
      .groupBy(col("da").as("doc_id"))
      .agg(count(lit(1)).as("nd"), max(col("j")).as("bj"))
    base.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nd"), lit(0L)).as("n_dups"),
        coalesce(col("bj"), lit(0.0)).as("best_j"),
        col("nd").isNull.as("kept"))
      .orderBy("doc_id")
  }

  val dedupIncrementalSql: String = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 2),
          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s
       AND a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
      GROUP BY 1, 2),
    dups AS (
      SELECT da, COUNT(*) AS nd,
             MAX(CAST(c AS DOUBLE) / (cnt_a.n + cnt_b.n - c)) AS bj
      FROM common
      JOIN cnt cnt_a ON common.da = cnt_a.doc_id
      JOIN cnt cnt_b ON common.db = cnt_b.doc_id
      WHERE CAST(c AS DOUBLE) / (cnt_a.n + cnt_b.n - c) >= 0.5
      GROUP BY da)
    SELECT d.doc_id, CAST(COALESCE(nd, 0) AS BIGINT) AS n_dups,
           COALESCE(bj, 0.0) AS best_j, nd IS NULL AS kept
    FROM documents d LEFT JOIN dups ON d.doc_id = dups.da
    WHERE d.doc_id % 4 = 0
    ORDER BY d.doc_id"""

  // ---- SimHash near-dup (oracle-exact: md5-derived 60-bit hash) ------
  /** 60-bit simhash: per token, a 60-bit hash from the first 15 hex
    * chars of md5 (Spark `conv` and DuckDB's '0x…'::UBIGINT parse the
    * identical value — 15 chars so it fits a signed BIGINT); per bit,
    * a +1/−1 vote summed over tokens (duplicates counted); bit set
    * when the vote is positive. Blocking, candidate pairs and the
    * hamming≤SimHam filter are all mirrored in the DuckDB oracle, making
    * the whole near-dup operator hash-exact — not just rows-only. */
  val SimBits = 60
  val SimSegs = 4 // 15-bit segments
  val SimHam = 7  // ≈ the classic 6-of-64 relative distance at 60 bits

  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), explode(toks).as("w"))
      .withColumn("h",
        expr("CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)"))
    val bitCols = (0 until SimBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v_$b")
    }
    val votes = d.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val sim = (0 until SimBits).map(b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    val sigs = Tables.hot(votes.select(col("doc_id"), sim.as("simhash")))
    // hamming ≤ SimHam via segment pigeonhole blocking
    val segBits = SimBits / SimSegs
    val segMask = (1L << segBits) - 1
    val seg = (0 until SimSegs).map(k =>
      struct(lit(k).as("seg"),
        shiftright(col("simhash"), k * segBits).bitwiseAND(lit(segMask)).as("sk")))
    val blocked = sigs.select(col("doc_id"), col("simhash"),
        explode(array(seg: _*)).as("e"))
      .select(col("doc_id"),
        col("e.seg").as("seg"), col("e.sk").as("sk"))
    val hashes = sigs.select(col("doc_id"), col("simhash"))
    // salted within-block pair generation (same skew story as minhash)
    SkewJoin.saltedSelfPairs(blocked, Seq("seg", "sk"), "doc_id",
        target = 32)
      .select(col("_ida").as("da"), col("_idb").as("db"))
      .distinct()
      .join(hashes.select(col("doc_id").as("da"), col("simhash").as("ha")), Seq("da"))
      .join(hashes.select(col("doc_id").as("db"), col("simhash").as("hb")), Seq("db"))
      .select(col("da"), col("db"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= SimHam)
      .orderBy("da", "db")
  }

  /** DuckDB mirror of dedupSimhash: identical 60-bit hash, unrolled
    * per-bit votes, identical blocking and hamming filter. */
  val dedupSimhashSql: String = {
    val voteCols = (0 until SimBits).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v_$b")
      .mkString(",\n      ")
    val simExpr = (0 until SimBits).map(b =>
      s"(CASE WHEN v_$b > 0 THEN (1::UBIGINT << $b) ELSE 0::UBIGINT END)")
      .mkString(" + ")
    val segBits = SimBits / SimSegs
    val segMask = (1L << segBits) - 1
    s"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::UBIGINT AS h FROM w),
    votes AS (
      SELECT doc_id,
      $voteCols
      FROM h GROUP BY 1),
    sims AS (
      SELECT doc_id, $simExpr AS simhash FROM votes),
    blocked AS (
      SELECT doc_id, simhash, t.k AS seg,
             CAST((simhash >> ($segBits * t.k)) & $segMask AS BIGINT) AS sk
      FROM sims, generate_series(0, ${SimSegs - 1}) t(k)),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM blocked a JOIN blocked b
        ON a.seg = b.seg AND a.sk = b.sk AND a.doc_id < b.doc_id)
    SELECT da, db,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
    FROM cand
    JOIN sims sa ON da = sa.doc_id
    JOIN sims sb ON db = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $SimHam
    ORDER BY da, db"""
  }

  // ---- token statistics ----------------------------------------------
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
        col("doc_id"),
        size(toks).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_alpha"),
        length(col("text")).as("n_chars_m"))
      .orderBy("doc_id")

  val textTokensSql: String = """
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
      CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_alpha,
      CAST(length(text) AS INTEGER) AS n_chars_m
    FROM documents ORDER BY doc_id"""

  // ---- quality scoring -----------------------------------------------
  def textQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
        col("doc_id"),
        size(toks).as("n_words"),
        (size(filter(toks, w => w.isin("the", "a"))).cast("double") /
          size(toks)).as("stop_ratio"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(toks)).as("avg_word_len"),
        (size(array_distinct(toks)).cast("double") / size(toks))
          .as("type_token_ratio"))
      .orderBy("doc_id")

  val textQualitySql: String = """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
      CAST(len(w) AS INTEGER) AS n_words,
      CAST(len(list_filter(w, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(w) AS stop_ratio,
      CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w) AS avg_word_len,
      CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio
    FROM t ORDER BY doc_id"""

  // ---- language ID (stopword-profile heuristic) ----------------------
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    def hits(ws: String*) = size(filter(toks, w => w.isin(ws: _*)))
    val cEn = hits("the", "a", "of")
    val cDe = hits("der", "die", "und")
    val cEs = hits("el", "la", "de")
    docs(s, dir).select(col("doc_id"), cEn.as("c_en"), cDe.as("c_de"),
        cEs.as("c_es"))
      .withColumn("pred_lang",
        when(col("c_en") >= greatest(col("c_de"), col("c_es")) &&
          col("c_en") > 0, "en")
          .when(col("c_de") >= col("c_es") && col("c_de") > 0, "de")
          .when(col("c_es") > 0, "es")
          .otherwise("und"))
      .select("doc_id", "pred_lang", "c_en", "c_de", "c_es")
      .orderBy("doc_id")
  }

  val textLangidSql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (SELECT doc_id,
      CAST(len(list_filter(w, x -> x = 'the' OR x = 'a' OR x = 'of')) AS INTEGER) AS c_en,
      CAST(len(list_filter(w, x -> x = 'der' OR x = 'die' OR x = 'und')) AS INTEGER) AS c_de,
      CAST(len(list_filter(w, x -> x = 'el' OR x = 'la' OR x = 'de')) AS INTEGER) AS c_es
    FROM t)
    SELECT doc_id,
      CASE WHEN c_en >= GREATEST(c_de, c_es) AND c_en > 0 THEN 'en'
           WHEN c_de >= c_es AND c_de > 0 THEN 'de'
           WHEN c_es > 0 THEN 'es'
           ELSE 'und' END AS pred_lang,
      c_en, c_de, c_es
    FROM c ORDER BY doc_id"""

  // ---- document fingerprint (min-shingle-hash, a 1-perm MinHash) -----
  /** fp = the min md5 over 4-gram shingles — ONE native pass
    * (`min_md5`, functions/MinMd5.scala): the former
    * `array_min(transform(grams(4), md5))` ran the md5→hex chain
    * INTERPRETED per gram and materialized every 32-char hex string
    * only to discard all but the minimum. Bit-identical selection
    * (unsigned digest order IS hex order — MinMd5Spec pins it). */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    docs(s, dir).select(col("doc_id"),
        call_function("min_md5", toks, lit(4)).as("fp"))
      .orderBy("doc_id")
  }

  val textFingerprintSql: String = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
      list_min(list_transform(generate_series(1, len(w) - 3),
        i -> md5(array_to_string(w[i:i+3], ' ')))) AS fp
    FROM t ORDER BY doc_id"""

  // ---- canonicalized dedup key (native normalize_text expression) ----
  /** Dedup keys over canonicalized text. The corpus is pure ASCII so
    * the oracle reduces to lower(); the Unicode path (NFKD, accent
    * strip, ligatures) is covered by NormalizeTextSpec. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    docs(s, dir)
      .selectExpr("doc_id", "md5(normalize_text(text)) AS nh")
      .orderBy("doc_id")
  }

  val textNormalizeSql: String = """
    SELECT doc_id, md5(lower(text)) AS nh
    FROM documents ORDER BY doc_id"""

  // ---- duplication coverage (dedup diagnostics) -----------------------
  /** Per-document duplication coverage: the fraction of a document's
    * DISTINCT 3-gram shingles already seen in any earlier document
    * (first occurrence = min doc_id) — the diagnostic that tells a
    * pipeline how much of each document is recycled text BEFORE
    * committing to pair-level dedup, and the per-source aggregate of
    * it is the "how duplicated is this crawl" datasheet number.
    * Shapes: shingle explode → distinct → ONE hash aggregate for the
    * first-occurrence table → shuffle equi-join back (the shingle
    * vocabulary is unbounded at web scale — never broadcast) → one
    * per-doc aggregate. Shingles travel as 8-byte xxhash64 like the
    * rest of the dedup family (same collision argument). */
  def textDupCoverage(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    // per-doc-distinct native shingle pass — (doc_id, hs) rows are
    // distinct by construction, no global distinct shuffle
    val sh = docs(s, dir).select(col("doc_id"),
      explode(call_function("shingle_hashes", toks, lit(3))).as("hs"))
    val first = sh.groupBy("hs").agg(min("doc_id").as("first_doc"))
      .hint("shuffle_hash") // vocab is unbounded at web scale
    sh.join(first, Seq("hs"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen"))
      .select(col("doc_id"), col("n_ngrams"), col("n_seen"),
        round(col("n_seen") / col("n_ngrams"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  val textDupCoverageSql: String = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 2),
          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks)),
    fst AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT sh.doc_id, COUNT(*) AS n_ngrams,
      CAST(SUM(CASE WHEN fst.first_doc < sh.doc_id THEN 1 ELSE 0 END)
        AS BIGINT) AS n_seen,
      ROUND(CAST(SUM(CASE WHEN fst.first_doc < sh.doc_id THEN 1 ELSE 0 END)
        AS DOUBLE) / COUNT(*), 6) AS dup_frac
    FROM sh JOIN fst ON sh.s = fst.s
    GROUP BY sh.doc_id ORDER BY sh.doc_id"""

  /** Asymmetric shingle CONTAINMENT pairs: doc A is "contained" in doc
    * B when ≥ 80% of A's distinct 3-gram shingles appear in B — the
    * quote/partial-inclusion relation Jaccard-based near-dedup misses
    * by design (a paragraph quoted inside a 10× longer page has
    * J ≈ |A|/|B| ≈ 0.1 but containment ≈ 1). Candidates come from a
    * BOTTOM-16 min-hash sketch of the contained side (16 smallest
    * shingle hashes, a pure slice of the sorted per-doc array — no
    * extra shuffle) joined against the full shingle table: a pair at
    * containment ≥ 0.8 escapes only if all 16 sketch shingles fall in
    * the < 20% missing from B (≤ 0.2¹⁶ ≈ 7e-12 under hash order), and
    * the oracle is the EXACT all-pairs containment SQL, so the hash
    * gate certifies recall was in fact complete. Verification is
    * candidate-driven exact counting (the dedup_minhash shape); at web
    * scale a document-frequency cap on sketch shingles bounds the
    * candidate fan-out of boilerplate phrases. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.hot(
      docs(s, dir).select(col("doc_id"),
        call_function("shingle_hashes", toks, lit(3)).as("harr")))
    val sh = base.select(col("doc_id"), explode(col("harr")).as("hs"))
    // ≥ 2 sketch hits instead of ≥ 1: a true containment pair clears it
    // with P(Bin(16, 0.8) ≤ 1) ≈ 2e-10 while the long tail of
    // single-shared-shingle accidents (most of the candidate mass)
    // drops before verification
    // harr arrives sorted from the kernel — the 16-smallest sketch is
    // a plain prefix slice, no per-doc array_sort
    val cands = base.select(col("doc_id").as("da"),
        explode(slice(col("harr"), 1, 16)).as("hk"))
      .join(sh.as("sb"),
        col("hk") === col("sb.hs") && col("da") =!= col("sb.doc_id"))
      .groupBy(col("da"), col("sb.doc_id").as("db"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 2)
      .select("da", "db")
    // exact verification per candidate PAIR via the zero-allocation
    // sorted_common merge over the sorted hash arrays — O(|A|+|B|) per
    // pair with no row re-explosion (the exploded-join verify measured
    // 4× the CPU; array_intersect additionally built an OpenHashSet
    // per call)
    cands
      .join(base.select(col("doc_id").as("da"), col("harr").as("ha")),
        Seq("da"))
      .join(base.select(col("doc_id").as("db"), col("harr").as("hb")),
        Seq("db"))
      .select(col("da"), col("db"),
        (call_function("sorted_common", col("ha"), col("hb"))
          .cast("double") / size(col("ha"))).as("cont"))
      .filter(col("cont") >= 0.8)
      .orderBy("da", "db")
  }

  val dedupContainmentSql: String = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 2),
          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT da, db, CAST(c AS DOUBLE) / cnt_a.n AS cont
    FROM common JOIN cnt cnt_a ON common.da = cnt_a.doc_id
    WHERE CAST(c AS DOUBLE) / cnt_a.n >= 0.8
    ORDER BY da, db"""

  // ---- soft (frequency-proportional) dedup ----------------------------
  /** SOFT dedup: instead of keeping exactly one copy per duplicate
    * group (dedup_exact) every copy survives with probability 1/n for
    * a group of n — the UniMax/"soft dedup" policy that keeps the
    * corpus-level token distribution of a document independent of how
    * many times crawls re-fetched it, without deleting rare natural
    * repetition. The keep decision is a PURE function of the row:
    * md5-derived 60-bit uniform u(doc) kept iff u < 2⁶⁰ DIV n — all
    * INTEGER comparisons (no float boundary can flip cross-engine),
    * rerunnable on any cluster size. Shapes: one hash aggregate for
    * group sizes, one shuffle join back on the md5 key (group count is
    * unbounded — never broadcast), one per-source aggregate. n_uniq
    * (what dedup_exact would keep) rides along as the comparison
    * point.
    */
  def dedupSoft(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), md5(col("text")).as("k"))
    val grp = d.groupBy("k").agg(count(lit(1)).as("n"))
    d.join(grp.hint("shuffle_hash"), "k")
      .withColumn("h", conv(substring(md5(concat(lit("soft:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"))
      .withColumn("keep",
        col("h") < expr("CAST(1152921504606846976 AS BIGINT) DIV n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("k")).as("n_uniq"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_uniq"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 6).as("kept_rate"))
      .orderBy("source")
  }

  val dedupSoftSql: String = """
    WITH d AS (SELECT doc_id, source, md5(text) AS k FROM documents),
    g AS (SELECT k, COUNT(*) AS n FROM d GROUP BY 1),
    j AS (
      SELECT d.doc_id, d.source, d.k, g.n,
        CAST(('0x' || substr(md5('soft:' || CAST(doc_id AS VARCHAR)), 1, 15))
          ::UBIGINT AS BIGINT) AS h
      FROM d JOIN g USING (k))
    SELECT source, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_uniq,
           CAST(SUM(CASE WHEN h < 1152921504606846976 // n THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN h < 1152921504606846976 // n
                          THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS kept_rate
    FROM j GROUP BY source ORDER BY source"""

  // ---- fuzzy entity matching ------------------------------------------
  /** Edit-distance entity matching with blocking — the fuzzy-join class
    * (customer/product name reconciliation) next to the shingle-based
    * dedup family: candidate pairs from an EQUI-join on a cheap
    * blocking key (first token), verified by Levenshtein ≤ 3. The
    * aggregate-first rule does the heavy lifting: matching runs over
    * the DISTINCT-name dictionary with occurrence counts, never raw
    * rows — the dictionary is what's bounded-ish in a real catalog,
    * and the block join runs through `SkewJoin.saltedSelfPairs` (same
    * skew story as the LSH bands): real catalogs have hot blocks
    * ("samsung …", "the …") whose m² pair generation would otherwise
    * pin a single reducer — salting splits a block of m names over
    * ceil(m/32) shuffle keys. The pair id is the (name, n) STRUCT, so
    * counts ride along and struct ordering (names are DISTINCT, so
    * lexicographic-on-first-field) reproduces the a.name < b.name
    * row set exactly. Levenshtein is the classic unit-cost DP,
    * identical in both engines.
    */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.load(s, dir, "part")
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n"))
      .withColumn("blk", split(col("name"), " ").getItem(0))
      .select(col("blk"), struct(col("name"), col("n")).as("rec"))
    SkewJoin.saltedSelfPairs(names, Seq("blk"), "rec", target = 32)
      .select(col("_ida.name").as("name_a"), col("_idb.name").as("name_b"),
        col("_ida.n").as("n_a"), col("_idb.n").as("n_b"),
        levenshtein(col("_ida.name"), col("_idb.name")).cast("long").as("d"))
      .filter(col("d") <= 3)
      .orderBy("name_a", "name_b")
  }

  val fuzzyMatchSql: String = """
    WITH names AS (
      SELECT p_name AS name, COUNT(*) AS n,
             split_part(p_name, ' ', 1) AS blk
      FROM part GROUP BY 1)
    SELECT a.name AS name_a, b.name AS name_b, a.n AS n_a, b.n AS n_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS d
    FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    ORDER BY 1, 2"""

  // ---- MinHash as an ESTIMATOR (calibration audit) --------------------
  /** MinHash estimation audit: for every true near-dup pair (exact
    * Jaccard ≥ 0.3), the 32-permutation signature-agreement ESTIMATE
    * next to the exact value — the calibration table that justifies
    * trusting signature agreement at the 100 TB scale where exact
    * Jaccard is unaffordable (dedup_minhash uses the same estimator
    * family for LSH banding; this op measures its error). The
    * permutations are REHASHES through md5 per (perm, shingle-hash) —
    * unlike xxhash64 permutations, both engines replay the exact
    * min-hash VALUES, so even the estimates are hash-certified.
    * Small-scale exact mode (the dedup_ngram guard contract): the
    * truth side is an all-pairs shingle join.
    */
  def dedupMinhashEst(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val n = d.count()
    require(n <= NgramMaxDocs,
      s"dedup_minhash_est is the small-scale calibration audit ($n docs > " +
        s"cap $NgramMaxDocs); at scale trust dedup_minhash's LSH bands")
    graft.GraftFunctions.register(s)
    // native md5_shingles: same 60-bit md5-prefix values as the former
    // interpreted HOF chain, distinct within the doc in one pass
    val sh = Tables.hot(d.select(col("doc_id"),
      explode(call_function("md5_shingles", toks, lit(3))).as("h")))
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
      .join(cnt.withColumnRenamed("doc_id", "da").withColumnRenamed("nsh", "na"), "da")
      .join(cnt.withColumnRenamed("doc_id", "db").withColumnRenamed("nsh", "nb"), "db")
      .withColumn("jacc",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jacc") >= 0.3)
    // one md5_minhash native-expression pass per document (the SAME
    // "p{i}:{h}" md5 values the oracle recomputes — see Md5MinHash)
    // instead of a 32× row explode through a (doc, perm) aggregate;
    // agreement is then an array zip per pair, no per-perm join
    val sig = Tables.hot(Tables.fanout(sh).groupBy("doc_id")
      .agg(call_function("md5_minhash", collect_list(col("h")), lit(32))
        .as("sig")))
    broadcast(pairs.select("da", "db", "jacc"))
      .join(sig.select(col("doc_id").as("da"), col("sig").as("siga")), "da")
      .join(sig.select(col("doc_id").as("db"), col("sig").as("sigb")), "db")
      .withColumn("agree", expr(
        "size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v))")
        .cast("long"))
      .select(col("da"), col("db"), round(col("jacc"), 6).as("jacc"),
        round(col("agree").cast("double") / 32.0, 6).as("est_jacc"),
        round(col("agree").cast("double") / 32.0 - col("jacc"), 6).as("err"))
      .orderBy("da", "db")
  }

  val dedupMinhashEstSql: String = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id,
      CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT) AS h FROM (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 2),
          i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks)),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT da, db, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jacc
      FROM common
      JOIN cnt ca ON da = ca.doc_id
      JOIN cnt cb ON db = cb.doc_id
      WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.3),
    perms AS (SELECT unnest(generate_series(0, 31)) AS i),
    sig AS (
      SELECT doc_id, i,
        MIN(CAST(('0x' || substr(md5('p' || CAST(i AS VARCHAR) || ':'
          || CAST(h AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT)) AS m
      FROM sh CROSS JOIN perms GROUP BY 1, 2),
    ag AS (
      SELECT p.da, p.db, p.jacc,
             SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS agree
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.da
      JOIN sig sb ON sb.doc_id = p.db AND sb.i = sa.i
      GROUP BY 1, 2, 3)
    SELECT da, db, ROUND(jacc, 6) AS jacc,
           ROUND(agree / 32.0, 6) AS est_jacc,
           ROUND(agree / 32.0 - jacc, 6) AS err
    FROM ag ORDER BY da, db"""

  // ---- winnowing fingerprints (MOSS) ----------------------------------
  /** Winnowing document fingerprints (the MOSS algorithm, Schleimer et
    * al.): hash every token 3-gram, slide a w=4 window over the hash
    * sequence and select each window's MINIMUM — the selection rule
    * that GUARANTEES any shared run of ≥ k+w−1 tokens produces a
    * shared fingerprint, while keeping only ~2/(w+1) of the grams.
    * This is the position-robust fingerprint text_fingerprint's global
    * min-sketch can't provide (local plagiarism/quotation detection vs
    * whole-doc similarity). Because the SELECTED set depends on hash
    * ORDER, grams hash through the md5-derived 60-bit value both
    * engines compute bit-identically (dedup_simhash idiom) — xxhash64
    * would not be replayable in the oracle. Shapes: fanout → one
    * per-row HOF chain (no shuffle) → hot → one aggregate per source +
    * one shuffle join on the fingerprint key for the cross-doc shared
    * fraction (text_dup_coverage rule: fingerprint vocab never
    * broadcasts).
    */
  /** The winnowing core: (doc_id, source, text) → per-doc fingerprint
    * set. Separated so the k+w−1 match guarantee is spec-testable on
    * constructed documents. */
  private[graft] def winnowFp(docsDf: DataFrame): DataFrame =
    // winnow_fp: the whole per-doc HOF chain (one interpreted
    // md5→hex→conv lambda per gram + one slice-allocating array_min
    // lambda per window) as ONE compiled kernel — gram hashes
    // bit-identical to the conv(substring(md5(...))) chain, selection
    // identical (WinnowFp Scaladoc; the k+w−1 guarantee stays
    // spec-tested through this same entry point)
    docsDf
      .select(col("doc_id"), col("source"),
        call_function("winnow_fp",
          split(col("text"), " "), lit(3), lit(4)).as("wf"))
      .select(col("doc_id"), col("source"),
        col("wf.n_grams").as("n_grams"), col("wf.fp").as("fp"))

  def textWinnow(s: SparkSession, dir: String): DataFrame = {
    val fps = Tables.hot(winnowFp(
      Tables.fanout(Tables.load(s, dir, "documents"))))
    val base = fps.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("n_grams"),
        sum(size(col("fp"))).as("n_fp"))
    val ex = fps.select(col("doc_id"), col("source"),
      explode(col("fp")).as("h"))
    val cnt = ex.groupBy("h").agg(count(lit(1)).as("c"))
    val shared = ex.join(cnt.hint("shuffle_hash"), "h")
      .filter(col("c") >= 2)
      .groupBy("source").agg(count(lit(1)).as("n_shared"))
    base.join(shared, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_grams"), col("n_fp"),
        round(col("n_fp").cast("double") / col("n_grams"), 6)
          .as("fp_density"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_fp"), 6).as("shared_frac"))
      .orderBy("source")
  }

  val textWinnowSql: String = """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    gr AS (
      SELECT doc_id, source,
        list_transform(generate_series(1, greatest(len(t) - 2, 0)),
          i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+2], ' ')),
            1, 15))::UBIGINT AS BIGINT)) AS g
      FROM toks),
    fps AS (
      SELECT doc_id, source, len(g) AS n_grams,
        CASE WHEN len(g) >= 4
          THEN list_distinct(list_transform(generate_series(1, len(g) - 3),
                 j -> list_min(g[j:j+3])))
          ELSE [] END AS fp
      FROM gr),
    base AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_grams) AS BIGINT) AS n_grams,
             CAST(SUM(len(fp)) AS BIGINT) AS n_fp
      FROM fps GROUP BY 1),
    ex AS (SELECT doc_id, source, unnest(fp) AS h FROM fps),
    cnt AS (SELECT h, COUNT(*) AS c FROM ex GROUP BY 1),
    shared AS (
      SELECT source, COUNT(*) AS n_shared
      FROM ex JOIN cnt USING (h) WHERE c >= 2 GROUP BY 1)
    SELECT b.source, b.n_docs, b.n_grams, b.n_fp,
           ROUND(CAST(b.n_fp AS DOUBLE) / b.n_grams, 6) AS fp_density,
           ROUND(CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / b.n_fp, 6)
             AS shared_frac
    FROM base b LEFT JOIN shared s ON s.source = b.source
    ORDER BY b.source"""

  /** Bloom-filter pre-screen for exact dedup of an increment against
    * the existing corpus, with measured false-positive accounting —
    * the O(m)-memory membership shape that makes exact dedup cheap at
    * 100 TB: the existing corpus compresses to an m-bit filter (here
    * the DISTINCT set bit positions — ≤ m rows however large the
    * corpus, a broadcast), each incoming doc probes k=3 md5-derived
    * positions map-side, and only the FLAGGED minority ever needs the
    * authoritative hash join. The audit columns (n_dup via the exact
    * h-set, n_fp = flagged − dup) exist to MEASURE the filter at this
    * m — in production the exact join runs only over flagged docs.
    * False negatives are structurally impossible (a true duplicate
    * probes exactly the bits its base twin set): n_flagged ≥ n_dup,
    * spec-pinned. Bit positions are md5-derived (oracle-replayable,
    * engine-independent) — the q_bloom_join recipe at the corpus
    * membership grain. */
  def dedupBloom(s: SparkSession, dir: String, m: Int = 8192): DataFrame = {
    // md5-derived increment split (NOT doc_id % 4: ids correlate with
    // source in the synthetic tables, which would silently drop 3/4 of
    // the sources from the report)
    val isNew = expr("""CAST(conv(substring(md5(concat('bsplit:',
      CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 4""") === 0
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      md5(col("text")).as("h"))
    def posOf(j: Int) = expr(s"""CAST(conv(substring(md5(concat('bloom$j:',
      h)), 1, 8), 16, 10) AS BIGINT) % $m""")
    val posArr = array((1 to 3).map(posOf): _*)
    val baseBits = d.filter(!isNew).select(explode(posArr).as("bit"))
      .distinct().withColumn("hit", lit(1L))
    val baseH = d.filter(!isNew).select(col("h")).distinct()
      .withColumn("isdup", lit(1L))
    val probed = d.filter(isNew)
      .select(col("doc_id"), col("source"), col("h"),
        explode(posArr).as("bit"))
      .join(broadcast(baseBits), Seq("bit"), "left")
      .groupBy("doc_id", "source", "h")
      .agg(min(coalesce(col("hit"), lit(0L))).as("allhit"))
    probed.join(baseH, Seq("h"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_inc"),
        sum(col("allhit")).as("n_flagged"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup"),
        sum(when(col("allhit") === 1L && col("isdup").isNull, 1L)
          .otherwise(0L)).as("n_fp"))
      .orderBy("source")
  }

  val dedupBloomSql: String = """
    WITH d AS (
      SELECT doc_id, source, md5(text) AS h,
        CAST(('0x' || substring(md5('bsplit:' || CAST(doc_id AS VARCHAR)),
          1, 8)) AS UBIGINT) % 4 AS sp
      FROM documents),
    base AS (SELECT * FROM d WHERE sp != 0),
    inc AS (SELECT * FROM d WHERE sp = 0),
    bbits AS (
      SELECT DISTINCT
        CAST(('0x' || substring(md5('bloom' || j || ':' || h), 1, 8))
          AS UBIGINT) % 8192 AS bit
      FROM base, generate_series(1, 3) AS g(j)),
    probe AS (
      SELECT doc_id, source, h,
        CAST(('0x' || substring(md5('bloom' || j || ':' || h), 1, 8))
          AS UBIGINT) % 8192 AS bit
      FROM inc, generate_series(1, 3) AS g(j)),
    flags AS (
      SELECT doc_id, source, h,
        MIN(CASE WHEN bit IN (SELECT bit FROM bbits) THEN 1 ELSE 0 END)
          AS allhit
      FROM probe GROUP BY doc_id, source, h)
    SELECT source, COUNT(*) AS n_inc,
      CAST(SUM(allhit) AS BIGINT) AS n_flagged,
      CAST(SUM(CASE WHEN h IN (SELECT h FROM base) THEN 1 ELSE 0 END)
        AS BIGINT) AS n_dup,
      CAST(SUM(CASE WHEN allhit = 1
               AND h NOT IN (SELECT h FROM base) THEN 1 ELSE 0 END)
        AS BIGINT) AS n_fp
    FROM flags GROUP BY source ORDER BY source"""

  def all: Seq[QueryDef] = Seq(
    QueryDef("dedup_bloom", (s, d) => dedupBloom(s, d), Some(dedupBloomSql)),
    QueryDef("text_normalize", textNormalize, Some(textNormalizeSql)),
    QueryDef("dedup_soft", dedupSoft, Some(dedupSoftSql)),
    QueryDef("text_winnow", textWinnow, Some(textWinnowSql)),
    QueryDef("dedup_minhash_est", dedupMinhashEst, Some(dedupMinhashEstSql)),
    QueryDef("q_fuzzy_match", fuzzyMatch, Some(fuzzyMatchSql)),
    QueryDef("dedup_containment", dedupContainment, Some(dedupContainmentSql)),
    QueryDef("dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql)),
    QueryDef("dedup_ngram", dedupNgram, Some(dedupNgramSql)),
    QueryDef("dedup_minhash", dedupMinhash, Some(dedupNgramSql)),
    QueryDef("dedup_incremental", dedupIncremental,
      Some(dedupIncrementalSql)),
    QueryDef("dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    QueryDef("text_tokens", textTokens, Some(textTokensSql)),
    QueryDef("text_quality", textQuality, Some(textQualitySql)),
    QueryDef("text_langid", textLangid, Some(textLangidSql)),
    QueryDef("text_fingerprint", textFingerprint, Some(textFingerprintSql)),
    QueryDef("text_dup_coverage", textDupCoverage, Some(textDupCoverageSql)))
}
