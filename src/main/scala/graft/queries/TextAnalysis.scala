package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables

/** Text-analysis operators for a training-data pipeline (builder brief):
  * language ID (marker-word heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting (rolling
  * hash) — all as codegen'd expression trees over the `documents` table,
  * each with an exact DuckDB oracle.
  *
  * Scale: every query is scan → project/aggregate with no joins; the
  * per-lang stats aggregate partial+final. At 100 TB these are pure
  * map-side pipelines.
  */
object TextAnalysis {

  private def wordCount(c: Column): Column =
    size(split(trim(c), "\\s+")).cast(LongType)

  /** Per-language corpus statistics. */
  def qTextStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).cast(LongType).as("sum_len"),
        sum(wordCount(col("text"))).as("sum_words"),
        round(sum(length(col("text"))).cast(DoubleType) / count(lit(1)), 4)
          .as("avg_len"))
      .orderBy("lang")

  private val qTextStatsOracle =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_words,
      |  round(CAST(SUM(length(text)) AS DOUBLE) / COUNT(*), 4) AS avg_len
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Marker-word language scoring with deterministic argmax tiebreak.
    * (An n-gram character model is the production upgrade; marker words
    * keep the oracle exactly mirrorable.) */
  def qTextLangid(s: SparkSession, dir: String): DataFrame = {
    def score(pat: String): Column =
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast(LongType)
    val sEn = score("\\b(the|of|and|a|to)\\b")
    val sQu = score("\\b(query|table|scan|join)\\b")
    val sDa = score("\\b(data|row|column|value)\\b")
    val pred = when(sEn >= sQu && sEn >= sDa, lit("en_like"))
      .when(sQu >= sDa, lit("query_like"))
      .otherwise(lit("data_like"))
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      sEn.as("s_en"), sQu.as("s_query"), sDa.as("s_data"), pred.as("pred"))
      .orderBy("doc_id")
  }

  private val qTextLangidOracle = {
    def sc(p: String) = s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT)"
    val sEn = sc("\\b(the|of|and|a|to)\\b")
    val sQu = sc("\\b(query|table|scan|join)\\b")
    val sDa = sc("\\b(data|row|column|value)\\b")
    s"""SELECT doc_id, lang, $sEn AS s_en, $sQu AS s_query, $sDa AS s_data,
       |  (CASE WHEN $sEn >= $sQu AND $sEn >= $sDa THEN 'en_like'
       |    WHEN $sQu >= $sDa THEN 'query_like' ELSE 'data_like' END) AS pred
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Character-trigram language ID — the production upgrade of
    * q_text_langid's marker words, still oracle-exact: per-language
    * trigram PROFILES are trained on the labeled corpus (top-30
    * trigrams by count, ties on the trigram itself), then every doc is
    * scored by how many of its trigram tokens hit each profile and
    * classified by deterministic argmax (hits desc, lang asc). Integer
    * counts end-to-end — no floats anywhere.
    *
    * Scale: the trigram relation is ~n_chars rows but reduces through
    * two combine-friendly aggregations with BOUNDED key spaces
    * (|langs|·26³ for profiles, |docs|·|langs| for scores); profiles
    * broadcast (30·|langs| rows) so the scoring pass is map-side until
    * the per-doc count. No pairwise work, no driver loops. */
  def qLangidTrigram(s: SparkSession, dir: String, k: Int = 30): DataFrame = {
    val docs = Tables.documents(s, dir)
    // trigram explosion via the fused codegen kernel: the equivalent
    // transform(sequence(...), i -> substring(t, i, 3)) HOF chain runs
    // the lambda interpreted AND pays O(position) per UTF8String
    // substring — quadratic per doc (CharNgrams is the linear pass;
    // CharNgramsSpec pins output equality against the HOF form)
    val tri = docs
      .select(col("doc_id"), col("lang"),
        regexp_replace(lower(col("text")), "[^a-z]+", " ").as("t"))
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.CharNgrams.grams(col("t"), 3)).as("tri"))
    // ONE (doc, lang, trigram) count aggregation feeds BOTH the profile
    // build and the scoring probe. The branches prune different columns
    // (canonicalized subplans differ), so exchange reuse does not fire
    // and the corpus is read twice — measured NEUTRAL vs caching the
    // compact count table at both sf0.1 and 10x, and caching inside a
    // library query risks stale reads, so the two passes stay: that is
    // also exactly how a train-then-classify pipeline runs at 100 TB
    // (profile pass persists its model, probe pass re-reads the corpus).
    val triCounts = tri.groupBy(col("doc_id"), col("lang"), col("tri"))
      .agg(count(lit(1)).as("c"))
    val profile = triCounts.groupBy(col("lang"), col("tri"))
      .agg(sum(col("c")).as("c"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("tri").asc)))
      .filter(col("rk") <= k)
      .select(col("lang").as("p_lang"), col("tri"))
    // explicit broadcast: the profile is ≤ k·|langs| rows but sits
    // behind a window+filter, so the optimizer's size estimate is the
    // corpus-sized child and it planned a full shuffle of the trigram
    // counts at 10× (round-13 A/B: 15.1 s → 8.1 s with the hint; the
    // probe join was 81% of the entry's cost)
    val hits = triCounts.join(broadcast(profile), "tri")
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(sum(col("c")).cast(LongType).as("hits"))
    val pred = hits
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("hits").desc, col("p_lang").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("p_lang").as("pred_lang"), col("hits"))
    docs.select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy("doc_id")
  }

  private val qLangidTrigramOracle =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    regexp_replace(lower(text), '[^a-z]+', ' ', 'g') AS t
      |  FROM documents),
      |tri0 AS (
      |  SELECT doc_id, lang, t,
      |    unnest(generate_series(1, length(t) - 2)) AS i
      |  FROM d WHERE length(t) >= 3),
      |tri AS (
      |  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 3) AS tri
      |  FROM tri0),
      |prof AS (
      |  SELECT lang AS p_lang, tri FROM (
      |    SELECT lang, tri, COUNT(*) AS c,
      |      row_number() OVER (PARTITION BY lang
      |        ORDER BY COUNT(*) DESC, tri ASC) AS rk
      |    FROM tri GROUP BY lang, tri) x
      |  WHERE rk <= 30),
      |hits AS (
      |  SELECT t.doc_id, p.p_lang, COUNT(*) AS hits
      |  FROM tri t JOIN prof p USING (tri)
      |  GROUP BY t.doc_id, p.p_lang),
      |pred AS (
      |  SELECT doc_id, p_lang, hits FROM (
      |    SELECT doc_id, p_lang, hits,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY hits DESC, p_lang ASC) AS rn
      |    FROM hits) y WHERE rn = 1)
      |SELECT d2.doc_id, d2.lang,
      |  COALESCE(p.p_lang, 'unknown') AS pred_lang,
      |  CAST(COALESCE(p.hits, 0) AS BIGINT) AS hits
      |FROM documents d2 LEFT JOIN pred p USING (doc_id)
      |ORDER BY d2.doc_id""".stripMargin

  /** Overlapping document chunking — the RAG/embedding ingestion
    * primitive (fixed window of 64 words, stride 48, so consecutive
    * chunks share 16 words of context). Chunk COUNT comes from exact
    * integer arithmetic ((n-64+47) div 48 + 1), chunk identity is the
    * MD5 of the joined words (portable across systems, the same
    * content-address idea as q_hash_funcs) — so both engines agree
    * bit-for-bit without shipping the chunk text itself.
    *
    * Scale: pure map-side explode — each doc expands to ~n_words/48
    * rows with no shuffle until the final sort; at 100 TB this is the
    * embarrassingly parallel stage before embedding. */
  def qTextChunks(s: SparkSession, dir: String,
                  size: Int = 64, stride: Int = 48): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .withColumn("nw", org.apache.spark.sql.functions.size(col("w")).cast(LongType))
      .withColumn("nc",
        when(col("nw") <= size, lit(1L))
          // `div`, not `/`: Spark's `/` is double division on longs
          .otherwise(expr(s"((nw - $size + ${stride - 1}) div $stride) + 1")))
    docs
      .select(col("doc_id"), col("nw"), col("w"),
        posexplode(expr(s"sequence(0, nc - 1)")).as(Seq("chunk_idx", "ci")))
      .withColumn("start_word", col("ci") * stride)
      .withColumn("chunk",
        slice(col("w"), (col("start_word") + 1).cast("int"), lit(size)))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("start_word").cast(LongType).as("start_word"),
        org.apache.spark.sql.functions.size(col("chunk")).cast(LongType)
          .as("chunk_words"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val qTextChunksOracle =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, w, len(w) AS nw,
      |    CASE WHEN len(w) <= 64 THEN 1
      |      ELSE (len(w) - 64 + 47) // 48 + 1 END AS nc
      |  FROM d),
      |c AS (
      |  SELECT doc_id, nw, w,
      |    unnest(generate_series(0, nc - 1)) AS ci
      |  FROM n)
      |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
      |  CAST(ci * 48 AS BIGINT) AS start_word,
      |  CAST(len(list_slice(w, ci * 48 + 1, ci * 48 + 64)) AS BIGINT)
      |    AS chunk_words,
      |  md5(array_to_string(list_slice(w, ci * 48 + 1, ci * 48 + 64), ' '))
      |    AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Quality scoring: length/punctuation/stopword ratios + a composite
    * score; all integer-derived double arithmetic (deterministic). */
  def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast(LongType)
    val words = wordCount(col("text"))
    val punct = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))).cast(LongType)
    val stops = size(regexp_extract_all(col("text"), lit("\\b(the|a|of|and)\\b"), lit(0))).cast(LongType)
    val punctRatio = round(punct.cast(DoubleType) / len, 6)
    val stopRatio = round(stops.cast(DoubleType) / words, 6)
    val avgWordLen = round(len.cast(DoubleType) / words, 4)
    val score = round(least(lit(1.0), words.cast(DoubleType) / 50.0) *
      (lit(1.0) - punctRatio), 6)
    Tables.documents(s, dir).select(
      col("doc_id"), len.as("n_len"), words.as("n_words"),
      punct.as("n_punct"), stops.as("n_stop"),
      punctRatio.as("punct_ratio"), stopRatio.as("stop_ratio"),
      avgWordLen.as("avg_word_len"), score.as("quality"))
      .orderBy("doc_id")
  }

  private val qTextQualityOracle = {
    val len = "CAST(length(text) AS BIGINT)"
    val words = "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)"
    val punct = "CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)"
    val stops = "CAST(len(regexp_extract_all(text, '\\b(the|a|of|and)\\b')) AS BIGINT)"
    val punctRatio = s"round(CAST($punct AS DOUBLE) / $len, 6)"
    s"""SELECT doc_id, $len AS n_len, $words AS n_words,
       |  $punct AS n_punct, $stops AS n_stop,
       |  $punctRatio AS punct_ratio,
       |  round(CAST($stops AS DOUBLE) / $words, 6) AS stop_ratio,
       |  round(CAST($len AS DOUBLE) / $words, 4) AS avg_word_len,
       |  round(least(1.0, CAST($words AS DOUBLE) / 50.0) * (1.0 - $punctRatio), 6) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Token counting: whitespace tokens vs a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation). */
  def qTextTokens(s: SparkSession, dir: String): DataFrame = {
    val ws = wordCount(col("text"))
    val bpe = size(regexp_extract_all(col("text"),
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast(LongType)
    Tables.documents(s, dir).select(
      col("doc_id"), length(col("text")).cast(LongType).as("n_chars_obs"),
      ws.as("ws_tokens"), bpe.as("bpe_tokens"),
      round(length(col("text")).cast(DoubleType) / bpe, 4).as("chars_per_token"))
      .orderBy("doc_id")
  }

  private val qTextTokensOracle = {
    val bpe = "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)"
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_obs,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
       |  $bpe AS bpe_tokens,
       |  round(CAST(length(text) AS DOUBLE) / $bpe, 4) AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Rolling polynomial hash fingerprint, char-by-char mod 1e9+7.
    * Spark folds with seed 0 ((0*31+c)%M = c), DuckDB's seedless
    * list_reduce starts at c — identical sequences, exact BIGINT math.
    */
  def qTextFingerprint(s: SparkSession, dir: String): DataFrame = {
    // round-20 optimization: the per-character interpreted HOF chain
    // (split-to-singletons → ascii per element → interpreted fold) runs
    // as the native PolyFingerprint codegen loop — same codepoint
    // sequence, same exact modular arithmetic (scaladoc there;
    // PolyFingerprintSpec pins bit-equality against the HOF witness,
    // KernelWitnesses.textFingerprintHof)
    val fp = graft.functions.PolyFingerprint.fingerprint(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"), fp.as("fingerprint"),
      substring(col("text"), 1, 16).as("prefix"))
      .orderBy("doc_id")
  }

  private val qTextFingerprintOracle =
    """SELECT doc_id,
      |  list_reduce(list_transform(string_split(text, ''), ch -> CAST(unicode(ch) AS BIGINT)),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint,
      |  substring(text, 1, 16) AS prefix
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The composite curation pipeline a training-data user actually
    * runs: exact-dedup (keep lowest doc_id per text) → per-doc quality
    * + language signals → threshold filter → typed projection of the
    * kept corpus. One window shuffle + map-side scoring; every stage is
    * the already-verified building block, composed. */
  /** Quality score of a text column (shared by the batch and streaming
    * curation forms). */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast(LongType)
    val words = wordCount(text)
    val punct = size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0))).cast(LongType)
    val punctRatio = round(punct.cast(DoubleType) / len, 6)
    round(least(lit(1.0), words.cast(DoubleType) / 50.0) *
      (lit(1.0) - punctRatio), 6)
  }

  /** n-gram-heuristic language label (shared batch/streaming). */
  def langPred(text: Column): Column = {
    def score(pat: String): Column =
      size(regexp_extract_all(text, lit(pat), lit(0))).cast(LongType)
    val sEn = score("\\b(the|of|and|a|to)\\b")
    val sQu = score("\\b(query|table|scan|join)\\b")
    val sDa = score("\\b(data|row|column|value)\\b")
    when(sEn >= sQu && sEn >= sDa, lit("en_like"))
      .when(sQu >= sDa, lit("query_like"))
      .otherwise(lit("data_like"))
  }

  def qQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // exact-dedup: keep lowest doc_id per text
      .select(col("doc_id"), col("lang"), wordCount(col("text")).as("n_words"),
        qualityScore(col("text")).as("quality"), langPred(col("text")).as("pred"))
      .filter(col("n_words") >= 30 && col("quality") >= 0.75)
      .orderBy("doc_id")
  }

  private val qQualityFilterOracle = {
    val len = "CAST(length(text) AS BIGINT)"
    val words = "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)"
    val punct = "CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)"
    val punctRatio = s"round(CAST($punct AS DOUBLE) / $len, 6)"
    val quality = s"round(least(1.0, CAST($words AS DOUBLE) / 50.0) * (1.0 - $punctRatio), 6)"
    def sc(p: String) = s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT)"
    val (sEn, sQu, sDa) = (sc("\\b(the|of|and|a|to)\\b"),
      sc("\\b(query|table|scan|join)\\b"), sc("\\b(data|row|column|value)\\b"))
    s"""WITH kept AS (
       |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM documents)
       |SELECT doc_id, lang, $words AS n_words, $quality AS quality,
       |  (CASE WHEN $sEn >= $sQu AND $sEn >= $sDa THEN 'en_like'
       |    WHEN $sQu >= $sDa THEN 'query_like' ELSE 'data_like' END) AS pred
       |FROM kept WHERE rn = 1 AND $words >= 30 AND $quality >= 0.75
       |ORDER BY doc_id""".stripMargin
  }

  /** Canonical text normalization — the cleanup stage ahead of dedup
    * and tokenization: lowercase, strip non-alphanumerics to spaces,
    * collapse runs, trim. Pure map-side regex pipeline (both engines
    * run the identical RE2∩Java patterns); before/after lengths and a
    * prefix make the transform oracle-verifiable without shipping the
    * whole normalized corpus through the hash. */
  def qTextNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast(LongType).as("n_before"),
      length(norm).cast(LongType).as("n_after"),
      substring(norm, 1, 40).as("prefix40"))
      .orderBy("doc_id")
  }

  private val qTextNormalizeOracle = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_before,
       |  CAST(length($norm) AS BIGINT) AS n_after,
       |  substring($norm, 1, 40) AS prefix40
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF keyword extraction: top-k terms per document scored by
    * `tf * N / df` (the rank-equivalent rational IDF — `ln` is avoided
    * deliberately: transcendental libm results are not bit-identical
    * across engines, while integer multiply + one IEEE double division
    * are). Ties break on the term itself, so top-k is total-ordered.
    *
    * Scale: tf is a (doc,term) aggregation with map-side combine; df
    * reduces the tf relation again on term only; N arrives as a
    * broadcast 1-row aggregate (the scalar-subquery shape). The only
    * per-doc sort is the top-k window over each doc's distinct terms —
    * bounded by vocabulary per doc, not corpus size. */
  def qTfidf(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // tf rows are unique per (doc, term), so counting them per term = df
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        round((col("tf") * col("n_docs")).cast(DoubleType) / col("df"), 6))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rk")
  }

  private val qTfidfOracle =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |s AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 6) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 6) DESC,
      |        tf.term ASC) AS rk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
      |FROM s WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Lexical diversity via the Gini–Simpson index: 1 − Σ(c_i/N)² over
    * the doc's word counts — the entropy-family quality signal that
    * needs NO logarithm, so it stays cross-engine bit-exact (integer
    * sums, then two IEEE divisions). Low diversity flags keyword-stuffed
    * or template documents; the repetition twin (q_doc_repetition)
    * reports the max-share form. One (doc, word) aggregation with
    * map-side combine, then one per-doc reduce. */
  def qTextDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_words"),
        sum(col("c") * col("c")).cast(LongType).as("sum_sq"))
      .select(col("doc_id"), col("n_words"),
        round(lit(1.0) - col("sum_sq").cast(DoubleType) /
          (col("n_words") * col("n_words")).cast(DoubleType), 6)
          .as("gini_simpson"))
      .orderBy("doc_id")

  private val qTextDiversityOracle =
    """WITH c AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      |g AS (SELECT doc_id, w, COUNT(*) AS c FROM c GROUP BY doc_id, w),
      |a AS (
      |  SELECT doc_id, SUM(c) AS n_words, SUM(c * c) AS sum_sq
      |  FROM g GROUP BY doc_id)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  round(1.0 - CAST(sum_sq AS DOUBLE) /
      |    CAST(n_words * n_words AS DOUBLE), 6) AS gini_simpson
      |FROM a ORDER BY doc_id""".stripMargin

  /** Inverted index (posting lists): per term, the document frequency,
    * total term frequency, and the first 8 documents (sorted ids,
    * comma-joined) — the IR structure behind corpus search and
    * contamination lookups. Two combine-friendly aggregations: (term,
    * doc) pairs dedup in the first shuffle, per-term stats + the
    * bounded posting sample in the second. The posting string is capped
    * at 8 ids, so agg state stays O(1) per term — the full posting list
    * at 100 TB would instead stay exploded as (term → doc) rows,
    * bucketed by term for point lookup. */
  def qTextPostings(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
    val perDoc = tok.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf_doc"))
    perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf_doc")).cast(LongType).as("tf_total"),
        concat_ws(",",
          transform(slice(sort_array(collect_list(col("doc_id"))), 1, 8),
            d => d.cast("string"))).as("postings8"))
      .orderBy("term")
  }

  private val qTextPostingsOracle =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |pd AS (
      |  SELECT term, doc_id, COUNT(*) AS tf_doc
      |  FROM tok GROUP BY term, doc_id)
      |SELECT term, COUNT(*) AS df,
      |  CAST(SUM(tf_doc) AS BIGINT) AS tf_total,
      |  array_to_string(
      |    list_slice(list(doc_id ORDER BY doc_id), 1, 8), ',') AS postings8
      |FROM pd GROUP BY term ORDER BY term""".stripMargin

  /** Corpus n-gram frequency table, the language-model counting job:
    * every word bigram in every document, counted by occurrence AND by
    * document frequency, top-k by count. The tokenizer is the same
    * codegen `WordNgrams` kernel the dedup family uses (one linear pass
    * per row, no HOF chain), so the gram universe is identical across
    * the dedup/minhash/count surfaces.
    *
    * Scale: explode → groupBy is the canonical partial+final count
    * (map-side combine collapses each partition's repeats before the
    * shuffle; the shuffle carries one row per distinct gram per
    * partition); the top-k is TakeOrderedAndProject (per-partition
    * bounded heap, never a global sort). The doc-frequency column adds
    * one Expand pass, same plan family as q_agg_multi_distinct. At
    * 100 TB this runs exactly as written — n-gram counting is the
    * textbook map-reduce job and this IS its Spark plan. */
  def qNgramCounts(s: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.WordNgrams.grams(col("text"), 2)).as("gram"))
      .groupBy(col("gram"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(k)

  private val qNgramCountsOracle =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, len(string_split_regex(trim(text), '\s+'))),
      |    i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
      |         string_split_regex(trim(text), '\s+')[i+1])) AS gram
      |  FROM documents)
      |SELECT gram, COUNT(*) AS n_occurrences,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM g GROUP BY gram
      |ORDER BY n_occurrences DESC, gram LIMIT 100""".stripMargin

  /** Collocation extraction by bigram LIFT — the log-free PMI analogue
    * (`lift = p(xy)/(p(x)p(y))`, PMI = ln lift; monotone, so the
    * ranking is PMI's ranking without transcendental-libm drift): the
    * phrase-mining signal that seeds tokenizer vocabularies and
    * multi-word-expression lists. Bigram and unigram counts are two
    * combine-friendly aggregations over the fused codegen n-gram
    * kernel; the totals arrive as broadcast 1-row aggregates; the one
    * float expression is written with identical association in both
    * engines, evaluated once per surviving bigram. The min-count filter
    * (c2 ≥ 5) is the standard collocation noise gate — it also bounds
    * the scored set long before the top-k sort.
    *
    * Scale: everything is map-side counts + two vocab-sized joins
    * (bigram→left-word, bigram→right-word); no per-doc state, no
    * windows. At 100 TB the joins shuffle vocab-sized relations only. */
  def qTextCollocations(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(explode(split(trim(col("text")), "\\s+")).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c1"))
    val nTot = toks.agg(count(lit(1)).as("n_tok"))
    val bg = docs.select(
      explode(graft.functions.WordNgrams.grams(col("text"), 2)).as("bigram"))
    val mTot = bg.agg(count(lit(1)).as("m_tok"))
    val bgc = bg.groupBy("bigram").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= 5)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
    bgc
      .join(uni.select(col("w").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1b")), "w2")
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(mTot))
      .select(col("bigram"), col("c2").cast(LongType).as("c2"),
        col("c1a").cast(LongType).as("c1a"), col("c1b").cast(LongType).as("c1b"),
        round((col("c2").cast(DoubleType) * col("n_tok").cast(DoubleType) *
          col("n_tok").cast(DoubleType)) /
          (col("m_tok").cast(DoubleType) * col("c1a").cast(DoubleType) *
            col("c1b").cast(DoubleType)), 6).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(k)
  }

  private val qTextCollocationsOracle =
    """WITH tok AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      |uni AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY w),
      |n AS (SELECT COUNT(*) AS n_tok FROM tok),
      |bg AS (
      |  SELECT unnest(list_transform(
      |    range(1, len(string_split_regex(trim(text), '\s+'))),
      |    i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
      |         string_split_regex(trim(text), '\s+')[i+1])) AS bigram
      |  FROM documents),
      |m AS (SELECT COUNT(*) AS m_tok FROM bg),
      |bgc AS (
      |  SELECT bigram, COUNT(*) AS c2,
      |    string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2
      |  FROM bg GROUP BY bigram HAVING COUNT(*) >= 5)
      |SELECT bgc.bigram, CAST(bgc.c2 AS BIGINT) AS c2,
      |  CAST(a.c1 AS BIGINT) AS c1a, CAST(b.c1 AS BIGINT) AS c1b,
      |  round((CAST(bgc.c2 AS DOUBLE) * CAST(n.n_tok AS DOUBLE) *
      |    CAST(n.n_tok AS DOUBLE)) /
      |    (CAST(m.m_tok AS DOUBLE) * CAST(a.c1 AS DOUBLE) *
      |      CAST(b.c1 AS DOUBLE)), 6) AS lift
      |FROM bgc JOIN uni a ON bgc.w1 = a.w JOIN uni b ON bgc.w2 = b.w
      |CROSS JOIN n CROSS JOIN m
      |ORDER BY lift DESC, bigram LIMIT 50""".stripMargin

  /** Heavy hitters with BOUNDED memory: per-partition Misra-Gries
    * summaries (≤ m counters, the decrement-all step on overflow) name
    * the candidate grams, then one exact rescan counts ONLY the
    * candidates (broadcast semi-join — the same candidate+verify shape
    * as the minhash family). The Misra-Gries guarantee makes the
    * output provably EXACT, not heuristic: any gram with global count
    * > N/m survives in at least one partition's summary (a gram missed
    * everywhere was decremented away against ≤ Nₚ/m distinct batches
    * per partition, ≤ N/m total), so whenever the true k-th count
    * exceeds N/m the candidate set contains the whole top-k and the
    * rescan returns the exact answer. That precondition is ENFORCED at
    * runtime: the plan carries an `assert_true(kth·m > N)` guard (kth
    * and N are already computed — min of the top-k, sum of stage-1
    * sentinel counts), so leaving the regime fails the job loudly
    * instead of returning a partition-dependent set.
    * HeavyHittersSpec pins the ε-regime property on a skewed fixture
    * with m far below the vocabulary, and pins the guard tripping when
    * m is too small for the corpus.
    *
    * Scale: this is THE bounded-memory answer to "top-k over 100 TB
    * where the exact groupBy state would blow the executors" — stage 1
    * is embarrassingly parallel with O(m) state per task and emits ≤ m
    * rows per partition (mapPartitions is justified: a decrementing
    * counter summary has no Catalyst equivalent); stage 2's shuffle
    * carries only candidate grams. Two scans, O(m·partitions) shuffle
    * bytes, never a wide aggregation over the full gram universe. */
  /** The two Misra-Gries stages, LIVE (no caching): returns the 1-row
    * total-gram-count frame and the top-k aggregation. Package-visible
    * so HeavyHittersSpec can assert the candidate semi-join broadcast
    * on the live plan — qHeavyHitters checkpoints the top-k, which
    * hides the stage-2 operators behind a Scan ExistingRDD. */
  private[graft] def heavyHitterParts(s: SparkSession, dir: String,
                                      k: Int, m: Int)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .select(explode(graft.functions.WordNgrams.grams(col("text"), 2))
        .as("gram"))
    // Stage 1: per-partition Misra-Gries summaries. Each partition also
    // emits ONE sentinel row (gram=null, n_part=count) so the global N
    // the exactness guard needs rides the same scan instead of costing
    // a second pass. The summary is tiny — ≤ (m+1) rows per partition —
    // so the eager localCheckpoint that lets candidates AND N read it
    // without recomputing the scan caches kilobytes, not data.
    val summary = grams.as[String].mapPartitions { it =>
      var nPart = 0L
      // hitCap: did this partition EVER overflow m counters (i.e. run a
      // decrement step)? If no partition did, every distinct gram
      // survives in its partition's summary, the candidate set is the
      // full vocabulary, and the rescan is the plain exact aggregation —
      // exact regardless of the kth·m > N regime test. The flag rides
      // the sentinel row so the guard can skip itself in that case
      // (small-vocabulary corpora previously tripped it spuriously).
      var hitCap = false
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { g =>
        nPart += 1
        counters.get(g) match {
          case Some(c) => counters(g) = c + 1
          case None if counters.size < m => counters(g) = 1L
          case None =>
            hitCap = true
            counters.mapValuesInPlace((_, v) => v - 1)
            counters.filterInPlace((_, v) => v > 0)
        }
      }
      counters.keysIterator.map(g => (g, 0L, false)) ++
        Iterator((null: String, nPart, hitCap))
    }.toDF("gram", "n_part", "hit_cap").localCheckpoint(true)
    val candidates =
      summary.filter(col("gram").isNotNull).select("gram").distinct()
    val nTotal = summary.agg(sum(col("n_part")).as("n_total"),
      max(col("hit_cap")).as("any_cap"))
    val topk = grams.join(broadcast(candidates), Seq("gram"), "left_semi")
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(k)
    (nTotal, topk)
  }

  def qHeavyHitters(s: SparkSession, dir: String, k: Int = 20,
                    m: Int = 1024): DataFrame = {
    val (nTotal, topkLive) = heavyHitterParts(s, dir, k, m)
    // localCheckpoint (<= k rows) so the expensive stage-2 subtree —
    // rescan + semi-join + aggregate + sort-limit — evaluates ONCE:
    // both the guard's min() and the returned rows read the k cached
    // rows instead of re-executing the aggregation per consumer.
    val topk = topkLive.localCheckpoint(true)
    // Runtime exactness guard: Misra-Gries only PROVES the candidate
    // set complete when the true k-th count strictly exceeds N/m.
    // Outside that regime the output would be partition-dependent and
    // silently nondeterministic — fail loudly instead. One comparison
    // on values the plan already computed (kth = min of the top-k, N
    // from the stage-1 sentinels), attached as a 1-row broadcast so
    // the check runs wherever the DataFrame is materialized. An empty
    // corpus is exact by definition and must pass, not trip
    // assert_true's null-is-failure path — and "empty" can surface as
    // N=0 OR as NULLs (a parquet dataset with zero scan partitions
    // emits no sentinel rows at all, so sum(n_part) is NULL, not 0),
    // so both sides are coalesced; the message operands are coalesced
    // too so a tripped guard can never raise a null message.
    val nTot = coalesce(col("n_total"), lit(0L))
    val kthM = coalesce(col("kth"), lit(0L)) * m
    // If no partition ever hit the m-counter cap (any_cap false/null),
    // nothing was decremented, the candidate set is the full vocabulary
    // and the rescan is plainly exact — skip the regime test.
    val noCap = !coalesce(col("any_cap"), lit(false))
    val guard = topk.agg(min(col("n_occurrences")).as("kth"))
      .crossJoin(nTotal)
      .select(assert_true(
        (nTot === lit(0L)).or(noCap).or(kthM > nTot),
        concat(lit(s"q_heavy_hitters outside the Misra-Gries exact " +
            s"regime (m=$m): kth*m="),
          kthM.cast("string"),
          lit(" <= N="), nTot.cast("string"),
          lit(" — raise m or use q_heavy_hitters_approx" +
            " (exact counts, candidate set within eps=1/m of the true top-k)")))
        .as("_guard"))
    // assert_true evaluates to null on success, so the isNull filter
    // keeps every row while REFERENCING the guard — without it the
    // dropped column would be pruned and the assert never evaluated.
    topk.crossJoin(broadcast(guard))
      .filter(col("_guard").isNull).drop("_guard")
  }

  /** Approximate top-k — the same two Misra-Gries stages WITHOUT the
    * exactness guard: the sketch answer for corpora whose gram
    * distribution is too flat for any affordable m (the regime where
    * q_heavy_hitters correctly refuses to answer). The guarantees that
    * remain are the useful sketch ones, and HeavyHittersSpec pins both:
    *
    *  - every RETURNED count is EXACT (stage 2 rescans the candidates —
    *    the sketch only chooses WHICH grams to count, never the counts);
    *  - any true top-k gram absent from the output has global count
    *    <= N/m (the Misra-Gries survival bound) — i.e. the result is
    *    the true top-k up to an additive eps·N frequency error with
    *    eps = 1/m, and whenever the kth true count exceeds N/m the
    *    output IS exact (it degrades to q_heavy_hitters' regime).
    *
    * Scale: identical cost profile to the exact form — O(m) state per
    * task, candidate-only shuffle — which is the point: m buys accuracy
    * linearly but memory stays bounded no matter how the vocabulary
    * grows at 100 TB. Rows-only on the driver board: outside the exact
    * regime the candidate set is legitimately partition-dependent. */
  def qHeavyHittersApprox(s: SparkSession, dir: String, k: Int = 20,
                          m: Int = 1024): DataFrame =
    heavyHitterParts(s, dir, k, m)._2

  /** The registry form of [[qHeavyHittersApprox]], oracle-GATED
    * (round-14, the q_agg_percentile_approx rank-bracket recipe): the
    * Misra-Gries survival guarantee — a gram whose true count exceeds
    * N/m CANNOT be decremented out of every partition summary, for ANY
    * partition layout — is checked exactly inside the query. One
    * gate-scale exact gram count (the production form is the ungated
    * sketch alone) derives N, the heavy set {c·m > N}, and the true
    * top-k (count desc, gram asc — the sketch's own tie-break); the
    * flag asserts every heavy true-top-k gram appears in the sketch
    * output WITH its exact count. The candidate set outside the heavy
    * region stays legitimately partition-dependent — which is exactly
    * why the gate projects onto the heavy∩top-k subset, the part the
    * sketch contract makes deterministic. DuckDB mirrors N and the
    * heavy∩top-k cardinality exactly and asserts the all-ones flag, so
    * a survival-bound regression (a decrement bug dropping a heavy
    * gram) hash-fails the entry. */
  def qHeavyHittersApproxGated(s: SparkSession, dir: String, k: Int = 20,
                               m: Int = 1024): DataFrame = {
    val approx = qHeavyHittersApprox(s, dir, k, m).localCheckpoint(true)
    val ec = Tables.documents(s, dir)
      .select(explode(graft.functions.WordNgrams.grams(col("text"), 2))
        .as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // vocab-sized; read 3× below (gate scale)
    val nTotal = ec.agg(sum(col("c")).as("n_total"))
    val heavyTopk = ec.orderBy(col("c").desc, col("gram")).limit(k)
      .crossJoin(broadcast(nTotal))
      .filter(col("c") * m > col("n_total"))
      .select(col("gram"), col("c"))
      .localCheckpoint(true) // ≤ k rows
    val missing = heavyTopk.as("h").join(approx.as("a"),
      col("h.gram") === col("a.gram") && col("h.c") === col("a.n_occurrences"),
      "left_anti")
    nTotal
      .crossJoin(heavyTopk.agg(count(lit(1)).as("n_heavy_topk")))
      .crossJoin(missing.agg(
        when(count(lit(1)) === 0L, 1L).otherwise(0L).as("ok_heavy_topk")))
      .select(col("n_total").cast(LongType).as("n_total"),
        col("n_heavy_topk"), col("ok_heavy_topk"))
  }

  private def qHeavyHittersApproxGatedOracle: String =
    s"""WITH g AS (
       |  SELECT unnest(list_transform(
       |    range(1, len(string_split_regex(trim(text), '\\s+'))),
       |    i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
       |         string_split_regex(trim(text), '\\s+')[i+1])) AS gram
       |  FROM documents),
       |ec AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
       |n AS (SELECT SUM(c) AS n_total FROM ec),
       |topk AS (SELECT gram, c FROM ec ORDER BY c DESC, gram LIMIT 20),
       |heavy AS (SELECT t.gram, t.c FROM topk t, n
       |  WHERE t.c * $hhMSql > n.n_total)
       |SELECT CAST(n.n_total AS BIGINT) AS n_total,
       |  (SELECT COUNT(*) FROM heavy) AS n_heavy_topk,
       |  CAST(1 AS BIGINT) AS ok_heavy_topk
       |FROM n""".stripMargin

  private val qHeavyHittersOracle =
    """WITH g AS (
      |  SELECT unnest(list_transform(
      |    range(1, len(string_split_regex(trim(text), '\s+'))),
      |    i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
      |         string_split_regex(trim(text), '\s+')[i+1])) AS gram
      |  FROM documents)
      |SELECT gram, COUNT(*) AS n_occurrences
      |FROM g GROUP BY gram
      |ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin

  /** BPE tokenizer training, the inner loop: start from character-level
    * symbol sequences over the WEIGHTED word table (pair statistics ride
    * on vocab × frequency, never the raw corpus), then per step count
    * adjacent symbol pairs, pick the global argmax (total order: count
    * desc, pair asc), and merge it everywhere. Output = the merge table
    * (step, pair, count) — the artifact a tokenizer trainer persists.
    *
    * Determinism across engines: symbol sequences are flat strings with
    * a TWO-space separator and single-space borders, so the merge is a
    * literal `replace(" x  y ", " xy ")` — the double space means one
    * pair's match cannot consume the next occurrence's border, and both
    * engines' left-to-right non-overlapping scans merge the identical
    * occurrence set (" x  y  x  y " → " xy  xy " in BOTH; a single-space
    * encoding would leave the second occurrence unmerged). Pair
    * extraction reuses the codegen `WordNgrams` kernel (\s+ collapses
    * the double separator).
    *
    * Scale: each step is one explode+sum over the weighted vocab and one
    * map-side replace; the argmax is a 1-row TakeOrdered collect (8
    * bytes to the driver per step — the merge decision is inherently a
    * global reduce, exactly what a distributed BPE trainer broadcasts
    * between rounds). Steps are data-dependent sequential jobs; the
    * vocab table is cached eagerly via localCheckpoint so the corpus
    * tokenization runs ONCE, not once per step. */
  def qBpeMerges(s: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("w"))
    var syms = words.select(
      concat(lit(" "), concat_ws("  ", split(col("word"), "")), lit(" ")).as("sym"),
      col("w")).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (step <- 1 to steps) {
      val top = syms
        .select(explode(graft.functions.WordNgrams.grams(col("sym"), 2)).as("pair"),
          col("w"))
        .groupBy("pair").agg(sum(col("w")).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1).collect()
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        val c = top(0).getLong(1)
        merges += ((step.toLong, pair, c))
        val Array(x, y) = pair.split(" ", 2)
        syms = syms.withColumn("sym",
          call_function("replace", col("sym"),
            lit(s" $x  $y "), lit(s" $x$y "))).localCheckpoint(true)
      }
    }
    merges.toSeq.toDF("step", "pair", "pair_count").orderBy("step")
  }

  private val qBpeMergesOracle = {
    def pairs(src: String, dst: String) =
      s"""$dst AS (SELECT g AS pair, SUM(w) AS c FROM (
         |  SELECT unnest(list_transform(
         |    range(1, len(string_split_regex(trim(sym), '\\s+'))),
         |    i -> string_split_regex(trim(sym), '\\s+')[i] || ' ' ||
         |         string_split_regex(trim(sym), '\\s+')[i+1])) AS g, w
         |  FROM $src) GROUP BY g)""".stripMargin
    def argmax(src: String, dst: String) =
      s"$dst AS (SELECT pair, c FROM $src ORDER BY c DESC, pair LIMIT 1)"
    def merge(symSrc: String, mSrc: String, dst: String) =
      s"""$dst AS (SELECT replace($symSrc.sym,
         |    ' ' || split_part($mSrc.pair, ' ', 1) || '  ' ||
         |          split_part($mSrc.pair, ' ', 2) || ' ',
         |    ' ' || replace($mSrc.pair, ' ', '') || ' ') AS sym, w
         |  FROM $symSrc, $mSrc)""".stripMargin
    s"""WITH words AS (
       |  SELECT word, COUNT(*) AS w FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents)
       |  GROUP BY word),
       |s1 AS (SELECT ' ' || array_to_string(string_split(word, ''), '  ')
       |         || ' ' AS sym, w FROM words),
       |${pairs("s1", "p1")},
       |${argmax("p1", "m1")},
       |${merge("s1", "m1", "s2")},
       |${pairs("s2", "p2")},
       |${argmax("p2", "m2")},
       |${merge("s2", "m2", "s3")},
       |${pairs("s3", "p3")},
       |${argmax("p3", "m3")}
       |SELECT CAST(step AS BIGINT) AS step, pair, CAST(c AS BIGINT) AS pair_count FROM (
       |  SELECT 1 AS step, pair, c FROM m1
       |  UNION ALL SELECT 2, pair, c FROM m2
       |  UNION ALL SELECT 3, pair, c FROM m3)
       |ORDER BY step""".stripMargin
  }


  /** BPE tokenizer APPLY — the other half of the q_bpe_merges loop:
    * once the merge table is learned, tokenizing a 100 TB corpus is a
    * MAP-ONLY pass (the shape production tokenizers run as). The
    * learned merges (a kilobyte-scale vocabulary artifact — the same
    * bounded per-step argmax collect the training loop documents)
    * become literal replace() rules applied in rank order to every
    * word's symbol string; per-document token counts aggregate once.
    *
    * Replace semantics are the contract: one global left-to-right
    * non-overlapping pass per rule, in rank order — identical in
    * Spark's `replace` and DuckDB's `replace`, and exactly what the
    * training loop's own merge step does, so train and apply stay
    * consistent by construction. The oracle restates training AND
    * apply end-to-end in SQL.
    *
    * Scale: the only non-map work is the per-doc count aggregation
    * (combine-friendly) — the word explode and all replaces pipeline
    * inside one codegen stage; nothing about the corpus reaches the
    * driver (the 3 collected merge rules come from word-COUNT
    * aggregates, bounded by vocabulary, not corpus size). */
  def qBpeApply(s: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    val merges = qBpeMerges(s, dir, steps).collect()
      .map(r => r.getString(1)) // rank-ordered pairs "x y"
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
    val sym0 = concat(lit(" "), concat_ws("  ", split(col("word"), "")), lit(" "))
    val symN = merges.foldLeft(sym0) { (sym, pair) =>
      val Array(x, y) = pair.split(" ", 2)
      call_function("replace", sym, lit(s" $x  $y "), lit(s" $x$y "))
    }
    docs
      .select(col("doc_id"),
        size(split(trim(col("word")), "")).cast(LongType).as("n_chars"),
        size(split(trim(symN), "\\s+")).cast(LongType).as("n_tokens"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).cast(LongType).as("n_char_tokens"),
        sum(col("n_tokens")).cast(LongType).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  private val qBpeApplyOracle = {
    // training CTEs verbatim from the merges oracle (shared helpers),
    // then the apply pass over per-document words
    def pairs(src: String, dst: String) =
      s"""$dst AS (SELECT g AS pair, SUM(w) AS c FROM (
         |  SELECT unnest(list_transform(
         |    range(1, len(string_split_regex(trim(sym), '\\s+'))),
         |    i -> string_split_regex(trim(sym), '\\s+')[i] || ' ' ||
         |         string_split_regex(trim(sym), '\\s+')[i+1])) AS g, w
         |  FROM $src) GROUP BY g)""".stripMargin
    def argmax(src: String, dst: String) =
      s"$dst AS (SELECT pair, c FROM $src ORDER BY c DESC, pair LIMIT 1)"
    def merge(symSrc: String, mSrc: String, dst: String) =
      s"""$dst AS (SELECT replace($symSrc.sym,
         |    ' ' || split_part($mSrc.pair, ' ', 1) || '  ' ||
         |          split_part($mSrc.pair, ' ', 2) || ' ',
         |    ' ' || replace($mSrc.pair, ' ', '') || ' ') AS sym, w
         |  FROM $symSrc, $mSrc)""".stripMargin
    def applyMerge(symSrc: String, mSrc: String, dst: String) =
      s"""$dst AS (SELECT doc_id, n_chars, replace($symSrc.sym,
         |    ' ' || split_part($mSrc.pair, ' ', 1) || '  ' ||
         |          split_part($mSrc.pair, ' ', 2) || ' ',
         |    ' ' || replace($mSrc.pair, ' ', '') || ' ') AS sym
         |  FROM $symSrc, $mSrc)""".stripMargin
    s"""WITH words AS (
       |  SELECT word, COUNT(*) AS w FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |    FROM documents)
       |  GROUP BY word),
       |s1 AS (SELECT ' ' || array_to_string(string_split(word, ''), '  ')
       |         || ' ' AS sym, w FROM words),
       |${pairs("s1", "p1")},
       |${argmax("p1", "m1")},
       |${merge("s1", "m1", "s2")},
       |${pairs("s2", "p2")},
       |${argmax("p2", "m2")},
       |${merge("s2", "m2", "s3")},
       |${pairs("s3", "p3")},
       |${argmax("p3", "m3")},
       |dw AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
       |  FROM documents),
       |a1 AS (SELECT doc_id,
       |    len(string_split(trim(word), '')) AS n_chars,
       |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS sym
       |  FROM dw),
       |${applyMerge("a1", "m1", "a2")},
       |${applyMerge("a2", "m2", "a3")},
       |${applyMerge("a3", "m3", "a4")}
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_char_tokens,
       |  CAST(SUM(len(string_split_regex(trim(sym), '\\s+'))) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM a4 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }


  /** N-gram NOVELTY scoring — what fraction of a document's word
    * trigrams appear for the FIRST time in corpus order (by doc_id):
    * the incremental-curation signal that separates genuinely new
    * content from recombinations of what the corpus already holds
    * (rarity scores frequency; novelty scores first occurrence).
    *
    * Scale: one gram-keyed aggregation finds each distinct gram's
    * first document (min doc_id — combine-friendly), one broadcast-free
    * equi-join back on the gram, one per-doc count reduce. Integer
    * basis points (`(first·10000) div total`), no floats. */
  def qTextNovelty(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.WordNgrams.grams(col("text"), 3)).as("g"))
    val firstDoc = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstDoc, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams").cast(LongType).as("n_grams"),
        col("n_novel").cast(LongType).as("n_novel"),
        expr("(n_novel * 10000) div n_grams").cast(LongType)
          .as("novelty_bp"))
      .orderBy("doc_id")
  }

  private val qTextNoveltyOracle =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, len(string_split_regex(trim(text), '\s+')) - 1),
      |    i -> array_to_string(string_split_regex(trim(text), '\s+')[i:i+2], ' '))) AS g
      |  FROM documents),
      |fd AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g)
      |SELECT doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST((SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 10000)
      |    // COUNT(*) AS BIGINT) AS novelty_bp
      |FROM g JOIN fd USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin


  /** Language-ID CONFUSION MATRIX — the model-evaluation readout for
    * the trigram classifier: true label × predicted label counts plus
    * per-cell integer basis points of the true-label row. The
    * eval-harness primitive (precision/recall fall straight out), and
    * at 100 TB it is ONE count aggregation over the classifier's
    * output — the scoring pass is [[qLangidTrigram]]'s plan verbatim,
    * the matrix is a (|langs|²)-bounded reduce on top. */
  def qTextConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = qLangidTrigram(s, dir)
    val byLang = Window.partitionBy(col("lang"))
    pred.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(byLang))
      .select(col("lang"), col("pred_lang"), col("n").cast(LongType).as("n"),
        expr("(n * 10000) div row_total").cast(LongType).as("share_bp"))
      .orderBy("lang", "pred_lang")
  }

  /** `String.replace` that REQUIRES the needle to be present — a
    * reformat of the source oracle would otherwise turn the surgery
    * into a silent no-op yielding malformed SQL that only the next
    * gate run would catch. Failing at class-init time instead surfaces
    * it in every test run. */
  private def replaceRequired(src: String, find: String, repl: String): String = {
    require(src.contains(find),
      s"oracle surgery needle not found (source oracle reformatted?): " +
        s"'${find.take(60)}'")
    src.replace(find, repl)
  }

  private val qTextConfusionOracle = {
    // the trigram classifier oracle verbatim, demoted to a CTE (the
    // comma splice closes the prior `pred` CTE before pred_out opens)
    val inner = replaceRequired(
      replaceRequired(qLangidTrigramOracle,
        "rn = 1)\nSELECT d2.doc_id, d2.lang,",
        "rn = 1),\npred_out AS (SELECT d2.doc_id, d2.lang,"),
      "ORDER BY d2.doc_id", ")")
    s"""${inner}
       |SELECT lang, pred_lang, COUNT(*) AS n,
       |  CAST((COUNT(*) * 10000) //
       |    (SUM(COUNT(*)) OVER (PARTITION BY lang)) AS BIGINT) AS share_bp
       |FROM pred_out GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin
  }

  // m is the operator's memory/accuracy knob, shared by the exact and
  // approx forms: exactness needs m > N/kth; the approx form's frequency
  // error is eps = 1/m of N.
  //
  // The registry DEFAULT is AUTO-SIZED per corpus (round-18 verdict
  // task 5: a fixed m=1024 left both entries with no scaled correctness
  // row — the 10x corpus is legitimately outside m=1024's exact regime
  // and the guard refused it BY DESIGN): m = max(1024, 2·V) where V is
  // the exact distinct bigram count. With m ≥ V no partition can ever
  // hit the counter cap, so the candidate set is provably the full
  // vocabulary and the rescan is exact at ANY scale — a rule that keeps
  // the exact entry in-regime on every gated corpus without knowing kth,
  // and that DuckDB mirrors in integer arithmetic (GREATEST(1024,
  // 2*COUNT(DISTINCT gram)) — no float log2 whose ulp could diverge).
  // V costs one distinct-count aggregation over the gram scan — gate
  // machinery, not the production shape: a 100 TB corpus sizes m from
  // its vocabulary ESTIMATE (or uses the approx twin, whose eps=1/m
  // contract needs no regime at all), passing m to the operator.
  // The exact distinct-bigram count is a CORPUS property, so it is
  // memoized per dir (round-19 advisory: q_heavy_hitters and its approx
  // twin each ran the full vocabulary scan inside their registry
  // lambdas — two extra corpus aggregations per board). Only the COUNT
  // is cached.
  private val hhVocab =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def hhM(s: SparkSession, dir: String): Int = {
    val v: Long = hhVocab.computeIfAbsent(dir, d =>
      Tables.documents(s, d)
        .select(explode(graft.functions.WordNgrams.grams(col("text"), 2))
          .as("gram"))
        .agg(countDistinct(col("gram")).as("v")).head.getLong(0))
    val auto = math.max(1024L, 2L * v)
    // the DuckDB mirror GREATEST(1024, 2*COUNT(DISTINCT gram)) is
    // uncapped, so a silent clamp here would desync engine and oracle
    // arithmetic (round-19 advisory) — refuse loudly instead; a corpus
    // with 2·V over Int.MaxValue (>1e9 distinct bigrams in one gated
    // table) needs the approx twin or an explicit m
    require(auto <= Int.MaxValue.toLong,
      s"auto-sized heavy-hitters m=$auto exceeds Int.MaxValue — the " +
        "exact entry cannot mirror its oracle at this vocabulary; use " +
        "q_heavy_hitters_approx, or call qHeavyHitters with an explicit m")
    auto.toInt
  }

  // the oracle-side mirror of the auto-sizing rule, over the same
  // bigram table CTE (`g`) the heavy-hitters oracles already build
  private val hhMSql = "(SELECT GREATEST(1024, 2 * COUNT(DISTINCT gram)) FROM g)"

  /** Unigram-LM rarity scoring — the log-free perplexity proxy: each
    * token scores `N div count(token)` (corpus-inverse frequency, the
    * unigram 1/p up to integer truncation), and a document reports the
    * integer SUM plus the rational mean. Rank-equivalent to unigram
    * log-perplexity for quality filtering (monotone in 1/p), while
    * staying cross-engine bit-exact: integer division + integer sums,
    * one IEEE division at the end (the same `ln`-avoidance discipline as
    * q_tfidf). High mean rarity flags OOV-dense/garbled documents, low
    * mean flags boilerplate.
    *
    * Scale: vocabulary counts are a map-side-combined aggregation; N is
    * a broadcast 1-row aggregate; the token→vocab join is the one real
    * shuffle (at 100 TB: broadcast the head of the Zipf vocabulary and
    * shuffle only the tail — the head covers ~90 % of token mass). The
    * per-doc reduce is combine-friendly. */
  def qTextRarity(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
    val cnt = tok.groupBy("term").agg(count(lit(1)).as("c"))
    val n = tok.agg(count(lit(1)).as("n_total"))
    tok.join(cnt, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), expr("n_total div c").as("rar"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(col("rar")).cast(LongType).as("rarity_sum"))
      .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
        round(col("rarity_sum").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("rarity_mean"))
      .orderBy("doc_id")
  }

  private val qTextRarityOracle =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_total FROM tok),
      |d AS (
      |  SELECT t.doc_id, COUNT(*) AS n_tokens,
      |    SUM(n.n_total // cnt.c) AS rarity_sum
      |  FROM tok t JOIN cnt ON t.term = cnt.term CROSS JOIN n
      |  GROUP BY t.doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(rarity_sum AS BIGINT) AS rarity_sum,
      |  round(CAST(rarity_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
      |    AS rarity_mean
      |FROM d ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_merges" -> ((s, d) => qBpeMerges(s, d)),
    "q_bpe_apply" -> ((s, d) => qBpeApply(s, d)),
    "q_text_rarity" -> (qTextRarity _),
    "q_text_collocations" -> ((s, d) => qTextCollocations(s, d)),
    "q_ngram_counts" -> ((s, d) => qNgramCounts(s, d)),
    "q_text_novelty" -> (qTextNovelty _),
    "q_text_confusion" -> (qTextConfusion _),
    // m is auto-sized from the corpus vocabulary (hhM), so the exact
    // regime holds even where the top-k does NOT concentrate as the
    // corpus grows — e.g. the key-shifted scaled corpus of
    // `ScaleBench.buildScaledData` (SCALE.md), whose disjoint per-copy
    // vocabularies keep kth put while N scales with the factor (a fixed
    // m=1024 trips the guard there).
    "q_heavy_hitters" -> ((s, d) => qHeavyHitters(s, d, m = hhM(s, d))),
    // sketch twin: no guard, rows-only on the board (outside the exact
    // regime the candidate set is partition-dependent by design)
    "q_heavy_hitters_approx" -> ((s, d) =>
      qHeavyHittersApproxGated(s, d, m = hhM(s, d))),
    "q_text_postings" -> (qTextPostings _),
    "q_text_chunks" -> ((s, d) => qTextChunks(s, d)),
    "q_langid_trigram" -> ((s, d) => qLangidTrigram(s, d)),
    "q_text_diversity" -> (qTextDiversity _),
    "q_tfidf" -> ((s, d) => qTfidf(s, d)),
    "q_text_normalize" -> (qTextNormalize _),
    "q_quality_filter" -> (qQualityFilter _),
    "q_text_stats" -> (qTextStats _),
    "q_text_langid" -> (qTextLangid _),
    "q_text_quality" -> (qTextQuality _),
    "q_text_tokens" -> (qTextTokens _),
    "q_text_fingerprint" -> (qTextFingerprint _)
  )

  def oracleSql: Map[String, String] = Map(
    "q_bpe_merges" -> qBpeMergesOracle,
    "q_bpe_apply" -> qBpeApplyOracle,
    "q_text_rarity" -> qTextRarityOracle,
    "q_text_collocations" -> qTextCollocationsOracle,
    "q_ngram_counts" -> qNgramCountsOracle,
    "q_text_novelty" -> qTextNoveltyOracle,
    "q_text_confusion" -> qTextConfusionOracle,
    "q_heavy_hitters" -> qHeavyHittersOracle,
    "q_heavy_hitters_approx" -> qHeavyHittersApproxGatedOracle,
    "q_text_postings" -> qTextPostingsOracle,
    "q_text_chunks" -> qTextChunksOracle,
    "q_langid_trigram" -> qLangidTrigramOracle,
    "q_text_diversity" -> qTextDiversityOracle,
    "q_tfidf" -> qTfidfOracle,
    "q_text_normalize" -> qTextNormalizeOracle,
    "q_quality_filter" -> qQualityFilterOracle,
    "q_text_stats" -> qTextStatsOracle,
    "q_text_langid" -> qTextLangidOracle,
    "q_text_quality" -> qTextQualityOracle,
    "q_text_tokens" -> qTextTokensOracle,
    "q_text_fingerprint" -> qTextFingerprintOracle
  )
}
