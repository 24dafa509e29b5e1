package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.ingest.{CastKernel, NullTokens, Parsers}

/** Scalar-function inventory (SURVEY.md §2.D): string/date/math function
  * suites, JSON and array access, plus the reference's own parser
  * surface (§2.B null tokens / bool table / multi-format date &
  * timestamp / safe casts) exercised over deterministically synthesized
  * raw strings so the oracle can mirror byte-for-byte.
  *
  * All expressions are `functions._` / Catalyst trees — codegen'd, no
  * UDFs, so every query stays inside WholeStageCodegen on top of the
  * pushed-down parquet scan.
  */
object Funcs {

  // ── plain function suites ─────────────────────────────────────────

  def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey"),
      upper(col("p_brand")).as("up_brand"),
      lower(col("p_type")).as("lo_type"),
      substring(col("p_name"), 1, 12).as("name_prefix"),
      length(col("p_name")).cast(LongType).as("name_len"),
      regexp_replace(col("p_type"), " ", "_").as("type_snake"),
      concat_ws("-", col("p_brand"), col("p_size").cast("string")).as("brand_size"),
      regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
      lpad(col("p_partkey").cast("string"), 10, "0").as("key_padded"))
      .orderBy("p_partkey")

  private val qStringFuncsOracle =
    """SELECT p_partkey,
      |  upper(p_brand) AS up_brand,
      |  lower(p_type) AS lo_type,
      |  substring(p_name, 1, 12) AS name_prefix,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
      |  concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
      |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
      |  lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded
      |FROM part ORDER BY p_partkey""".stripMargin

  def qDateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast(LongType).as("yr"),
      month(col("o_orderdate")).cast(LongType).as("mo"),
      dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
      quarter(col("o_orderdate")).cast(LongType).as("qtr"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      datediff(lit("2002-01-01").cast("date"), col("o_orderdate"))
        .cast(LongType).as("days_to_2002"),
      (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus_30d"))
      .orderBy("o_orderkey")

  private val qDateFuncsOracle =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  CAST(day(o_orderdate) AS BIGINT) AS dom,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
      |  o_orderdate + INTERVAL 30 DAY AS plus_30d
      |FROM orders ORDER BY o_orderkey""".stripMargin

  def qMathFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).orderBy("l_orderkey", "l_linenumber").select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_extendedprice") - 50000.0).as("abs_v"),
      ceil(col("l_extendedprice")).as("ceil_v"),
      floor(col("l_extendedprice")).as("floor_v"),
      sqrt(col("l_extendedprice")).as("sqrt_v"), // IEEE-exact, engine-independent
      pow(col("l_quantity"), 2).as("pow_v"),
      round(log(col("l_extendedprice")), 6).as("ln_v"),
      (col("l_linenumber") % 3).cast(LongType).as("mod_v"))

  private val qMathFuncsOracle =
    """SELECT l_orderkey, l_linenumber,
      |  abs(l_extendedprice - 50000.0) AS abs_v,
      |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_v,
      |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_v,
      |  sqrt(l_extendedprice) AS sqrt_v,
      |  pow(l_quantity, 2) AS pow_v,
      |  round(ln(l_extendedprice), 6) AS ln_v,
      |  CAST(l_linenumber % 3 AS BIGINT) AS mod_v
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ── reference parser surface over synthesized raw strings ─────────

  /** Deterministic raw string column both engines can synthesize
    * identically: cycle of null tokens and clean values. */
  private def rawTokenCol = {
    val m = col("l_linenumber") % 6
    when(m === 0, lit("NULL")).when(m === 1, lit(" "))
      .when(m === 2, lit("n/a")).when(m === 3, lit("NaN"))
      .otherwise(col("l_orderkey").cast("string"))
  }

  private val rawTokenSql =
    """(CASE l_linenumber % 6 WHEN 0 THEN 'NULL' WHEN 1 THEN ' '
      | WHEN 2 THEN 'n/a' WHEN 3 THEN 'NaN'
      | ELSE CAST(l_orderkey AS VARCHAR) END)""".stripMargin

  /** Reference null-token normalization (§2.B est_null_texte). */
  def qNullNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).orderBy("l_orderkey", "l_linenumber").select(
      col("l_orderkey"), col("l_linenumber"),
      rawTokenCol.as("raw"),
      NullTokens.normalize(rawTokenCol).as("normalized"))

  private val qNullNormalizeOracle =
    s"""SELECT l_orderkey, l_linenumber, $rawTokenSql AS raw,
       |  ${NullTokens.normalizeSql(rawTokenSql)} AS normalized
       |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Reference cast kernel incl. overflow→null, inf→null (§1.4). */
  def qSafeCast(s: SparkSession, dir: String): DataFrame = {
    val mi = col("l_linenumber") % 5
    val rawInt = when(mi === 0, col("l_orderkey").cast("string"))
      .when(mi === 1, lit("99999999999999999999999"))
      .when(mi === 2, lit("12.5"))
      .when(mi === 3, lit("-42"))
      .otherwise(lit(""))
    val md = col("l_linenumber") % 4
    val rawDbl = when(md === 0, col("l_extendedprice").cast("decimal(12,2)").cast("string"))
      .when(md === 1, lit("inf"))
      .when(md === 2, lit("1e3"))
      .otherwise(lit("abc"))
    // ORDER BY before the projection: range-partitioning samples its
    // child to pick bounds, so sorting the raw scan (cheap) instead of
    // the parse projection avoids computing every kernel twice.
    Tables.lineitem(s, dir)
      .orderBy("l_orderkey", "l_linenumber")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        rawInt.as("raw_int"), rawDbl.as("raw_dbl"),
        CastKernel.toLong(rawInt).as("long_val"),
        CastKernel.toUnsignedLong(rawInt).as("ulong_val"),
        CastKernel.toDouble(rawDbl).as("dbl_val"))
  }

  private val qSafeCastOracle = {
    val rawInt =
      """(CASE l_linenumber % 5 WHEN 0 THEN CAST(l_orderkey AS VARCHAR)
        | WHEN 1 THEN '99999999999999999999999' WHEN 2 THEN '12.5'
        | WHEN 3 THEN '-42' ELSE '' END)""".stripMargin
    val rawDbl =
      """(CASE l_linenumber % 4 WHEN 0 THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
        | WHEN 1 THEN 'inf' WHEN 2 THEN '1e3' ELSE 'abc' END)""".stripMargin
    def gate(e: String) = s"NOT ($e IS NULL OR trim($e) = '' OR lower(trim($e)) IN ('null','none','nan','n/a','na'))"
    s"""SELECT l_orderkey, l_linenumber, $rawInt AS raw_int, $rawDbl AS raw_dbl,
       |  (CASE WHEN ${gate(rawInt)} AND regexp_matches(trim($rawInt), '^[+-]?[0-9]+$$')
       |    THEN TRY_CAST(trim($rawInt) AS BIGINT) ELSE NULL END) AS long_val,
       |  (CASE WHEN ${gate(rawInt)} AND regexp_matches(trim($rawInt), '^[+]?[0-9]+$$')
       |    THEN TRY_CAST(trim($rawInt) AS BIGINT) ELSE NULL END) AS ulong_val,
       |  (CASE WHEN ${gate(rawDbl)} AND TRY_CAST(trim($rawDbl) AS DOUBLE) IS NOT NULL
       |        AND NOT isinf(TRY_CAST(trim($rawDbl) AS DOUBLE))
       |        AND NOT isnan(TRY_CAST(trim($rawDbl) AS DOUBLE))
       |    THEN TRY_CAST(trim($rawDbl) AS DOUBLE) ELSE NULL END) AS dbl_val
       |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** Reference bool-token mapping (§2.B parse_bool incl. on/off). */
  def qParseBool(s: SparkSession, dir: String): DataFrame = {
    val m = col("l_linenumber") % 8
    val raw = when(m === 0, lit("true")).when(m === 1, lit("0"))
      .when(m === 2, lit("YES")).when(m === 3, lit(" off "))
      .when(m === 4, lit("on")).when(m === 5, lit("maybe"))
      .when(m === 6, lit("T")).otherwise(lit("no"))
    Tables.lineitem(s, dir).orderBy("l_orderkey", "l_linenumber").select(
      col("l_orderkey"), col("l_linenumber"), raw.as("raw"),
      CastKernel.toBoolean(raw).as("parsed"))
  }

  private val qParseBoolOracle = {
    val raw =
      """(CASE l_linenumber % 8 WHEN 0 THEN 'true' WHEN 1 THEN '0'
        | WHEN 2 THEN 'YES' WHEN 3 THEN ' off ' WHEN 4 THEN 'on'
        | WHEN 5 THEN 'maybe' WHEN 6 THEN 'T' ELSE 'no' END)""".stripMargin
    s"""SELECT l_orderkey, l_linenumber, $raw AS raw,
       |  ${Parsers.parseBoolSql(raw)} AS parsed
       |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** Dates formatted 3 ways then re-parsed via the day-first coalesce. */
  def qParseDateMulti(s: SparkSession, dir: String): DataFrame = {
    val m = col("o_orderkey") % 3
    val raw = when(m === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .when(m === 1, date_format(col("o_orderdate"), "dd/MM/yyyy"))
      .otherwise(date_format(col("o_orderdate"), "MM/dd/yyyy"))
    Tables.orders(s, dir).orderBy("o_orderkey").select(
      col("o_orderkey"), raw.as("raw"),
      CastKernel.toDate(raw).as("parsed"))
  }

  private val qParseDateMultiOracle = {
    val raw =
      """(CASE o_orderkey % 3 WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        | WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
        | ELSE strftime(o_orderdate, '%m/%d/%Y') END)""".stripMargin
    s"""SELECT o_orderkey, $raw AS raw,
       |  ${Parsers.parseDateYmdSql(raw)} AS parsed
       |FROM orders ORDER BY o_orderkey""".stripMargin
  }

  /** Timestamps via text formats AND epoch-range branches (s + ms).
    * The +400000000s shift pushes 1995–2001 order dates into the
    * reference's accepted epoch-seconds window (≈2001–2096). */
  def qParseTsMulti(s: SparkSession, dir: String): DataFrame = {
    val m = col("o_orderkey") % 4
    // o_orderdate arrives as TIMESTAMP_NTZ; route through TimestampType
    // (session pinned UTC) to reach epoch seconds.
    val shifted = col("o_orderdate").cast("timestamp").cast("long") + 400000000L
    val raw = when(m === 0, date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
      .when(m === 1, date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss.SSS"))
      .when(m === 2, shifted.cast("string"))
      .otherwise((shifted * 1000).cast("string"))
    Tables.orders(s, dir).orderBy("o_orderkey").select(
      col("o_orderkey"), raw.as("raw"),
      CastKernel.toTimestamp(raw).as("parsed"))
  }

  private val qParseTsMultiOracle = {
    val shifted = "(CAST(epoch(o_orderdate) AS BIGINT) + 400000000)"
    val raw =
      s"""(CASE o_orderkey % 4 WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
         | WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g')
         | WHEN 2 THEN CAST($shifted AS VARCHAR)
         | ELSE CAST($shifted * 1000 AS VARCHAR) END)""".stripMargin
    s"""SELECT o_orderkey, $raw AS raw,
       |  make_timestamp(${Parsers.parseTimestampMsSql(raw)} * 1000) AS parsed
       |FROM orders ORDER BY o_orderkey""".stripMargin
  }

  // ── JSON / array access ───────────────────────────────────────────

  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).orderBy("event_id").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      get_json_object(col("props"), "$.k").try_cast("bigint").as("k_num"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k_typed"))

  private val qJsonExtractOracle =
    """SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_str,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed
      |FROM events ORDER BY event_id""".stripMargin

  // "+ 0.0" canonicalizes signed zero: Spark's round collapses -1e-5 to
  // 0.0 while DuckDB keeps -0.0 — adding positive zero maps both to 0.0.
  // head3 keeps the slice/transform array coverage but ships as a string:
  // the driver's pandas hash compare can't factorize raw array cells, and
  // DECIMAL(10,4) formatting is fixed-scale on both engines (double→string
  // shortest-repr conventions differ, e.g. Java "1.0E-4" vs Ryu "0.0001").
  def qArrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      size(col("embedding")).cast(LongType).as("n_dims"),
      (round(element_at(col("embedding"), 1).cast(DoubleType), 4) + 0.0).as("first_val"),
      (round(element_at(col("embedding"), -1).cast(DoubleType), 4) + 0.0).as("last_val"),
      concat_ws(",", transform(slice(col("embedding"), 1, 3),
        x => (round(x.cast(DoubleType), 4) + 0.0)
          .cast("decimal(10,4)").cast("string"))).as("head3"))
      .orderBy("vec_id")

  private val qArrayFuncsOracle =
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS n_dims,
      |  round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_val,
      |  round(CAST(embedding[-1] AS DOUBLE), 4) + 0.0 AS last_val,
      |  array_to_string(list_transform(embedding[1:3],
      |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) + 0.0 AS DECIMAL(10,4)) AS VARCHAR)), ',') AS head3
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Map-typed column surface: parse the JSON props into a real
    * MapType, then exercise the map function family (keys, lookup,
    * membership, concat) — typed maps are how a pipeline carries
    * per-record metadata (decode params, provenance tags) without
    * schema churn. Map-side only. The oracle mirrors through DuckDB's
    * JSON functions, so Spark's map semantics are checked against an
    * independent representation. */
  def qMapFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    val m = from_json(col("props"), MapType(StringType, LongType))
    val enriched = map_concat(m, map(lit("bonus"), pmod(col("event_id"), lit(5))))
    Tables.events(s, dir).select(
      col("event_id"),
      size(map_keys(m)).cast(LongType).as("n_keys"),
      element_at(m, "k").as("k_val"),
      map_contains_key(m, "k").as("has_k"),
      element_at(enriched, "bonus").as("bonus"),
      concat_ws(",", sort_array(map_keys(enriched))).as("keys_sorted"))
      .orderBy("event_id")
  }

  private val qMapFuncsOracle =
    """SELECT event_id,
      |  CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
      |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
      |  json_extract(props, '$.k') IS NOT NULL AS has_k,
      |  event_id % 5 AS bonus,
      |  array_to_string(list_sort(list_append(json_keys(props), 'bonus')), ',') AS keys_sorted
      |FROM events ORDER BY event_id""".stripMargin

  /** Order-deterministic array aggregation: collect_list carries no
    * ordering guarantee under parallel merge, so the struct-sort idiom
    * (collect structs keyed by the order column, sort_array once per
    * group, project) replaces the nondeterminism with an O(k log k)
    * per-group sort — k here is lines-per-order (≤ 7), never corpus
    * size. This is the shape for "sequence of items per key" features
    * (user event traces, doc token windows) at 100 TB: one combine-
    * friendly aggregation, no window shuffle. */
  def qAggCollect(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(
        struct(col("l_linenumber"), col("l_quantity")))).as("pairs"))
      .select(col("l_orderkey"),
        size(col("pairs")).cast(LongType).as("n_items"),
        concat_ws(",", transform(col("pairs"),
          p => p.getField("l_quantity").cast(LongType).cast("string")))
          .as("quantities"))
      .orderBy("l_orderkey")

  private val qAggCollectOracle =
    """WITH p AS (
      |  SELECT l_orderkey,
      |    list(CAST(l_quantity AS BIGINT) ORDER BY l_linenumber, l_quantity) AS qs
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT l_orderkey, CAST(len(qs) AS BIGINT) AS n_items,
      |  array_to_string(qs, ',') AS quantities
      |FROM p ORDER BY l_orderkey""".stripMargin

  /** Higher-order array surface: per-order quantity arrays pushed
    * through distinct / filter / transform / exists / aggregate —
    * Spark's lambda functions mirrored against DuckDB's list_*
    * equivalents. All-integer element values, so every derived scalar
    * is cross-engine exact; the fold keeps its accumulator integral. */
  def qArrayAdvanced(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast(LongType))).as("qs"))
      .select(col("l_orderkey"),
        size(col("qs")).cast(LongType).as("n"),
        size(array_distinct(col("qs"))).cast(LongType).as("n_distinct"),
        size(filter(col("qs"), q => q > 25L)).cast(LongType).as("n_big"),
        exists(col("qs"), q => q === 50L).as("has_50"),
        forall(col("qs"), q => q > 0L).as("all_positive"),
        concat_ws(",", transform(col("qs"),
          q => (q * 2).cast("string"))).as("doubled"),
        aggregate(col("qs"), lit(0L), (acc, q) => acc + q).as("total"))
      .orderBy("l_orderkey")

  private val qArrayAdvancedOracle =
    """WITH p AS (
      |  SELECT l_orderkey,
      |    list(CAST(l_quantity AS BIGINT)
      |      ORDER BY CAST(l_quantity AS BIGINT)) AS qs
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT l_orderkey,
      |  CAST(len(qs) AS BIGINT) AS n,
      |  CAST(len(list_distinct(qs)) AS BIGINT) AS n_distinct,
      |  CAST(len(list_filter(qs, q -> q > 25)) AS BIGINT) AS n_big,
      |  len(list_filter(qs, q -> q = 50)) > 0 AS has_50,
      |  len(list_filter(qs, q -> q <= 0)) = 0 AS all_positive,
      |  array_to_string(list_transform(qs, q -> CAST(q * 2 AS VARCHAR)), ',')
      |    AS doubled,
      |  CAST(list_sum(qs) AS BIGINT) AS total
      |FROM p ORDER BY l_orderkey""".stripMargin

  // ── regexp suite ──────────────────────────────────────────────────

  /** Regexp surface beyond the basic extract/replace in q_string_funcs:
    * match predicate, match counting, first-match substring, regex
    * split, and capture-group backreference replacement. All codegen'd
    * Catalyst expressions (Java regex) mirrored against DuckDB's RE2
    * forms — the patterns stay in the POSIX-compatible intersection so
    * both engines agree. */
  def qRegexpFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey"),
      col("p_name").rlike("a.*i").as("has_a_then_i"),
      regexp_count(col("p_name"), lit("[aeiou]")).cast(LongType).as("n_vowels"),
      regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
      size(split(col("p_name"), "\\s+")).cast(LongType).as("n_words"),
      regexp_replace(col("p_name"), "([aeiou])", "<$1>").as("marked"))
      .orderBy("p_partkey")

  private val qRegexpFuncsOracle =
    """SELECT p_partkey,
      |  regexp_matches(p_name, 'a.*i') AS has_a_then_i,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  CAST(len(regexp_split_to_array(p_name, '\s+')) AS BIGINT) AS n_words,
      |  regexp_replace(p_name, '([aeiou])', '<\1>', 'g') AS marked
      |FROM part ORDER BY p_partkey""".stripMargin

  // ── bitwise suite ─────────────────────────────────────────────────

  /** Bitwise operator surface — AND/OR/XOR, shifts, popcount. The
    * operators partition-hash and bucket at the storage layer, so their
    * cross-engine bit-exactness is what makes hash-partitioned layouts
    * portable. Map-side only. */
  def qBitwiseFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderkey").bitwiseAND(lit(255L)).as("low_byte"),
      col("o_orderkey").bitwiseOR(lit(4096L)).as("with_flag"),
      col("o_orderkey").bitwiseXOR(col("o_custkey")).as("key_mix"),
      shiftleft(pmod(col("o_orderkey"), lit(1024L)), 4).as("shl4"),
      shiftright(col("o_orderkey"), 3).as("shr3"),
      bit_count(col("o_orderkey")).cast(LongType).as("popcount"))
      .orderBy("o_orderkey")

  private val qBitwiseFuncsOracle =
    """SELECT o_orderkey,
      |  o_orderkey & 255 AS low_byte,
      |  o_orderkey | 4096 AS with_flag,
      |  xor(o_orderkey, o_custkey) AS key_mix,
      |  (o_orderkey % 1024) << 4 AS shl4,
      |  o_orderkey >> 3 AS shr3,
      |  CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ── cryptographic hash fingerprints ───────────────────────────────

  /** Content-addressable fingerprints — the portable dedup/shard keys a
    * cross-system pipeline exchanges: MD5 and SHA-256 of the document
    * text, plus a composite-key hash binding the id to the content
    * (re-ingest detection). Both engines hash UTF-8 bytes to lowercase
    * hex, so fingerprints computed here equal fingerprints computed by
    * any other stack — unlike engine-private hashes (xxhash64 seeds,
    * Java hashCode) these survive system boundaries. Pure map-side
    * codegen expressions over the scan. */
  def qHashFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(col("text")).as("text_md5"),
      sha2(col("text"), 256).as("text_sha256"),
      md5(concat(col("doc_id").cast("string"), lit(":"), col("text")))
        .as("row_key"),
      substring(sha2(col("text"), 256), 1, 8).as("shard_prefix"))
      .orderBy("doc_id")

  private val qHashFuncsOracle =
    """SELECT doc_id,
      |  md5(text) AS text_md5,
      |  sha256(text) AS text_sha256,
      |  md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS row_key,
      |  substring(sha256(text), 1, 8) AS shard_prefix
      |FROM documents ORDER BY doc_id""".stripMargin

  // ── advanced string surface ───────────────────────────────────────

  /** String surface beyond q_string_funcs' basics: character-class
    * translation, 1-based field splitting, substring position, edge
    * slicing, reversal, repetition, and the ascii/chr round trip — the
    * remainder of the portable string toolkit (initcap/overlay are
    * deliberately absent: no DuckDB equivalent to mirror). Map-side
    * codegen only. */
  def qStringAdvanced(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey"),
      translate(col("p_name"), "aeiou", "12345").as("digits_for_vowels"),
      expr("split_part(p_type, ' ', 2)").as("type_second"),
      instr(col("p_name"), "a").cast(LongType).as("first_a"),
      expr("left(p_name, 5)").as("head5"),
      expr("right(p_name, 5)").as("tail5"),
      reverse(col("p_brand")).as("brand_rev"),
      repeat(lit("*"), pmod(col("p_size"), lit(5)).cast("int")).as("stars"),
      ascii(col("p_name")).cast(LongType).as("first_code"),
      expr("chr(65 + pmod(p_size, 26))").as("size_letter"))
      .orderBy("p_partkey")

  private val qStringAdvancedOracle =
    """SELECT p_partkey,
      |  translate(p_name, 'aeiou', '12345') AS digits_for_vowels,
      |  split_part(p_type, ' ', 2) AS type_second,
      |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
      |  left(p_name, 5) AS head5,
      |  right(p_name, 5) AS tail5,
      |  reverse(p_brand) AS brand_rev,
      |  repeat('*', CAST(p_size % 5 AS INTEGER)) AS stars,
      |  CAST(ascii(p_name) AS BIGINT) AS first_code,
      |  chr(65 + CAST(p_size % 26 AS INTEGER)) AS size_letter
      |FROM part ORDER BY p_partkey""".stripMargin

  // ── struct / JSON round-trip ──────────────────────────────────────

  /** Struct construction and JSON round-trip fidelity: named_struct →
    * to_json (compact text, asserted cross-engine byte-equal) →
    * from_json → field extraction returns the original values. The
    * serialize/reparse loop is the lineage-preservation shape pipeline
    * checkpoints rely on. Map-side only. */
  def qStructFuncs(s: SparkSession, dir: String): DataFrame = {
    val st = named_struct(
      lit("id"), col("doc_id"),
      lit("lang"), col("lang"),
      lit("n"), col("n_chars"))
    val js = to_json(st)
    val back = from_json(js,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, lang STRING, n BIGINT"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      js.as("json_text"),
      back.getField("id").as("rt_id"),
      back.getField("lang").as("rt_lang"),
      back.getField("n").as("rt_n"))
      .orderBy("doc_id")
  }

  private val qStructFuncsOracle =
    """SELECT doc_id,
      |  to_json(struct_pack(id := doc_id, lang := lang, n := n_chars)) AS json_text,
      |  doc_id AS rt_id, lang AS rt_lang, n_chars AS rt_n
      |FROM documents ORDER BY doc_id""".stripMargin

  // ── calendar arithmetic suite ─────────────────────────────────────

  /** Calendar arithmetic beyond q_date_funcs' extraction: month math
    * with end-of-month clamping (Jan 31 + 1 month = Feb 28 in BOTH
    * engines), last-day-of-month, ISO week / day-of-year / day-of-week
    * (Spark is 1=Sunday, DuckDB 0=Sunday — oracle shifts), date
    * construction, and format rendering. Map-side only. */
  def qCalendarFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      add_months(col("o_orderdate"), 1).as("plus_1mo"),
      last_day(col("o_orderdate")).as("month_end"),
      dayofweek(col("o_orderdate")).cast(LongType).as("dow"),
      dayofyear(col("o_orderdate")).cast(LongType).as("doy"),
      weekofyear(col("o_orderdate")).cast(LongType).as("iso_week"),
      make_date(year(col("o_orderdate")) + 1, month(col("o_orderdate")), lit(1))
        .as("next_year_month_start"),
      date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy("o_orderkey")

  private val qCalendarFuncsOracle =
    """SELECT o_orderkey,
      |  CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS plus_1mo,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  dayofweek(o_orderdate) + 1 AS dow,
      |  dayofyear(o_orderdate) AS doy,
      |  weekofyear(o_orderdate) AS iso_week,
      |  make_date(CAST(year(o_orderdate) AS INT) + 1,
      |            CAST(month(o_orderdate) AS INT), 1) AS next_year_month_start,
      |  strftime(o_orderdate, '%Y-%m') AS ym
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ── registry ──────────────────────────────────────────────────────

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_regexp_funcs" -> (qRegexpFuncs _),
    "q_hash_funcs" -> (qHashFuncs _),
    "q_string_advanced" -> (qStringAdvanced _),
    "q_bitwise_funcs" -> (qBitwiseFuncs _),
    "q_struct_funcs" -> (qStructFuncs _),
    "q_calendar_funcs" -> (qCalendarFuncs _),
    "q_map_funcs" -> (qMapFuncs _),
    "q_agg_collect" -> (qAggCollect _),
    "q_string_funcs" -> (qStringFuncs _),
    "q_date_funcs" -> (qDateFuncs _),
    "q_math_funcs" -> (qMathFuncs _),
    "q_null_normalize" -> (qNullNormalize _),
    "q_safe_cast" -> (qSafeCast _),
    "q_parse_bool" -> (qParseBool _),
    "q_parse_date_multi" -> (qParseDateMulti _),
    "q_parse_ts_multi" -> (qParseTsMulti _),
    "q_json_extract" -> (qJsonExtract _),
    "q_array_funcs" -> (qArrayFuncs _),
    "q_array_advanced" -> (qArrayAdvanced _)
  )

  def oracleSql: Map[String, String] = Map(
    "q_regexp_funcs" -> qRegexpFuncsOracle,
    "q_hash_funcs" -> qHashFuncsOracle,
    "q_string_advanced" -> qStringAdvancedOracle,
    "q_bitwise_funcs" -> qBitwiseFuncsOracle,
    "q_struct_funcs" -> qStructFuncsOracle,
    "q_calendar_funcs" -> qCalendarFuncsOracle,
    "q_map_funcs" -> qMapFuncsOracle,
    "q_agg_collect" -> qAggCollectOracle,
    "q_string_funcs" -> qStringFuncsOracle,
    "q_date_funcs" -> qDateFuncsOracle,
    "q_math_funcs" -> qMathFuncsOracle,
    "q_null_normalize" -> qNullNormalizeOracle,
    "q_safe_cast" -> qSafeCastOracle,
    "q_parse_bool" -> qParseBoolOracle,
    "q_parse_date_multi" -> qParseDateMultiOracle,
    "q_parse_ts_multi" -> qParseTsMultiOracle,
    "q_json_extract" -> qJsonExtractOracle,
    "q_array_funcs" -> qArrayFuncsOracle,
    "q_array_advanced" -> qArrayAdvancedOracle
  )
}
