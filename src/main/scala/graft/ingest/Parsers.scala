package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's scalar parser surface (§2.B) as Catalyst Column
  * builders — the distributed, codegen-friendly twins of the pure
  * functions in [[ScalarParse]]. All are try-semantics (bad input →
  * null, never error), matching /root/reference/src/analyse.rs and
  * independent of the session's ANSI setting.
  */
object Parsers {

  private val trueTokens = Seq("true", "1", "t", "y", "yes", "on")
  private val falseTokens = Seq("false", "0", "f", "n", "no", "off")

  /** Bool token table (utils.rs:59-65). Spark's cast(BooleanType) lacks
    * on/off, so an explicit when-chain is required. */
  def parseBool(c: Column): Column = {
    val t = lower(trim(c))
    when(t.isin(trueTokens: _*), lit(true))
      .when(t.isin(falseTokens: _*), lit(false))
      .otherwise(lit(null).cast(BooleanType))
  }

  def parseBoolSql(e: String): String =
    s"""(CASE WHEN lower(trim($e)) IN ('true','1','t','y','yes','on') THEN TRUE
       |  WHEN lower(trim($e)) IN ('false','0','f','n','no','off') THEN FALSE
       |  ELSE NULL END)""".stripMargin

  /** 3-format date parse; day-first priority (utils.rs:67-79:
    * %Y-%m-%d, then %d/%m/%Y, then %m/%d/%Y), as one fused expression
    * (graft.functions.DateYmdParse). */
  def parseDateYmd(c: Column): Column =
    graft.functions.DateYmdParse.parseDateYmd(trim(c))

  def parseDateYmdSql(e: String): String =
    s"""COALESCE(
       |  CAST(try_strptime(trim($e), '%Y-%m-%d') AS DATE),
       |  CAST(try_strptime(trim($e), '%d/%m/%Y') AS DATE),
       |  CAST(try_strptime(trim($e), '%m/%d/%Y') AS DATE))""".stripMargin

  /** parse_timestamp_ms (utils.rs:85-115) → epoch milliseconds: text
    * formats first, then epoch ranges, as one fused codegen'd expression
    * (graft.functions.TimestampMsParse); TimestampMsParseSpec pins it
    * against the built-in chain it replaced
    * (`RetiredCastChains.parseTimestampMsChain`). */
  def parseTimestampMs(c: Column): Column =
    graft.functions.TimestampMsParse.parseTsMs(trim(c))

  /** parse_timestamp_ms → TIMESTAMP_NTZ (µs storage loses nothing: the
    * reference itself truncates to ms — SURVEY §1.4). */
  def parseTimestamp(c: Column): Column =
    timestamp_millis(parseTimestampMs(c)).cast(TimestampNTZType)

  def parseTimestampMsSql(e: String): String = {
    val t = s"trim($e)"
    s"""COALESCE(
       |  CAST(epoch_ms(COALESCE(
       |    try_strptime($t, '%Y-%m-%d %H:%M:%S.%g'),
       |    try_strptime($t, '%Y-%m-%dT%H:%M:%S.%g'),
       |    try_strptime($t, '%Y-%m-%d %H:%M:%S'),
       |    try_strptime($t, '%Y-%m-%dT%H:%M:%S'),
       |    try_strptime($t, '%d/%m/%Y %H:%M:%S'),
       |    try_strptime($t, '%Y/%m/%d %H:%M:%S'))) AS BIGINT),
       |  (CASE WHEN NOT regexp_matches($t, '^[+-]?[0-9]+$$') THEN NULL
       |    WHEN TRY_CAST($t AS BIGINT) BETWEEN 1000000000 AND 3999999999 THEN TRY_CAST($t AS BIGINT) * 1000
       |    WHEN TRY_CAST($t AS BIGINT) BETWEEN 1000000000000 AND 3999999999999 THEN TRY_CAST($t AS BIGINT)
       |    WHEN TRY_CAST($t AS BIGINT) BETWEEN 1000000000000000 AND 3999999999999999 THEN TRY_CAST($t AS BIGINT) // 1000
       |    WHEN TRY_CAST($t AS BIGINT) >= 1000000000000000000 THEN TRY_CAST($t AS BIGINT) // 1000000
       |    ELSE NULL END))""".stripMargin
  }
}
