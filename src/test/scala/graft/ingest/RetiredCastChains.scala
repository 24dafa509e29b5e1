package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Column-expression chains the fused cell kernels replaced, kept
  * verbatim as parity witnesses. Not used at runtime.
  *  - for graft.functions.CellParse (CellParseSpec): a regex syntax
  *    gate, a significant-digit gate and `try_cast`, behind the
  *    trim/lower null-token test;
  *  - for graft.functions.TimestampMsParse (TimestampMsParseSpec): the
  *    parse_timestamp_ms text and epoch-range chains.
  */
object RetiredCastChains {

  def isNullToken(c: Column): Column =
    c.isNull || trim(c) === "" || lower(trim(c)).isin(NullTokens.tokens: _*)

  private def gated(c: Column)(body: Column => Column): Column =
    when(isNullToken(c), lit(null)).otherwise(body(trim(c)))

  def toLong(c: Column): Column = gated(c) { t =>
    val sig = length(regexp_replace(t, "^[+-]?0*", ""))
    when(t.rlike("^[+-]?\\d{1,38}$") && sig <= 19, t.try_cast("bigint"))
      .otherwise(lit(null).cast(LongType))
  }

  def toUnsignedLong(c: Column): Column = gated(c) { t =>
    val sig = length(regexp_replace(t, "^[+]?0*", ""))
    val x = when(t.rlike("^[+]?\\d{1,38}$") && sig <= 19, t.try_cast("bigint"))
    when(x >= 0L, x).otherwise(lit(null).cast(LongType))
  }

  def toDouble(c: Column): Column = gated(c) { t =>
    val syntaxOk = t.rlike("^[+-]?([0-9.]+([eE][+-]?[0-9]+)?)$") ||
      lower(t).rlike("^[+-]?(inf|infinity|nan)$")
    val d = when(syntaxOk, t.try_cast("double"))
    when(isnan(d) || d === Double.PositiveInfinity || d === Double.NegativeInfinity,
      lit(null).cast(DoubleType)).otherwise(d)
  }

  /** Text-datetime part of parse_timestamp_ms (utils.rs:85-101) → epoch
    * milliseconds (long), sub-ms truncated like chrono→timestamp_millis.
    *
    * The ISO branch decomposes via regexp (base datetime + fraction
    * digits) instead of relying on format-string fraction flexibility:
    * exact, and still pure codegen'd expressions.
    */
  def parseTimestampMsText(c: Column): Column = {
    val t = trim(c)
    // 1-2 digit day/month/time fields, like chrono's unpadded parsing
    val isoRe = "^(\\d{4}-\\d{1,2}-\\d{1,2})[ T](\\d{1,2}:\\d{1,2}:\\d{1,2})(?:\\.(\\d{1,9}))?$"
    val base = try_to_timestamp(
      concat_ws(" ", regexp_extract(t, isoRe, 1), regexp_extract(t, isoRe, 2)),
      lit("yyyy-M-d H:m:s"))
    val fracDigits = regexp_extract(t, isoRe, 3)
    val fracMs = when(length(fracDigits) > 0,
      rpad(fracDigits, 3, "0").substr(1, 3).cast(LongType)).otherwise(lit(0L))
    val isoMs = when(t.rlike(isoRe), unix_millis(base) + fracMs)
    val dmy = unix_millis(try_to_timestamp(t, lit("d/M/yyyy H:m:s")))
    val ymdSlash = unix_millis(try_to_timestamp(t, lit("yyyy/M/d H:m:s")))
    coalesce(isoMs, dmy, ymdSlash)
  }

  /** Epoch-range part of parse_timestamp_ms (utils.rs:102-115):
    * s 1e9–4e9, ms 1e12–4e12, µs 1e15–4e15, ns ≥ 1e18 → epoch ms.
    * (Values beyond ±2^63 nanos parse as i128 in the reference but are
    * astronomically out of its accepted ranges' intent; try_cast(long)
    * suffices and is documented as the delta.) */
  def parseTimestampMsEpoch(c: Column): Column = {
    val t = trim(c)
    val x = when(t.rlike("^[+-]?\\d+$"), t.try_cast("bigint"))
    when(x >= 1000000000L && x < 4000000000L, x * 1000)
      .when(x >= 1000000000000L && x < 4000000000000L, x)
      .when(x >= 1000000000000000L && x < 4000000000000000L, (x / 1000).cast(LongType))
      .when(x >= 1000000000000000000L, (x / 1000000).cast(LongType))
      .otherwise(lit(null).cast(LongType))
  }

  /** Full parse_timestamp_ms: text formats first, then epoch ranges —
    * the built-in composition `Parsers.parseTimestampMs` (the fused
    * graft.functions.TimestampMsParse) replaced; TimestampMsParseSpec. */
  def parseTimestampMsChain(c: Column): Column =
    coalesce(parseTimestampMsText(c), parseTimestampMsEpoch(c))
}
