package graft.ingest

import java.time.LocalDate
import java.time.format.{DateTimeFormatter, ResolverStyle}

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The implementations the fused cell kernels of graft.functions.CellParse
  * replaced, kept verbatim as parity witnesses (CellParseSpec,
  * TimestampMsParseSpec). Not used at runtime.
  *  - the i64/u64/u64-decimal/f64 Column chains: a regex syntax gate, a
  *    significant-digit gate and `try_cast`, behind the trim/lower
  *    null-token test;
  *  - the bool token chain (`lower(trim(c))` against the two tables);
  *  - the String date and timestamp parsers as they were before their
  *    bodies moved into CellParse, `String.trim` included, and the
  *    typed-build arms built on them;
  *  - the built-in parse_timestamp_ms text and epoch-range chains.
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

  def toUnsignedDecimal(c: Column): Column = gated(c) { t =>
    val sig = length(regexp_replace(t, "^[+]?0*", ""))
    val x = when(t.rlike("^[+]?\\d+$") && sig <= 20, t.try_cast("decimal(20,0)"))
    when(x >= 0 && x <= lit("18446744073709551615").cast(DecimalType(20, 0)), x)
      .otherwise(lit(null).cast(DecimalType(20, 0)))
  }

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

  private val dateFormats: Seq[DateTimeFormatter] = Seq(
    "uuuu-M-d", "d/M/uuuu", "M/d/uuuu"
  ).map(p => DateTimeFormatter.ofPattern(p).withResolverStyle(ResolverStyle.STRICT))

  /** 3-format date parse, day-first beats month-first (utils.rs:67-79).
    * Returns days since 1970-01-01. */
  def parseDateYmd(v: String): Option[Int] = {
    val t = v.trim
    if (!(t.count(_ == '-') >= 2 || t.count(_ == '/') >= 2)) None
    else dateFormats.view
      .flatMap(f => Try(LocalDate.parse(t, f)).toOption)
      .headOption
      .flatMap(d => Try(Math.toIntExact(d.toEpochDay)).toOption)
  }

  private val IsoDateTime =
    """^(\d{4})-(\d{1,2})-(\d{1,2})[ T](\d{1,2}):(\d{1,2}):(\d{1,2})(?:\.(\d{1,9}))?$""".r
  private val DmyDateTime =
    """^(\d{1,2})/(\d{1,2})/(\d{4}) (\d{1,2}):(\d{1,2}):(\d{1,2})$""".r
  private val YmdSlashDateTime =
    """^(\d{4})/(\d{1,2})/(\d{1,2}) (\d{1,2}):(\d{1,2}):(\d{1,2})$""".r

  private def toEpochMs(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int,
                        frac: String): Option[Long] =
    Try {
      val date = LocalDate.of(y, mo, d)
      require(h < 24 && mi < 60 && s < 60)
      val ms =
        if (frac == null || frac.isEmpty) 0L
        else frac.padTo(3, '0').take(3).toLong
      date.toEpochDay * 86400000L + h * 3600000L + mi * 60000L + s * 1000L + ms
    }.toOption

  /** Everything parsed at ms precision (utils.rs:81-118): 6 datetime
    * formats, then epoch-range heuristics. */
  def parseTimestampMs(v: String): Option[Long] = {
    val t = v.trim
    if (t.isEmpty) return None
    val viaText = t match {
      case IsoDateTime(y, mo, d, h, mi, s, f) =>
        toEpochMs(y.toInt, mo.toInt, d.toInt, h.toInt, mi.toInt, s.toInt, f)
      case DmyDateTime(d, mo, y, h, mi, s) =>
        toEpochMs(y.toInt, mo.toInt, d.toInt, h.toInt, mi.toInt, s.toInt, "")
      case YmdSlashDateTime(y, mo, d, h, mi, s) =>
        toEpochMs(y.toInt, mo.toInt, d.toInt, h.toInt, mi.toInt, s.toInt, "")
      case _ => None
    }
    val body = if (t.startsWith("+") || t.startsWith("-")) 1 else 0
    val bigIntegerText = t.length > body &&
      (body until t.length).forall(i => Character.digit(t.charAt(i), 10) >= 0)
    viaText.orElse {
      Option.when(bigIntegerText)(BigInt(t)).flatMap { x =>
        if (x >= 1000000000L && x < 4000000000L) Some(x.toLong * 1000)
        else if (x >= 1000000000000L && x < 4000000000000L) Some(x.toLong)
        else if (x >= 1000000000000000L && x < 4000000000000000L) Some((x / 1000).toLong)
        // an ms value that overflows a long is no timestamp, as in the
        // fused kernel (it used to wrap here too)
        else if (x >= BigInt("1000000000000000000"))
          Some(x / 1000000).filter(_.isValidLong).map(_.toLong)
        else None
      }
    }
  }

  private val dateYmdUdf = udf((v: String) => Option(v).flatMap(parseDateYmd))
  private val timestampMsUdf = udf((v: String) => Option(v).flatMap(parseTimestampMs))

  /** `graft_parse_date_ymd`: the String parser on the raw cell. */
  def dateYmd(c: Column): Column = date_from_unix_date(dateYmdUdf(c))

  /** `graft_parse_ts_ms`: the String parser on the raw cell. */
  def timestampMs(c: Column): Column = timestampMsUdf(c)

  /** The typed build's date arm: the String parser behind the gate. */
  def toDate(c: Column): Column = gated(c)(t => dateYmd(trim(t)))

  /** The typed build's timestamp arm: ms, truncated toward zero for the
    * s unit, then TIMESTAMP_NTZ. An ms value whose µs overflow a long
    * made `timestamp_millis` throw; it is null here, as in the kernel. */
  def toTimestamp(c: Column, seconds: Boolean): Column = gated(c) { t =>
    val ms = timestampMs(trim(t))
    val unitMs = if (seconds) ms - (ms % lit(1000L)) else ms
    when(unitMs.between(Long.MinValue / 1000, Long.MaxValue / 1000),
      timestamp_millis(unitMs).cast(TimestampNTZType))
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
    * the built-in composition the fused timestamp kernel replaced;
    * TimestampMsParseSpec. */
  def parseTimestampMsChain(c: Column): Column =
    coalesce(parseTimestampMsText(c), parseTimestampMsEpoch(c))
}
