package graft.ingest

import java.time.LocalDate
import java.time.format.{DateTimeFormatter, ResolverStyle}
import scala.util.Try

/** Pure scalar parsing/classification functions used by schema inference.
  *
  * These mirror the reference's value-level semantics exactly
  * (/root/reference/src/utils.rs:48-118, src/schema.rs:13-123) so the
  * inference decision (TypeDecision) is bit-compatible with the reference.
  * They run driver-side on a bounded sample or inside a per-partition
  * stats fold — never per-row in the hot conversion path (that path uses
  * the codegen'd Column builders in [[Parsers]]/[[CastKernel]]).
  */
object ScalarParse {

  /** Null tokens: empty/whitespace-only, or case-insensitive
    * null/none/nan/n/a/na (utils.rs:48-57). */
  def isNullText(v: String): Boolean = {
    val t = v.trim
    t.isEmpty || (t.toLowerCase match {
      case "null" | "none" | "nan" | "n/a" | "na" => true
      case _ => false
    })
  }

  /** Boolean token table (utils.rs:59-65). */
  def parseBool(v: String): Option[Boolean] = v.trim.toLowerCase match {
    case "true" | "1" | "t" | "y" | "yes" | "on" => Some(true)
    case "false" | "0" | "f" | "n" | "no" | "off" => Some(false)
    case _ => None
  }

  // Strict numeric-date resolver: chrono's %Y-%m-%d rejects month 13 /
  // day 32, so must we. DateTimeFormatter default (SMART) would coerce.
  // Single-letter M/d accept 1-2 digits — chrono's numeric fields parse
  // unpadded values ('1/2/2020'), so ours must too.
  private val dateFormats: Seq[DateTimeFormatter] = Seq(
    "uuuu-M-d", "d/M/uuuu", "M/d/uuuu"
  ).map(p => DateTimeFormatter.ofPattern(p).withResolverStyle(ResolverStyle.STRICT))

  /** 3-format date parse, day-first beats month-first (utils.rs:67-79).
    * Returns days since 1970-01-01. */
  def parseDateYmd(v: String): Option[Int] = {
    val t = v.trim
    if (!dateShaped(t)) None
    else dateFormats.view
      .flatMap(f => Try(LocalDate.parse(t, f)).toOption)
      .headOption
      .flatMap(d => Try(Math.toIntExact(d.toEpochDay)).toOption)
  }

  /** Every text the three date patterns accept holds two '-' or two '/'
    * separators. Testing that first spares every other text the three
    * formatters' throw-and-catch: the inference sample probes every cell
    * of every column for a date. */
  private[ingest] def dateShaped(t: String): Boolean =
    t.count(_ == '-') >= 2 || t.count(_ == '/') >= 2

  def isDateText(v: String): Boolean = parseDateYmd(v).isDefined

  // Datetime text: "yyyy-MM-dd HH:mm:ss" or "...T..." with optional
  // 1-9 digit fraction, plus "dd/MM/yyyy HH:mm:ss" and
  // "yyyy/MM/dd HH:mm:ss" (utils.rs:81-103).
  // day/month/time fields accept 1-2 digits (chrono parses unpadded
  // '2020-1-2 3:4:5'); the year stays 4-digit, offsets stay padded
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
        else frac.padTo(3, '0').take(3).toLong // truncate to ms like chrono→timestamp_millis
      date.toEpochDay * 86400000L + h * 3600000L + mi * 60000L + s * 1000L + ms
    }.toOption

  /** Everything parsed at ms precision (utils.rs:81-118): 6 datetime
    * formats, then epoch-range heuristics (s 1e9–4e9, ms 1e12–4e12,
    * µs 1e15–4e15, ns ≥ 1e18; ≈2001–2096). */
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
    viaText.orElse {
      Option.when(isBigIntegerText(t))(BigInt(t)).flatMap { x =>
        if (x >= 1000000000L && x < 4000000000L) Some(x.toLong * 1000)
        else if (x >= 1000000000000L && x < 4000000000000L) Some(x.toLong)
        else if (x >= 1000000000000000L && x < 4000000000000000L) Some((x / 1000).toLong)
        else if (x >= BigInt("1000000000000000000")) Some((x / 1000000).toLong)
        else None
      }
    }
  }

  /** Exactly the texts `new BigInteger(t)` accepts: an optional leading
    * sign, then one or more chars with a decimal `Character.digit`
    * (Unicode digits included) — tested without the exception. */
  private[ingest] def isBigIntegerText(t: String): Boolean = {
    val body = if (t.startsWith("+") || t.startsWith("-")) 1 else 0
    t.length > body && (body until t.length).forall(i => Character.digit(t.charAt(i), 10) >= 0)
  }

  /** Codegen-friendly variant of [[parseDateYmd]]: Int.MinValue is the
    * null sentinel (epoch-day range is ±~11.8M days — unreachable). */
  def parseDateYmdOrMin(v: String): Int =
    parseDateYmd(v).getOrElse(Int.MinValue)

  /** Codegen-friendly variant of [[parseTimestampMs]]: Long.MinValue is
    * the null sentinel (unreachable as a real epoch-ms — the text
    * formats bottom out around year 0 and the epoch ranges are ≥ 1e12).
    * Called from generated Java code (see TimestampMsParse). */
  def parseTimestampMsOrMin(v: String): Long =
    parseTimestampMs(v).getOrElse(Long.MinValue)

  /** Timestamp units, ordered as the reference's TimeUnit. */
  sealed trait TsUnit
  case object TsSecond extends TsUnit
  case object TsMilli extends TsUnit
  case object TsMicro extends TsUnit
  case object TsNano extends TsUnit

  private def unitFromPrecision(p: Int): TsUnit =
    if (p >= 9) TsNano else if (p >= 6) TsMicro else if (p >= 3) TsMilli else TsSecond

  /** Count of fractional digits after the first '.' (schema.rs:20-37). */
  def fractionalPrecision(v: String): Option[Int] = {
    val t = v.trim
    val i = t.indexOf('.')
    if (i < 0) None
    else {
      val n = t.drop(i + 1).takeWhile(_.isDigit).length
      if (n == 0) None else Some(n)
    }
  }

  // Inference-time tz-bearing formats (schema.rs:57-66): RFC3339 plus
  // space/T variants with ±hh:mm or ±hhmm offsets. These values infer as
  // timestamp but CONVERT to null (parseTimestampMs has no tz formats) —
  // the reference's observable asymmetry, kept deliberately.
  private val TzDateTime =
    """^(\d{4})-(\d{1,2})-(\d{1,2})[ T](\d{1,2}):(\d{1,2}):(\d{1,2})(?:\.(\d{1,9}))?(Z|z|[+-]\d{2}:?\d{2})$""".r

  private def validCivil(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int): Boolean =
    Try { LocalDate.of(y, mo, d); require(h < 24 && mi < 60 && s < 60) }.isSuccess

  /** Datetime-with-unit detection at inference time (schema.rs:51-97). */
  def detectUnitDatetimeText(v: String): Option[TsUnit] = {
    val t = v.trim
    val ok = t match {
      case TzDateTime(y, mo, d, h, mi, s, _, _) =>
        validCivil(y.toInt, mo.toInt, d.toInt, h.toInt, mi.toInt, s.toInt)
      case IsoDateTime(y, mo, d, h, mi, s, _) =>
        validCivil(y.toInt, mo.toInt, d.toInt, h.toInt, mi.toInt, s.toInt)
      case DmyDateTime(d, mo, y, h, mi, s) =>
        validCivil(y.toInt, mo.toInt, d.toInt, h.toInt, mi.toInt, s.toInt)
      case YmdSlashDateTime(y, mo, d, h, mi, s) =>
        validCivil(y.toInt, mo.toInt, d.toInt, h.toInt, mi.toInt, s.toInt)
      case _ => false
    }
    if (ok) Some(unitFromPrecision(fractionalPrecision(t).getOrElse(3)))
    else None
  }

  /** Epoch magnitude → unit (schema.rs:99-123): |x| < 1e11 s,
    * < 1e14 ms, < 1e17 µs, else ns. Digits/sign only. */
  def detectUnitEpoch(v: String): Option[TsUnit] = {
    val t = v.trim
    if (t.isEmpty || !t.forall(c => c.isDigit || c == '+' || c == '-')) None
    else Try(BigInt(t)).toOption.map { x =>
      val a = x.abs
      if (a < BigInt("100000000000")) TsSecond
      else if (a < BigInt("100000000000000")) TsMilli
      else if (a < BigInt("100000000000000000")) TsMicro
      else TsNano
    }
  }

  /** Combined timestamp-unit detector (schema.rs:125-127). Note the
    * inference gate (len ≥ 8 and contains -/:/T) lives in ColStats. */
  def detectUnitTimestamp(v: String): Option[TsUnit] =
    detectUnitDatetimeText(v).orElse(detectUnitEpoch(v))

  /** Rust f64 parse compatibility: accepts inf/infinity/nan (any case),
    * standard decimal/exponent forms; rejects hex, underscores, "1.".ok?
    * Rust accepts "1." and ".5" and "+1"; Java parseDouble accepts those
    * plus trailing 'd'/'f' suffixes and hex — reject the extras. */
  def parseF64(v: String): Option[Double] = {
    val t = v.trim
    if (t.isEmpty) None
    else {
      val l = t.toLowerCase
      val body = if (l.startsWith("+") || l.startsWith("-")) l.drop(1) else l
      val special = body == "inf" || body == "infinity" || body == "nan"
      val normal = body.nonEmpty && body.forall(c => c.isDigit || c == '.' || c == 'e' || c == '+' || c == '-')
      if (special) Some(if (body == "nan") Double.NaN
                        else if (l.startsWith("-")) Double.NegativeInfinity
                        else Double.PositiveInfinity)
      else if (normal) Try(java.lang.Double.parseDouble(t)).toOption
      else None
    }
  }

  /** Rust i128 parse: optional sign + digits only. */
  def parseI128(v: String): Option[BigInt] = {
    val t = v.trim
    val body = if (t.startsWith("+") || t.startsWith("-")) t.drop(1) else t
    if (body.nonEmpty && body.forall(_.isDigit)) Try(BigInt(t)).toOption else None
  }

  /** Delimiter detection (utils.rs:120-137): count candidates in the
    * FIRST line only; ties resolve to the LATER candidate (Rust
    * max_by_key keeps the last max). Empty line → space. */
  def detectDelimiter(firstLine: String): Char = {
    val candidates = Seq(',', ';', '\t', '|', ':', ' ')
    // Rust max_by_key keeps the LAST max on ties; Scala maxBy keeps the
    // first — traverse reversed so ties resolve toward later candidates
    // (empty line degenerates to ' ').
    candidates.reverse.map(c => (c, firstLine.count(_ == c))).maxBy(_._2)._1
  }
}
