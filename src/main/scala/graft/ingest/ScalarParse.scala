package graft.ingest

import scala.util.Try

import graft.functions.CellParse
import graft.functions.CellParse.{DmyDateTime, IsoDateTime, YmdSlashDateTime}

/** The schema-inference side of the reference's parsers
  * (/root/reference/src/schema.rs:13-123 and the utils.rs:48-57 null
  * test): the votes `ColStats` counts per sampled value and
  * `TypeDecision` decides on, plus delimiter detection. The typed build
  * does not call these; its per-cell semantics are
  * [[graft.functions.CellParse]], whose bool and date kernels the votes
  * share. Two deliberate asymmetries between the votes and the build:
  *  - tz: RFC3339 and offset forms vote timestamp, but the timestamp
  *    kernel has no tz formats, so they convert to null (the
  *    reference's own asymmetry, kept);
  *  - trim: the votes trim with `String.trim` (every char ≤ U+0020),
  *    the build trims ASCII spaces only, so a column of "\t42" infers
  *    bigint and converts to null, each such cell counted as a parse
  *    failure.
  * They run driver-side on a bounded sample or inside a per-partition
  * stats fold, never per row of a conversion.
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
  // space/T variants with ±hh:mm or ±hhmm offsets (the tz asymmetry in
  // the object doc).
  private val TzDateTime =
    """^(\d{4})-(\d{1,2})-(\d{1,2})[ T](\d{1,2}):(\d{1,2}):(\d{1,2})(?:\.(\d{1,9}))?(Z|z|[+-]\d{2}:?\d{2})$""".r

  private def validCivil(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int): Boolean =
    CellParse.toEpochMs(y, mo, d, h, mi, s, "").isDefined

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
