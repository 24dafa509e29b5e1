package graft.functions

import java.time.LocalDate
import java.time.format.{DateTimeFormatter, ResolverStyle}

import scala.util.Try

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, DateType, Decimal, DecimalType, DoubleType, LongType, StringType, TimestampNTZType}
import org.apache.spark.unsafe.types.UTF8String

/** The typed build's per-cell semantics, in one place: the reference
  * null-token test (utils.rs:48-57) and the bool, i64/u64, u64-decimal,
  * f64, date and timestamp cast kernels (analyse.rs:108-313). Every
  * typed build calls these — `CastKernel` through the [[StringCell]]
  * expressions below, the `format("graft")` reader through the static
  * methods, SQL through `graft_parse_ts_ms`/`graft_parse_date_ymd` —
  * and inference (`ColStats`) calls the bool and date kernels on text
  * it has already trimmed.
  *
  * One trim rule: ASCII spaces (0x20) only, as Spark's and DuckDB's
  * `trim`; a tab or CR around a value makes it invalid ([[trimStart]],
  * [[trimEnd]]). Every typed kernel is null on a null token by itself.
  *
  * The numeric kernels read the `UTF8String` bytes once — trim, syntax
  * gate, significant-digit range check and parse together — with no
  * `toString`, no regex and no exception. Their accepted syntax is
  * exactly the retired Column chains' (regex gate + `try_cast`, kept in
  * `src/test` as the parity witness), quirks included: the gates' `$`
  * also matches before ONE final line terminator; `\n`, `\r` and `\r\n`
  * there are then dropped by the cast's own whitespace trim, while
  * U+0085, U+2028 and U+2029 make the cast fail; and the terminator
  * counts as a significant "digit" in the 19- and 20-digit gates. The
  * date and timestamp kernels parse the trimmed text with
  * `java.time`/regex. Called from generated code, so everything here is
  * a plain static method, and a kernel that returns a primitive marks
  * null with a sentinel.
  */
object CellParse {

  private def ascii(t: String): Array[Byte] = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private val tokens: Array[Array[Byte]] = graft.ingest.NullTokens.tokens.map(ascii).toArray

  // the bool token table (utils.rs:59-65)
  private val falseTokens: Array[Array[Byte]] = Array("false", "0", "f", "n", "no", "off").map(ascii)
  private val trueTokens: Array[Array[Byte]] = Array("true", "1", "t", "y", "yes", "on").map(ascii)

  /** Start of `s` after leading ASCII spaces: the one trim rule. */
  private def trimStart(s: UTF8String): Int = {
    var a = 0
    while (a < s.numBytes && s.getByte(a) == ' ') a += 1
    a
  }

  /** End of `s` before trailing ASCII spaces; `a` is [[trimStart]]. */
  private def trimEnd(s: UTF8String, a: Int): Int = {
    var b = s.numBytes
    while (b > a && s.getByte(b - 1) == ' ') b -= 1
    b
  }

  /** `s` after the trim, as a `String` for the `java.time` and regex
    * parsers (a space is one byte and one char, so byte and char
    * offsets agree at both ends). */
  private def trimmed(s: UTF8String): String = {
    val a = trimStart(s)
    val cut = s.numBytes - trimEnd(s, a)
    val t = s.toString
    t.substring(a, t.length - cut)
  }

  /** Whether one of `toks` equals `s`'s trimmed bytes case-insensitively.
    * No non-ASCII character lower-cases to a token letter, so an
    * ASCII-only comparison equals the `lower(trim(c)) IN (...)` it
    * replaces. */
  private def isToken(s: UTF8String, toks: Array[Array[Byte]]): Boolean = {
    val a = trimStart(s)
    val len = trimEnd(s, a) - a
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (tok.length == len) {
        var i = 0
        while (i < len && lowerAscii(s.getByte(a + i)) == tok(i)) i += 1
        if (i == len) return true
      }
      t += 1
    }
    false
  }

  /** Blank, or a null token case-insensitively after the trim. */
  def isNullToken(s: UTF8String): Boolean =
    trimStart(s) == s.numBytes || isToken(s, tokens)

  /** Bool kernel (analyse.rs:114-126): 1 for a true token, 0 for a false
    * token, -1 (null) for anything else, null tokens included. */
  def parseBool(s: UTF8String): Int =
    if (isToken(s, trueTokens)) 1 else if (isToken(s, falseTokens)) 0 else -1

  private def lowerAscii(b: Byte): Int = if (b >= 'A' && b <= 'Z') b + 32 else b

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** The tail the gates' `$` lets through after the body at `i`, up to
    * the trimmed end `b`: 0 = nothing, 1 or 2 = a `\n`/`\r`/`\r\n` of
    * that many characters, -1 = anything else, which makes the retired
    * chain null (a mismatch, or a terminator the cast rejects). */
  private def tail(s: UTF8String, i: Int, b: Int): Int = b - i match {
    case 0 => 0
    case 1 if s.getByte(i) == '\n' || s.getByte(i) == '\r' => 1
    case 2 if s.getByte(i) == '\r' && s.getByte(i + 1) == '\n' => 2
    case _ => -1
  }

  /** i64 kernel (`unsigned`: the u64-as-i64 kernel, no '-' sign): sign,
    * 1–38 ASCII digits, at most 19 of them significant; sets `out` and
    * returns true, or returns false for null. A null token never passes
    * the digit gate, so it needs no test of its own. */
  def parseLong(s: UTF8String, unsigned: Boolean, out: UTF8String.LongWrapper): Boolean = {
    var i = trimStart(s)
    if (i == s.numBytes) return false
    val b = trimEnd(s, i)
    val c0 = s.getByte(i)
    val neg = c0 == '-'
    if (c0 == '+' || (neg && !unsigned)) i += 1
    val d0 = i
    while (i < b && isDigit(s.getByte(i))) i += 1
    val digits = i - d0
    val end = tail(s, i, b)
    if (digits == 0 || digits > 38 || end < 0) return false
    var j = d0
    while (j < i && s.getByte(j) == '0') j += 1
    if (i - j + end > 19) return false
    // accumulate negatively so Long.MinValue parses without overflow
    var r = 0L
    while (j < i) {
      val d = s.getByte(j) - '0'
      if (r < Long.MinValue / 10) return false
      r *= 10
      if (r < Long.MinValue + d) return false
      r -= d
      j += 1
    }
    if (neg) out.value = r
    else if (r == Long.MinValue) return false
    else out.value = -r
    true
  }

  private val U64MaxDiv10 = java.lang.Long.divideUnsigned(-1L, 10L)

  /** u64 kernel for DecimalType(20,0), the type that holds all of u64:
    * '+' sign, ASCII digits, at most 20 of them significant, then the
    * u64 range check; the value, or null. */
  def parseU64Decimal(s: UTF8String): Decimal = {
    var i = trimStart(s)
    if (i == s.numBytes) return null
    val b = trimEnd(s, i)
    if (s.getByte(i) == '+') i += 1
    val d0 = i
    while (i < b && isDigit(s.getByte(i))) i += 1
    val end = tail(s, i, b)
    if (i == d0 || end < 0) return null
    var j = d0
    while (j < i && s.getByte(j) == '0') j += 1
    if (i - j + end > 20) return null
    var r = 0L // unsigned
    while (j < i) {
      val d = s.getByte(j) - '0'
      if (java.lang.Long.compareUnsigned(r, U64MaxDiv10) > 0 || (r == U64MaxDiv10 && d > 5))
        return null
      r = r * 10 + d
      j += 1
    }
    if (r >= 0) Decimal(r, 20, 0)
    else Decimal(new java.math.BigDecimal(java.lang.Long.toUnsignedString(r)), 20, 0)
  }

  // 10^0 .. 10^22: every one exact as a double
  private val pow10: Array[Double] = Array.tabulate(23)(k => s"1e$k".toDouble)

  /** f64 kernel: sign, digits with at most one '.', optional exponent;
    * finite result or NaN for null (inf, NaN and every other text are
    * null in the reference's f64 cast, so NaN is a free null sentinel).
    * A significand below 2^53 with a decimal exponent within ±22 is one
    * exact multiply or divide, so it rounds exactly as
    * `Double.parseDouble` does (Clinger's fast path); anything longer
    * goes to `Double.parseDouble` on the already-validated ASCII. */
  def parseDouble(s: UTF8String): Double = {
    val a = trimStart(s)
    if (a == s.numBytes) return Double.NaN
    val b = trimEnd(s, a)
    var i = a
    val neg = s.getByte(i) == '-'
    if (neg || s.getByte(i) == '+') i += 1
    var sig = 0L // significand, leading zeros skipped
    var sigDigits = 0
    var digits = 0
    var dots = 0
    var fracDigits = 0
    var c: Byte = 0
    while (i < b && { c = s.getByte(i); isDigit(c) || c == '.' }) {
      if (c == '.') dots += 1
      else {
        digits += 1
        if (dots > 0) fracDigits += 1
        if (sigDigits > 0 || c != '0') {
          sigDigits += 1
          if (sigDigits <= 18) sig = sig * 10 + (c - '0')
        }
      }
      i += 1
    }
    if (digits == 0 || dots > 1) return Double.NaN
    var exp = 0
    var expDigits = 0
    if (i < b && (c == 'e' || c == 'E')) {
      i += 1
      val expNeg = i < b && s.getByte(i) == '-'
      if (i < b && (expNeg || s.getByte(i) == '+')) i += 1
      val e0 = i
      while (i < b && isDigit(s.getByte(i))) {
        if (i - e0 < 9) exp = exp * 10 + (s.getByte(i) - '0')
        i += 1
      }
      expDigits = i - e0
      if (expDigits == 0) return Double.NaN
      if (expNeg) exp = -exp
    }
    val bodyEnd = i
    if (tail(s, i, b) < 0) return Double.NaN
    val scale = exp - fracDigits
    val v =
      if (sigDigits == 0) 0.0
      else if (sigDigits <= 18 && expDigits <= 9 && sig < (1L << 53) && scale >= -22 && scale <= 22)
        if (scale >= 0) sig * pow10(scale) else sig / pow10(-scale)
      else {
        val bytes = new Array[Byte](bodyEnd - a)
        var k = 0
        while (k < bytes.length) { bytes(k) = s.getByte(a + k); k += 1 }
        val parsed = java.lang.Double.parseDouble(new String(bytes, java.nio.charset.StandardCharsets.US_ASCII))
        return if (parsed.isInfinite) Double.NaN else parsed
      }
    if (neg) -v else v
  }

  /** Null sentinel of [[parseDateYmd]]: epoch days stay within ±~11.8M. */
  final val NoDate = Int.MinValue

  /** Null sentinel of the timestamp kernels: the text formats bottom out
    * around year 0, the epoch ranges start at 1e12 ms, and no µs value
    * scaled from ms can be it. */
  final val NoTimestamp = Long.MinValue

  // Strict numeric-date resolver: chrono's %Y-%m-%d rejects month 13 /
  // day 32, so must we. DateTimeFormatter default (SMART) would coerce.
  // Single-letter M/d accept 1-2 digits — chrono's numeric fields parse
  // unpadded values ('1/2/2020'), so ours must too.
  private val dateFormats: Seq[DateTimeFormatter] = Seq(
    "uuuu-M-d", "d/M/uuuu", "M/d/uuuu"
  ).map(p => DateTimeFormatter.ofPattern(p).withResolverStyle(ResolverStyle.STRICT))

  /** Every text the three date patterns accept holds two '-' or two '/'
    * separators. Testing that first spares every other text the three
    * formatters' throw-and-catch: the inference sample probes every cell
    * of every column for a date. */
  private[graft] def dateShaped(t: String): Boolean =
    t.count(_ == '-') >= 2 || t.count(_ == '/') >= 2

  /** Date kernel (utils.rs:67-79): %Y-%m-%d, then day-first %d/%m/%Y,
    * then %m/%d/%Y, strict calendar; days since 1970-01-01, or
    * [[NoDate]]. */
  def parseDateYmd(s: UTF8String): Int = {
    val t = trimmed(s)
    if (!dateShaped(t)) NoDate
    else dateFormats.view
      .flatMap(f => Try(LocalDate.parse(t, f)).toOption)
      .headOption
      .flatMap(d => Try(Math.toIntExact(d.toEpochDay)).toOption)
      .getOrElse(NoDate)
  }

  // Datetime text: "yyyy-MM-dd HH:mm:ss" or "...T..." with optional
  // 1-9 digit fraction, plus "dd/MM/yyyy HH:mm:ss" and
  // "yyyy/MM/dd HH:mm:ss" (utils.rs:81-103).
  // day/month/time fields accept 1-2 digits (chrono parses unpadded
  // '2020-1-2 3:4:5'); the year stays 4-digit, offsets stay padded
  private[graft] val IsoDateTime =
    """^(\d{4})-(\d{1,2})-(\d{1,2})[ T](\d{1,2}):(\d{1,2}):(\d{1,2})(?:\.(\d{1,9}))?$""".r
  private[graft] val DmyDateTime =
    """^(\d{1,2})/(\d{1,2})/(\d{4}) (\d{1,2}):(\d{1,2}):(\d{1,2})$""".r
  private[graft] val YmdSlashDateTime =
    """^(\d{4})/(\d{1,2})/(\d{1,2}) (\d{1,2}):(\d{1,2}):(\d{1,2})$""".r

  private[graft] def toEpochMs(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int,
                               frac: String): Option[Long] =
    Try {
      val date = LocalDate.of(y, mo, d)
      require(h < 24 && mi < 60 && s < 60)
      val ms =
        if (frac == null || frac.isEmpty) 0L
        else frac.padTo(3, '0').take(3).toLong // truncate to ms like chrono→timestamp_millis
      date.toEpochDay * 86400000L + h * 3600000L + mi * 60000L + s * 1000L + ms
    }.toOption

  /** Timestamp kernel (utils.rs:81-118), everything at ms precision: 6
    * datetime formats, then epoch-range heuristics (s 1e9–4e9, ms
    * 1e12–4e12, µs 1e15–4e15, ns ≥ 1e18; ≈2001–2096); epoch ms, or
    * [[NoTimestamp]]. */
  def parseTimestampMs(s: UTF8String): Long = {
    val t = trimmed(s)
    if (t.isEmpty) return NoTimestamp
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
        else if (x >= BigInt("1000000000000000000"))
          Some(x / 1000000).filter(_.isValidLong).map(_.toLong)
        else None
      }
    }.getOrElse(NoTimestamp)
  }

  /** The typed build's timestamp: [[parseTimestampMs]] truncated to the
    * column's unit, as TIMESTAMP_NTZ microseconds; [[NoTimestamp]] for
    * null and for an ms value whose µs overflow a long. ms/µs/ns units
    * all carry exactly ms precision (§1.4). `seconds` truncates toward
    * zero, matching the reference EXACTLY: analyse.rs s-unit scaling is
    * Rust `ms / 1_000` on the chrono i64, so pre-1970 fractional seconds
    * round UP ("1969-12-31 23:59:59.5" → 1970-01-01T00:00:00); Java's
    * `%` has the dividend's sign, so `ms - ms % 1000` does the same. */
  def parseTimestampMicros(s: UTF8String, seconds: Boolean): Long = {
    val ms = parseTimestampMs(s)
    val unitMs = if (seconds) ms - ms % 1000 else ms
    if (ms == NoTimestamp || unitMs > Long.MaxValue / 1000 || unitMs < Long.MinValue / 1000)
      NoTimestamp
    else unitMs * 1000
  }

  /** Exactly the texts `new BigInteger(t)` accepts: an optional leading
    * sign, then one or more chars with a decimal `Character.digit`
    * (Unicode digits included) — tested without the exception. */
  private[graft] def isBigIntegerText(t: String): Boolean = {
    val body = if (t.startsWith("+") || t.startsWith("-")) 1 else 0
    t.length > body && (body until t.length).forall(i => Character.digit(t.charAt(i), 10) >= 0)
  }
}

/** A cell kernel reads one raw STRING cell. */
sealed trait StringCell extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${child.dataType.catalogString}")
}

/** The null-token test ([[CellParse.isNullToken]]); never null, since a
  * null cell is a null token. */
case class IsNullToken(child: Expression) extends StringCell {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_is_null_token"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    v == null || CellParse.isNullToken(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.value} = ${c.isNull} ||
      |  graft.functions.CellParse.isNullToken(${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IsNullToken =
    copy(child = newChild)
}

/** The i64 and u64 cast kernels ([[CellParse.parseLong]]). */
case class CellLong(child: Expression, unsigned: Boolean) extends StringCell {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = if (unsigned) "graft_cell_ulong" else "graft_cell_long"

  override def nullSafeEval(input: Any): Any = {
    val out = new UTF8String.LongWrapper
    if (CellParse.parseLong(input.asInstanceOf[UTF8String], unsigned, out)) out.value
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wrapperClass = classOf[UTF8String.LongWrapper].getCanonicalName
    val out = ctx.addMutableState(wrapperClass, "cellLong", v => s"$v = new $wrapperClass();")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if (graft.functions.CellParse.parseLong($c, $unsigned, $out)) {
         |  ${ev.value} = $out.value;
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CellLong =
    copy(child = newChild)
}

/** A kernel with a primitive (or object) result, one value of which
  * marks null: `call` is its static call in Java, returning
  * `javaType`, `isNull` the test of the result `p` for the sentinel,
  * `value` the column value of `p`. (A trait: a Java-serializable
  * expression's non-serializable superclasses need no-arg constructors.) */
sealed trait SentinelCell extends StringCell {
  override def nullable: Boolean = true
  protected def javaType: String
  protected def call(c: String): String
  protected def isNull(p: String): String
  protected def value(p: String): String = p

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val p = ctx.freshName("parsed")
      s"""
         |$javaType $p = graft.functions.CellParse.${call(c)};
         |if (${isNull(p)}) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${value(p)};
         |}
       """.stripMargin
    })
}

/** The bool cast kernel ([[CellParse.parseBool]]). */
case class CellBool(child: Expression) extends SentinelCell {
  override protected def javaType: String = "int"
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_cell_bool"
  override protected def call(c: String): String = s"parseBool($c)"
  override protected def isNull(p: String): String = s"$p < 0"
  override protected def value(p: String): String = s"$p == 1"

  override def nullSafeEval(input: Any): Any = CellParse.parseBool(input.asInstanceOf[UTF8String]) match {
    case -1 => null
    case b => b == 1
  }

  override protected def withNewChildInternal(newChild: Expression): CellBool =
    copy(child = newChild)
}

/** The u64 → DecimalType(20,0) cast kernel ([[CellParse.parseU64Decimal]]). */
case class CellU64Decimal(child: Expression) extends SentinelCell {
  override protected def javaType: String = classOf[Decimal].getCanonicalName
  override def dataType: DataType = DecimalType(20, 0)
  override def prettyName: String = "graft_cell_u64_decimal"
  override protected def call(c: String): String = s"parseU64Decimal($c)"
  override protected def isNull(p: String): String = s"$p == null"

  override def nullSafeEval(input: Any): Any =
    CellParse.parseU64Decimal(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): CellU64Decimal =
    copy(child = newChild)
}

/** The f64 cast kernel ([[CellParse.parseDouble]]); NaN from the parse
  * is the null. */
case class CellDouble(child: Expression) extends SentinelCell {
  override protected def javaType: String = "double"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cell_double"
  override protected def call(c: String): String = s"parseDouble($c)"
  override protected def isNull(p: String): String = s"Double.isNaN($p)"

  override def nullSafeEval(input: Any): Any = {
    val d = CellParse.parseDouble(input.asInstanceOf[UTF8String])
    if (d.isNaN) null else d
  }

  override protected def withNewChildInternal(newChild: Expression): CellDouble =
    copy(child = newChild)
}

/** The date cast kernel ([[CellParse.parseDateYmd]]); DateType is epoch
  * days, so the kernel's int is the value. SQL: `graft_parse_date_ymd`. */
case class CellDate(child: Expression) extends SentinelCell {
  override protected def javaType: String = "int"
  override def dataType: DataType = DateType
  override def prettyName: String = "graft_parse_date_ymd"
  override protected def call(c: String): String = s"parseDateYmd($c)"
  override protected def isNull(p: String): String = s"$p == Integer.MIN_VALUE"

  override def nullSafeEval(input: Any): Any = {
    val d = CellParse.parseDateYmd(input.asInstanceOf[UTF8String])
    if (d == CellParse.NoDate) null else d
  }

  override protected def withNewChildInternal(newChild: Expression): CellDate =
    copy(child = newChild)
}

/** The timestamp kernel's epoch milliseconds as a long
  * ([[CellParse.parseTimestampMs]]). SQL: `graft_parse_ts_ms`. */
case class CellEpochMs(child: Expression) extends SentinelCell {
  override protected def javaType: String = "long"
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_parse_ts_ms"
  override protected def call(c: String): String = s"parseTimestampMs($c)"
  override protected def isNull(p: String): String = s"$p == Long.MIN_VALUE"

  override def nullSafeEval(input: Any): Any = {
    val ms = CellParse.parseTimestampMs(input.asInstanceOf[UTF8String])
    if (ms == CellParse.NoTimestamp) null else ms
  }

  override protected def withNewChildInternal(newChild: Expression): CellEpochMs =
    copy(child = newChild)
}

/** The timestamp cast kernel: TIMESTAMP_NTZ at the column's unit
  * ([[CellParse.parseTimestampMicros]]). */
case class CellTimestamp(child: Expression, seconds: Boolean) extends SentinelCell {
  override protected def javaType: String = "long"
  override def dataType: DataType = TimestampNTZType
  override def prettyName: String = "graft_cell_timestamp"
  override protected def call(c: String): String = s"parseTimestampMicros($c, $seconds)"
  override protected def isNull(p: String): String = s"$p == Long.MIN_VALUE"

  override def nullSafeEval(input: Any): Any = {
    val us = CellParse.parseTimestampMicros(input.asInstanceOf[UTF8String], seconds)
    if (us == CellParse.NoTimestamp) null else us
  }

  override protected def withNewChildInternal(newChild: Expression): CellTimestamp =
    copy(child = newChild)
}
