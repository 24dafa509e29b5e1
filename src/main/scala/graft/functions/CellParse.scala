package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass byte kernels behind the conversion's per-cell work: the
  * reference null-token test (utils.rs:48-57) and the i64/u64/f64 cast
  * kernels (analyse.rs:128-180). Each reads the `UTF8String` bytes once
  * — ASCII-space trim, syntax gate, significant-digit range check and
  * parse together — with no `toString`, no regex and no exception.
  *
  * The accepted syntax is exactly the retired Column chains' (regex gate
  * + `try_cast`, kept in `src/test` as the parity witness), quirks
  * included: the gates' `$` also matches before ONE final line
  * terminator; `\n`, `\r` and `\r\n` there are then dropped by the
  * cast's own whitespace trim, while U+0085, U+2028 and U+2029 make the
  * cast fail; and the terminator counts as a significant "digit" in the
  * 19-digit gate. Called from generated code, so everything here is a
  * plain static method.
  */
object CellParse {

  private val tokens: Array[Array[Byte]] =
    graft.ingest.NullTokens.tokens.map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII)).toArray

  /** Start of `s` after leading ASCII spaces (`trim` trims only 0x20). */
  private def trimStart(s: UTF8String): Int = {
    var a = 0
    while (a < s.numBytes && s.getByte(a) == ' ') a += 1
    a
  }

  /** End of `s` before trailing ASCII spaces; `a` is a non-space byte. */
  private def trimEnd(s: UTF8String, a: Int): Int = {
    var b = s.numBytes
    while (b > a && s.getByte(b - 1) == ' ') b -= 1
    b
  }

  /** Blank, or a token case-insensitively after the ASCII-space trim. No
    * non-ASCII character lower-cases to a token letter, so an ASCII-only
    * comparison equals the `lower(trim(c)) IN (...)` it replaces. */
  def isNullToken(s: UTF8String): Boolean = {
    val a = trimStart(s)
    if (a == s.numBytes) return true
    val len = trimEnd(s, a) - a
    var t = 0
    while (t < tokens.length) {
      val tok = tokens(t)
      if (tok.length == len) {
        var i = 0
        while (i < len && lowerAscii(s.getByte(a + i)) == tok(i)) i += 1
        if (i == len) return true
      }
      t += 1
    }
    false
  }

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

/** The f64 cast kernel ([[CellParse.parseDouble]]); NaN from the parse
  * is the null. */
case class CellDouble(child: Expression) extends StringCell {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cell_double"

  override def nullSafeEval(input: Any): Any = {
    val d = CellParse.parseDouble(input.asInstanceOf[UTF8String])
    if (d.isNaN) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val parsed = ctx.freshName("parsedDouble")
      s"""
         |double $parsed = graft.functions.CellParse.parseDouble($c);
         |if (Double.isNaN($parsed)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $parsed;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CellDouble =
    copy(child = newChild)
}
