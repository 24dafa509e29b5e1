package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.ScalarParse._

/** Reference parser parity, ported 1:1 from
  * /root/reference/tests/utils_tests.rs plus SURVEY §1.3/§1.4 subtleties.
  */
class ScalarParseSpec extends AnyFunSuite {

  test("est_null_texte (utils_tests.rs:5-13)") {
    assert(isNullText(""))
    assert(isNullText(" "))
    assert(isNullText("NULL"))
    assert(isNullText("NaN"))
    assert(!isNullText("0"))
    assert(!isNullText("false"))
    assert(isNullText("none") && isNullText("N/A") && isNullText("na"))
  }

  test("parse_bool (utils_tests.rs:15-24)") {
    assert(parseBool("true").contains(true))
    assert(parseBool("FALSE").contains(false))
    assert(parseBool("1").contains(true))
    assert(parseBool("0").contains(false))
    assert(parseBool("yes").contains(true))
    assert(parseBool("no").contains(false))
    assert(parseBool("maybe").isEmpty)
    assert(parseBool("on").contains(true) && parseBool("off").contains(false))
  }

  test("parse_date_ymd: day-first priority (utils_tests.rs:26-34)") {
    assert(parseDateYmd("1970-01-01").contains(0))
    assert(parseDateYmd("02/01/1970").contains(1)) // Jan 2: day-first wins
    assert(parseDateYmd("invalid").isEmpty)
    assert(parseDateYmd("13/01/1970").contains(12)) // only dd/MM parses
    assert(parseDateYmd("2024-02-30").isEmpty) // strict resolver
    // chrono numeric fields parse unpadded 1-2 digit values
    assert(parseDateYmd("1/2/2020").contains(18293)) // day-first: Feb 1
    assert(parseDateYmd("2020-1-2").contains(18263))
    assert(parseDateYmd("2020-13-2").isEmpty) // still strict on ranges
  }

  test("parse_timestamp_ms text + epoch (utils_tests.rs:36-44)") {
    assert(parseTimestampMs("1970-01-01 00:00:01").contains(1000L))
    assert(parseTimestampMs("1000000000").contains(1000000000000L)) // epoch s → ms
    assert(parseTimestampMs("invalid").isEmpty)
    // 6 formats
    assert(parseTimestampMs("1970-01-01T00:00:01").contains(1000L))
    assert(parseTimestampMs("1970-01-01 00:00:01.5").contains(1500L))
    assert(parseTimestampMs("1970-1-2 3:4:5").contains(
      86400000L + 3 * 3600000L + 4 * 60000L + 5000L)) // unpadded fields
    assert(parseTimestampMs("2/1/1970 0:0:1").contains(86401000L)) // day-first
    assert(parseTimestampMs("1970-01-01 00:00:01.123456789").contains(1123L)) // ms truncation
    assert(parseTimestampMs("02/01/1970 00:00:00").contains(86400000L))
    assert(parseTimestampMs("1970/01/02 00:00:00").contains(86400000L))
    // epoch ranges (utils.rs:102-115)
    assert(parseTimestampMs("2000000000000").contains(2000000000000L)) // ms passthrough
    assert(parseTimestampMs("2000000000000000").contains(2000000000000L)) // µs → ms
    assert(parseTimestampMs("2000000000000000000").contains(2000000000000L)) // ns → ms
    assert(parseTimestampMs("999999999").isEmpty) // below epoch-s floor
    assert(parseTimestampMs("5000000000").isEmpty) // between ranges
  }

  test("date gate: only two-'-' or two-'/' texts reach the formatters; results unchanged") {
    // the three-formatter parse without the gate, as it was before it
    val formats = Seq("uuuu-M-d", "d/M/uuuu", "M/d/uuuu").map(p =>
      java.time.format.DateTimeFormatter.ofPattern(p)
        .withResolverStyle(java.time.format.ResolverStyle.STRICT))
    def ungated(v: String): Option[Int] = formats.view
      .flatMap(f => scala.util.Try(java.time.LocalDate.parse(v.trim, f)).toOption)
      .headOption.map(_.toEpochDay.toInt)
    val passed = Seq("1970-01-01", "2020-1-2", " 2024-02-29 ", "1/2/2020", "13/01/1970",
      "01/13/1970", "2024-02-30", "+12020-01-01", "-2020-01-01", "a-b-c", "//", "1-2/3-4")
    val skipped = Seq("", "  ", "20200102", "2020-01", "1/2", "2020/01-02", "12.5",
      "-42", "abc", "2024\u201001\u201001", "NULL")
    passed.foreach(v => assert(dateShaped(v.trim), v))
    skipped.foreach { v =>
      assert(!dateShaped(v.trim), v)
      assert(ungated(v).isEmpty, s"the gate skips '$v', which parses")
    }
    (passed ++ skipped).foreach(v => assert(parseDateYmd(v) == ungated(v), v))
    assert(ungated("+12020-01-01").isDefined && ungated("-2020-01-01").isDefined)
  }

  test("epoch gate: exactly the texts BigInteger accepts, Unicode digits kept") {
    val passed = Seq("0", "42", "+5", "-0", "-1000000000", "0001000000000",
      "\u0661\u0660\u0660\u0660\u0660\u0660\u0660\u0660\u0660\u0660", // Arabic-Indic 1e9
      "\uFF11\uFF10\uFF10\uFF10\uFF10\uFF10\uFF10\uFF10\uFF10\uFF10") // fullwidth 1e9
    val skipped = Seq("", "+", "-", "+-5", "--5", "5-", "1.5", "1e9", "0x10", "1 000",
      "1_000", "\u00B15", "\uD835\uDFCF") // a supplementary digit: two chars, neither a digit
    passed.foreach(t => assert(isBigIntegerText(t) && scala.util.Try(BigInt(t)).isSuccess, t))
    skipped.foreach(t => assert(!isBigIntegerText(t) && scala.util.Try(BigInt(t)).isFailure, t))
    // the epoch ranges still see Unicode-digit text
    assert(parseTimestampMs(passed(6)).contains(1000000000000L))
    assert(parseTimestampMs(passed(7)).contains(1000000000000L))
    assert(parseTimestampMs("1e9").isEmpty && parseTimestampMs("+-5").isEmpty)
  }

  test("timestamp unit detection (schema.rs:20-123)") {
    assert(detectUnitTimestamp("2024-01-01 12:00:00").contains(TsMilli)) // no fraction → default 3
    assert(detectUnitTimestamp("2024-01-01 12:00:00.1").contains(TsSecond))
    assert(detectUnitTimestamp("2024-01-01 12:00:00.123").contains(TsMilli))
    assert(detectUnitTimestamp("2024-01-01 12:00:00.123456").contains(TsMicro))
    assert(detectUnitTimestamp("2024-01-01 12:00:00.123456789").contains(TsNano))
    assert(detectUnitTimestamp("2024-01-01T12:00:00+02:00").contains(TsMilli)) // tz form infers
    assert(detectUnitEpoch("1000000000").contains(TsSecond))
    assert(detectUnitEpoch("-1000000000000").contains(TsMilli))
    assert(detectUnitEpoch("1000000000000000").contains(TsMicro))
    assert(detectUnitEpoch("1000000000000000000").contains(TsNano))
    assert(detectUnitEpoch("12.5").isEmpty)
  }

  test("delimiter detection: last max wins on ties (utils.rs:120-137)") {
    assert(detectDelimiter("a,b,c") == ',')
    assert(detectDelimiter("a\tb\tc") == '\t')
    assert(detectDelimiter("a,b;c;d") == ';')
    assert(detectDelimiter("a,b;c") == ';') // tie 1-1 → later candidate
    assert(detectDelimiter("") == ' ') // degenerate → last candidate
  }

  test("f64/i128 parse edges") {
    assert(parseF64("3.14").contains(3.14))
    assert(parseF64("1e3").contains(1000.0))
    assert(parseF64("inf").contains(Double.PositiveInfinity))
    assert(parseF64("abc").isEmpty)
    assert(parseF64("0x10").isEmpty) // Java-ism rejected
    assert(parseI128("42").contains(BigInt(42)))
    assert(parseI128("-7").contains(BigInt(-7)))
    assert(parseI128("18446744073709551615").contains((BigInt(1) << 64) - 1))
    assert(parseI128("1.5").isEmpty)
  }
}
