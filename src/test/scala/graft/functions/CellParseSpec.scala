package graft.functions

import scala.util.Random

import graft.SparkSpec
import graft.ingest.{CastKernel, NullTokens, RetiredCastChains, ScalarParse}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Each fused cell kernel must be bit-identical to the implementation it
  * replaced (RetiredCastChains), under codegen and interpreted
  * evaluation, over a seeded corpus of edge cases and random mixes of
  * padding, signs, digit runs, exponents, tokens, dates, timestamps and
  * non-ASCII text. The date and timestamp kernels are compared on cells
  * without control-character padding: their retired String parsers
  * trimmed with `String.trim`, the kernels trim ASCII spaces only. */
class CellParseSpec extends SparkSpec {
  import CellParseSpec.corpus
  import spark.implicits._

  /** After the ASCII-space trim, a char below U+0020 at either end. */
  private def controlPadded(v: String): Boolean = {
    val t = v.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    t.nonEmpty && (t.head < ' ' || t.last < ' ')
  }

  private val kernels: Seq[(String, Column => Column, Column => Column, Boolean)] = Seq(
    ("isNullToken", NullTokens.isNullToken, RetiredCastChains.isNullToken, false),
    ("toLong", CastKernel.toLong, RetiredCastChains.toLong, false),
    ("toUnsignedLong", CastKernel.toUnsignedLong, RetiredCastChains.toUnsignedLong, false),
    ("toDouble", CastKernel.toDouble, RetiredCastChains.toDouble, false),
    ("toBoolean", CastKernel.toBoolean, RetiredCastChains.parseBool, false),
    ("toUnsignedDecimal", CastKernel.toUnsignedDecimal, RetiredCastChains.toUnsignedDecimal, false),
    ("toDate", CastKernel.toDate, RetiredCastChains.toDate, true),
    ("toTimestamp(ms)", CastKernel.toTimestamp(_), RetiredCastChains.toTimestamp(_, seconds = false), true),
    ("toTimestamp(s)", CastKernel.toTimestamp(_, ScalarParse.TsSecond),
      RetiredCastChains.toTimestamp(_, seconds = true), true),
    ("graft_parse_date_ymd", CellOptions.parseDateYmd, RetiredCastChains.dateYmd, true),
    ("graft_parse_ts_ms", CellOptions.parseTimestampMs, RetiredCastChains.timestampMs, true))

  /** An RDD-backed frame, so the optimizer cannot fold the projection
    * over a local relation and the kernels run in the evaluation mode
    * under test. */
  private def cells(values: Seq[Option[String]]) =
    spark.sparkContext.parallelize(values, 4).toDF("v")

  /** Rows where a fused kernel and its retired implementation disagree;
    * a double compares by its bits (`java.lang.Double.equals`), so -0.0
    * and 0.0 differ. */
  private def mismatches(): Seq[String] = {
    val df = cells(corpus.map(Option(_)) :+ None)
    val cols = kernels.flatMap { case (n, fused, chain, _) =>
      Seq(fused(col("v")).as(s"${n}_fused"), chain(col("v")).as(s"${n}_chain"))
    }
    df.select(col("v") +: cols: _*).collect().toSeq.flatMap { row =>
      val v = Option(row.getString(0))
      kernels.indices.collect {
        case k if !(kernels(k)._4 && v.exists(controlPadded)) &&
            row.get(1 + 2 * k) != row.get(2 + 2 * k) =>
          val esc = v.map(_.flatMap(ch =>
            if (ch < 0x20 || ch > 0x7E) f"<U+${ch.toInt}%04X>" else ch.toString)).orNull
          s"${kernels(k)._1}('$esc'): fused=${row.get(1 + 2 * k)} chain=${row.get(2 + 2 * k)}"
      }
    }
  }

  test("fused kernels equal the retired chains on the corpus (codegen)") {
    val bad = mismatches()
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  test("fused kernels equal the retired chains on the corpus (NO_CODEGEN)") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val bad = mismatches()
      assert(bad.isEmpty, bad.take(20).mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("the corpus reaches every outcome of every kernel") {
    val df = cells(corpus.map(Option(_))).select(
      NullTokens.isNullToken(col("v")).as("tok"),
      CastKernel.toLong(col("v")).as("l"),
      CastKernel.toUnsignedLong(col("v")).as("u"),
      CastKernel.toDouble(col("v")).as("d"),
      CastKernel.toBoolean(col("v")).as("b"),
      CastKernel.toUnsignedDecimal(col("v")).as("dec"),
      CastKernel.toDate(col("v")).as("date"),
      CastKernel.toTimestamp(col("v"), ScalarParse.TsSecond).as("ts"))
    val beyondI64 = col("dec") > lit(Long.MaxValue)
    val r = df.agg(
      sum(col("tok").cast("int")), sum((!col("tok")).cast("int")),
      count(col("l")), count(col("u")), count(col("d")),
      sum(when(col("l") === Long.MinValue, 1).otherwise(0)),
      sum(when(col("l").isNull && !col("tok"), 1).otherwise(0)),
      sum(when(col("d").isNull && !col("tok"), 1).otherwise(0)),
      sum(when(col("b"), 1).otherwise(0)), sum(when(!col("b"), 1).otherwise(0)),
      sum(when(col("b").isNull && !col("tok"), 1).otherwise(0)),
      sum(when(beyondI64, 1).otherwise(0)),
      sum(when(col("dec").isNull && !col("tok"), 1).otherwise(0)),
      count(col("date")), sum(when(col("date").isNull && !col("tok"), 1).otherwise(0)),
      count(col("ts")), sum(when(col("ts").isNull && !col("tok"), 1).otherwise(0)),
      sum(when(col("ts") < lit("1970-01-01").cast("timestamp_ntz"), 1).otherwise(0))
    ).collect()(0)
    (0 until r.length).foreach(i => assert(r.getLong(i) > 0, s"aggregate $i is empty"))
  }

  test("kernels stay one static call inside whole-stage codegen") {
    val v = col("v")
    val plan = cells(Seq(Some("1"))).select(CastKernel.toLong(v), CastKernel.toDouble(v),
      NullTokens.isNullToken(v), CastKernel.toBoolean(v), CastKernel.toUnsignedDecimal(v),
      CastKernel.toDate(v), CastKernel.toTimestamp(v), CellOptions.parseTimestampMs(v))
      .queryExecution.executedPlan
    val code = org.apache.spark.sql.execution.debug.codegenString(plan)
    Seq("CellParse.parseLong", "CellParse.parseDouble", "CellParse.isNullToken",
      "CellParse.parseBool", "CellParse.parseU64Decimal", "CellParse.parseDateYmd",
      "CellParse.parseTimestampMicros", "CellParse.parseTimestampMs(")
      .foreach(m => assert(code.contains(m), s"$m not in the generated code"))
  }
}

/** The seeded cell corpus, shared with IngestPathsSpec. */
object CellParseSpec {

  private val pads = Seq("", " ", "  ", "\t", "\n", "\r", "\r\n", "\u000B", "\u0085",
    "\u00A0", "\u2028", "\u2029", " \n", "\n ")

  private val fixed = Seq(
    // integers: signs, leading zeros, the 19/20/38/39-digit boundaries
    "0", "-0", "+0", "00", "+007", "-00042", "42", "+-5", "--5", "-", "+", "12x", "1 2",
    "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "1234567890123456789", "12345678901234567890",
    "00009223372036854775807", "00009223372036854775808",
    "1" * 38, "0" * 37 + "1", "0" * 38 + "1", "1" * 39, "99999999999999999999999",
    "18446744073709551615", "18446744073709551616",
    // Unicode digits and signs
    "\u0661\u0662\u0663", "\uFF11\uFF12", "1\u0663", "\u00B15", "\u22125", "\uFF0B5",
    // doubles
    "1.", ".5", ".", "..", "-.", "1.2.3", "1e5", "1E+05", "1e", "1e+", "1e-", "e5", ".e5",
    "1.e5", "1.5e-3", "-0.0", "0e999999999999", "1e400", "-1e400", "1e-400",
    "4.9e-324", "2.2250738585072014E-308", "1.7976931348623157e308",
    "1.7976931348623159e308", "0.1", "0.30000000000000004", "3.14159265358979323846",
    "123456789012345678901234567890", "9007199254740993", "9007199254740992.5",
    "318309.8861837907", "0.0000000000000000000000012345", "1e22", "1e23", "1e-22",
    "1e-23", "123456789e-30", "inf", "-inf", "+inf", "Infinity", "-Infinity",
    "+INFINITY", "infinit", "nan", "+nan", "-NaN", "NaN", "0x10", "0X1p3", "1.5d",
    "1.5f", "1.5D", "1_000", "1,5",
    // null tokens and look-alikes
    "", " ", "   ", "null", "NULL", "NuLl", "  None ", "nAn", "N/A", " n/a  ", "na", "NA",
    "nul", "nulll", "n/", "n\u000Fa", "N\u000FA", "\u00A0null", "null\n", "\uFF2E\uFF35\uFF2C\uFF2C",
    // bool tokens
    "TRUE", "Yes", "oFF", "ON", "F", "n", "Y", "t", "2", "yess",
    // u64 beyond i64
    "+18446744073709551615", "0000018446744073709551615", "9223372036854775808000",
    // dates: three formats, unpadded fields, strict calendar, signed years
    "1970-01-01", "02/01/1970", "13/01/1970", "01/13/1970", "1/2/2020", "2020-1-2",
    "2024-02-29", "2024-02-30", "2023-02-29", "+12020-01-01", "-2020-01-01", "2020-01",
    "2020/01/02", "1-2/3-4",
    // timestamps: six text formats, fractions, calendar edges, tz forms, epoch ranges
    "1970-01-01 00:00:01", "1970-01-01T00:00:01", "1970-01-01 00:00:01.5",
    "1970-01-01 00:00:01.123456789", "1970-01-01 00:00:01.1234567890", "1969-12-31 23:59:59.5",
    "1969-12-31T23:59:59.999", "02/01/1970 00:00:00", "1970/01/02 00:00:00", "1970-1-2 3:4:5",
    "2/1/1970 0:0:1", "2024-01-01 24:00:00", "2024-01-01 23:60:00", "2024-01-01T12:00:00+02:00",
    "2024-01-01T12:00:00Z", "999999999", "1000000000", "3999999999", "4000000000",
    "1000000000000", "2000000000000", "1000000000000000", "2000000000000000",
    "1000000000000000000", "2000000000000000000", "99999999999999999999",
    "\u0661\u0660\u0660\u0660\u0660\u0660\u0660\u0660\u0660\u0660",
    "-1000000000",
    // non-ASCII text
    "h\u00E9llo", "\u65E5\u672C", "\uD83D\uDE00", "\u0130", "\u212A", "abc", "true")

  private val junk = "0123456789.eE+-x \u0663\u00E9nulaNUL/"

  private def randomCell(r: Random): String = {
    def digits(n: Int) = (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString
    def zeros = "0" * (if (r.nextInt(3) == 0) r.nextInt(25) else 0)
    val sign = Seq("", "", "+", "-", "\u00B1")(r.nextInt(5))
    def field(max: Int) = { val n = r.nextInt(max); if (r.nextBoolean()) f"$n%02d" else n.toString }
    def date = r.nextInt(3) match {
      case 0 => s"${1900 + r.nextInt(200)}-${field(14)}-${field(33)}"
      case 1 => s"${field(33)}/${field(14)}/${1900 + r.nextInt(200)}"
      case _ => s"${field(14)}/${field(33)}/${1900 + r.nextInt(200)}"
    }
    def time = s"${field(25)}:${field(61)}:${field(61)}"
    val body = r.nextInt(11) match {
      case 0 => zeros + digits(1 + r.nextInt(40))
      case 1 => zeros + Seq(Long.MaxValue, Long.MinValue, Long.MaxValue - 1,
        Long.MinValue + 1)(r.nextInt(4)).toString.stripPrefix("-") +
        (if (r.nextBoolean()) digits(r.nextInt(2)) else "")
      case 2 => digits(r.nextInt(12)) + "." + digits(r.nextInt(12))
      case 3 => digits(1 + r.nextInt(25)) + (if (r.nextBoolean()) "." + digits(r.nextInt(25)) else "")
      case 4 => digits(1 + r.nextInt(8)) + "." + digits(r.nextInt(8)) +
        Seq("e", "E")(r.nextInt(2)) + Seq("", "+", "-")(r.nextInt(3)) +
        digits(r.nextInt(5))
      case 5 => fixed(r.nextInt(fixed.length))
      case 6 => r.nextInt(1000000).toString + "." + digits(1 + r.nextInt(10))
      case 8 => date
      case 9 => r.nextInt(3) match {
        case 0 => s"${1900 + r.nextInt(200)}-${field(14)}-${field(33)}${Seq(" ", "T")(r.nextInt(2))}$time" +
          (if (r.nextBoolean()) "." + digits(1 + r.nextInt(10)) else "")
        case 1 => s"${field(33)}/${field(14)}/${1900 + r.nextInt(200)} $time"
        case _ => s"${1900 + r.nextInt(200)}/${field(14)}/${field(33)} $time"
      }
      case 10 => Seq("1", "2", "3", "4")(r.nextInt(4)) +
        digits(Seq(8, 9, 11, 12, 14, 15, 17, 18, 19, 22, 30)(r.nextInt(11)))
      case _ => (0 until 1 + r.nextInt(6)).map(_ =>
        junk.charAt(r.nextInt(junk.length))).mkString
    }
    pads(r.nextInt(pads.length)) + sign + body + pads(r.nextInt(pads.length))
  }

  val corpus: Seq[String] = {
    val r = new Random(20261017L)
    fixed ++ fixed.flatMap(f => pads.flatMap(p => Seq(p + f, f + p, p + f + p))) ++
      Seq.fill(20000)(randomCell(r))
  }
}
