package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{CellDouble, CellLong}

/** The reference's typed cast kernels (§1.4, reference analyse.rs:
  * 108-313) as Column expressions over an all-string scan. Invalid
  * values become NULL, never errors — explicitly try-semantics, so the
  * plan behaves identically whether the session runs ANSI on or off.
  * Everything stays inside whole-stage codegen (no UDFs). The i64, u64
  * and f64 kernels and the null-token test are fused single-pass byte
  * expressions ([[graft.functions.CellParse]]): each numeric cell is
  * one static call instead of a regex gate, a significant-digit regex
  * and a `try_cast`, with three `trim`s and a `lower` in front.
  */
object CastKernel {

  private def gated(c: Column)(body: Column => Column): Column =
    when(NullTokens.isNullToken(c), lit(null)).otherwise(body(trim(c)))

  /** Boolean: token table, else null (analyse.rs:114-126). */
  def toBoolean(c: Column): Column = Parsers.parseBool(c)

  /** Int64: optional sign, 1–38 digits (the reference's i128 parse
    * domain, so zero-padded values pass), at most 19 of them significant,
    * then the i64 range check; anything else, overflow included, → null
    * (analyse.rs:128-144 parses i128 then range-checks). */
  def toLong(c: Column): Column =
    ColumnBridge.column(CellLong(ColumnBridge.expression(c), unsigned = false))

  /** UInt64 → LongType policy (SURVEY §7.4.1): non-negative integers that
    * fit i64; negative → null like the reference (analyse.rs:146-162). */
  def toUnsignedLong(c: Column): Column =
    ColumnBridge.column(CellLong(ColumnBridge.expression(c), unsigned = true))

  /** UInt64 full-fidelity variant: DecimalType(20,0) holds all of u64. */
  def toUnsignedDecimal(c: Column): Column = gated(c) { t =>
    val sig = length(regexp_replace(t, "^[+]?0*", ""))
    val x = when(t.rlike("^[+]?\\d+$") && sig <= 20, t.try_cast("decimal(20,0)"))
    when(x >= 0 && x <= lit("18446744073709551615").cast(DecimalType(20, 0)), x)
      .otherwise(lit(null).cast(DecimalType(20, 0)))
  }

  /** Float64: f64 parse; non-finite (inf/NaN) → null (analyse.rs:164-180).
    * The syntax is Rust's f64 syntax: Spark's string→double accepts
    * Java-isms (hex "0x10", suffix "1.5d") that the reference rejects. */
  def toDouble(c: Column): Column =
    ColumnBridge.column(CellDouble(ColumnBridge.expression(c)))

  def toDate(c: Column): Column = gated(c)(t => Parsers.parseDateYmd(t))

  /** Timestamp: parse at ms precision then truncate to the declared unit
    * (analyse.rs:196-250 scales ms → unit; s-unit truncates toward zero). */
  def toTimestamp(c: Column, unit: ScalarParse.TsUnit = ScalarParse.TsMilli): Column =
    gated(c) { t =>
      val ms = Parsers.parseTimestampMs(t)
      val unitMs = unit match {
        // Truncate toward zero, matching the reference EXACTLY: analyse.rs
        // s-unit scaling is Rust `ms / 1_000` on the chrono i64, which
        // rounds toward zero — so pre-1970 fractional seconds round UP
        // ("1969-12-31 23:59:59.5" → 1970-01-01T00:00:00). Spark's `%`
        // has Java remainder semantics (sign of dividend), so
        // `ms - ms % 1000` reproduces that contract in integer math.
        // The DSv2 reader's s-unit scaling must agree bit-for-bit.
        case ScalarParse.TsSecond => ms - (ms % lit(1000L))
        case _ => ms // ms/µs/ns all carry exactly ms precision (§1.4)
      }
      timestamp_millis(unitMs).cast(TimestampNTZType)
    }

  /** Time64(Microsecond) — "Heures" in the reference README
    * (/root/reference/README.md:27). The reference ADVERTISES this arm
    * but never implements it: analyse.rs:108-313 has no Time64 case, so
    * a hand-built Time64 schema (the tests/analyse_tests.rs:14-20
    * library-API pattern) falls into the `_ =>` wildcard
    * (analyse.rs:300-312), which builds a LargeUtf8 array that cannot
    * construct a RecordBatch against a Time64 field. We complete the
    * advertised library-API contract instead of reproducing the broken
    * fallback: HH:MM[:SS[.ffffff]] time-of-day parsed to MICROSECONDS
    * SINCE MIDNIGHT — the exact int64 payload Arrow's Time64(µs) array
    * stores — carried as LongType (Spark has no time-of-day type).
    * Invalid syntax / out-of-range fields → null, like every other
    * kernel here. Pure expression tree, stays in codegen. */
  def toTime64Micros(c: Column): Column = gated(c) { t =>
    val re = "^(\\d{2}):(\\d{2})(?::(\\d{2})(?:\\.(\\d{1,6}))?)?$"
    val h = regexp_extract(t, re, 1).try_cast("bigint")
    val m = regexp_extract(t, re, 2).try_cast("bigint")
    val sStr = regexp_extract(t, re, 3)
    val sec = when(sStr === "", lit(0L)).otherwise(sStr.try_cast("bigint"))
    val fStr = regexp_extract(t, re, 4)
    val frac = when(fStr === "", lit(0L))
      .otherwise(rpad(fStr, 6, "0").try_cast("bigint"))
    when(t.rlike(re) && h <= 23 && m <= 59 && sec <= 59,
      (h * 3600L + m * 60L + sec) * 1000000L + frac)
      .otherwise(lit(null).cast(LongType))
  }

  /** Utf8/LargeUtf8: identity modulo null tokens (analyse.rs:252-274). */
  def toStringCol(c: Column): Column = NullTokens.normalize(c)

  /** Binary/LargeBinary: UTF-8 bytes of the string (analyse.rs:276-298). */
  def toBinary(c: Column): Column = NullTokens.normalize(c).cast(BinaryType)

  /** Cast an all-string column to the inferred Spark type. `unsigned`
    * (from the `graft.unsigned` field metadata) routes LongType through
    * the u64 kernel, which nulls negatives like the reference. */
  def castTo(c: Column, dt: DataType, tsUnit: ScalarParse.TsUnit = ScalarParse.TsMilli,
             unsigned: Boolean = false): Column =
    dt match {
      case BooleanType => toBoolean(c)
      case LongType if unsigned => toUnsignedLong(c)
      case LongType => toLong(c)
      case d: DecimalType if d.scale == 0 => toUnsignedDecimal(c)
      case DoubleType => toDouble(c)
      case DateType => toDate(c)
      case TimestampNTZType | TimestampType => toTimestamp(c, tsUnit)
      case BinaryType => toBinary(c)
      case _ => toStringCol(c)
    }
}
