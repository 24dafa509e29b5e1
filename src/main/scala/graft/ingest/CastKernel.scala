package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{CellBool, CellDate, CellDouble, CellLong, CellTimestamp, CellU64Decimal}

/** The reference's typed cast kernels (§1.4, reference analyse.rs:
  * 108-313) as Column expressions over an all-string scan, one per
  * inferred type. Each is one static call into
  * [[graft.functions.CellParse]], the one implementation of the typed
  * build's per-cell semantics, so the CLI, `applySchema`,
  * `convertStream`, the JSONL route and the `format("graft")` reader
  * agree cell for cell. Invalid values become NULL, never errors —
  * explicitly try-semantics, so the plan behaves identically whether
  * the session runs ANSI on or off — and a null token is null in every
  * type. Everything stays inside whole-stage codegen (no UDFs).
  */
object CastKernel {

  private def cell(c: Column)(kernel: Expression => Expression): Column =
    ColumnBridge.column(kernel(ColumnBridge.expression(c)))

  /** Boolean: token table, else null (analyse.rs:114-126). */
  def toBoolean(c: Column): Column = cell(c)(CellBool)

  /** Int64: optional sign, 1–38 digits (the reference's i128 parse
    * domain, so zero-padded values pass), at most 19 of them significant,
    * then the i64 range check; anything else, overflow included, → null
    * (analyse.rs:128-144 parses i128 then range-checks). */
  def toLong(c: Column): Column = cell(c)(CellLong(_, unsigned = false))

  /** UInt64 → LongType policy (SURVEY §7.4.1): non-negative integers that
    * fit i64; negative → null like the reference (analyse.rs:146-162). */
  def toUnsignedLong(c: Column): Column = cell(c)(CellLong(_, unsigned = true))

  /** UInt64 full-fidelity variant: DecimalType(20,0) holds all of u64. */
  def toUnsignedDecimal(c: Column): Column = cell(c)(CellU64Decimal)

  /** Float64: f64 parse; non-finite (inf/NaN) → null (analyse.rs:164-180).
    * The syntax is Rust's f64 syntax: Spark's string→double accepts
    * Java-isms (hex "0x10", suffix "1.5d") that the reference rejects. */
  def toDouble(c: Column): Column = cell(c)(CellDouble)

  /** Date32: three formats, day-first (utils.rs:67-79). */
  def toDate(c: Column): Column = cell(c)(CellDate)

  /** Timestamp: parse at ms precision then truncate to the declared unit
    * (analyse.rs:196-250 scales ms → unit; s-unit truncates toward zero). */
  def toTimestamp(c: Column, unit: ScalarParse.TsUnit = ScalarParse.TsMilli): Column =
    cell(c)(CellTimestamp(_, seconds = unit == ScalarParse.TsSecond))

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
  def toTime64Micros(c: Column): Column = {
    val t = trim(c)
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
