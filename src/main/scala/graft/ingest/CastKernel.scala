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
