package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

import org.apache.spark.sql.catalyst.expressions.{Expression, If, Literal}
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{CellBool, CellDate, CellDouble, CellLong, CellTimestamp, CellU64Decimal, IsNullToken}

/** The reference's typed cast kernels (§1.4, reference analyse.rs:
  * 108-313), one per inferred type, and [[castTo]], the typed build's one
  * per-type dispatch: the `format("graft")` reader evaluates it over each
  * row of tokens, `applySchema` over an all-string frame. Each kernel is
  * one static call into [[graft.functions.CellParse]]. Invalid values
  * become NULL, never errors — try-semantics, so the plan behaves the
  * same with ANSI on or off — and a null token is null in every type.
  * Everything stays inside whole-stage codegen (no UDFs).
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

  /** Utf8/LargeUtf8: the raw, untrimmed cell, a null token null
    * (analyse.rs:252-274). */
  def toStringCol(c: Column): Column = cell(c)(e => If(IsNullToken(e), Literal(null, StringType), e))

  /** Cast an all-string column to field `f`'s type, one of the types
    * inference produces; any other type is an IllegalArgumentException
    * naming the column. `graft.unsigned` metadata routes bigint through
    * the u64 kernel (negatives null, like the reference), and
    * `graft.timestampUnit` sets the timestamp unit. */
  def castTo(c: Column, f: StructField): Column =
    f.dataType match {
      case StringType => toStringCol(c)
      case BooleanType => toBoolean(c)
      case LongType if IngestPipeline.isUnsigned(f) => toUnsignedLong(c)
      case LongType => toLong(c)
      case d: DecimalType if d.precision == 20 && d.scale == 0 => toUnsignedDecimal(c)
      case DoubleType => toDouble(c)
      case DateType => toDate(c)
      case TimestampNTZType => toTimestamp(c, IngestPipeline.tsUnitOf(f))
      case other => throw new IllegalArgumentException(
        s"column '${f.name}' has type ${other.catalogString}, which graft cannot type: " +
          "use string, boolean, bigint, decimal(20,0), double, date or timestamp_ntz")
    }
}
