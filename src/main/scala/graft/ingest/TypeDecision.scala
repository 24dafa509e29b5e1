package graft.ingest

import graft.ingest.ScalarParse._
import org.apache.spark.sql.types._

/** The reference's type-decision ladder (choisir_type_large,
  * /root/reference/src/schema.rs:212-296) mapped onto Spark types:
  * priority ts → date → bool → numeric → string; ≥99.5% thresholds for
  * ts/date/bool, ≥98% for numerics; unsigned preference; overflow to
  * Float64. Pure function — no Spark involvement until the final type.
  *
  * UInt64 policy (SURVEY §7.4.1): Spark has no unsigned 64-bit. When the
  * observed max fits i64 → LongType; otherwise DecimalType(20,0) (how
  * Spark itself reads Parquet UINT64).
  */
object TypeDecision {
  private val I64Max = BigInt(Long.MaxValue)
  private val I64Min = BigInt(Long.MinValue)
  private val U64Max = (BigInt(1) << 64) - 1

  /** choisir_unite_timestamp (schema.rs:220-234): majority vote with
    * initial bias to Millisecond; strict > to displace. */
  def timestampUnit(s: ColStats): TsUnit = {
    var best: (TsUnit, Long) = (TsMilli, s.tsMsOk)
    for ((u, n) <- Seq((TsSecond, s.tsSecOk), (TsMilli, s.tsMsOk),
                       (TsMicro, s.tsUsOk), (TsNano, s.tsNsOk)))
      if (n > best._2) best = (u, n)
    best._1
  }

  private def ratio(n: Long, total: Long): Double =
    if (total == 0) 0.0 else n.toDouble / total.toDouble

  /** The reference's own type vocabulary, for unit tests that assert
    * decision parity (e.g. unsigned preference) before the Spark-type
    * mapping collapses UInt64/Int64 → LongType. */
  def decideRef(s: ColStats): String = {
    if (s.nonNull == 0) return "LargeUtf8"
    val tsTotal = s.tsSecOk + s.tsMsOk + s.tsUsOk + s.tsNsOk
    if (ratio(tsTotal, s.nonNull) >= 0.995)
      return s"Timestamp(${timestampUnit(s)})"
    if (ratio(s.dateOk, s.nonNull) >= 0.995) return "Date32"
    if (ratio(s.boolOk, s.nonNull) >= 0.995) return "Boolean"
    if (ratio(s.f64Ok, s.nonNull) >= 0.98) {
      if (s.floatSyntaxSeen) return "Float64"
      val ratioI = ratio(s.i128Ok, s.nonNull)
      val ratioNeg = ratio(s.negatives, math.max(s.i128Ok, 1))
      if (ratioI >= 0.98) {
        val (mn, mx) = (s.minI128, s.maxI128)
        if (mn < I64Min || mx > U64Max) return "Float64"
        if (mn >= 0 && mx <= U64Max && (mx > I64Max || ratioNeg < 0.005))
          return "UInt64"
        if (mn >= I64Min && mx <= I64Max) return "Int64"
        return "Float64"
      }
      return "Float64"
    }
    "LargeUtf8"
  }

  /** The Spark type of a [[decideRef]] answer: timestamps of every unit
    * → TimestampNTZ (the unit travels as field metadata), UInt64 →
    * LongType when the observed max fits i64, else DecimalType(20,0). */
  def sparkType(ref: String, s: ColStats): DataType = ref match {
    case "Date32" => DateType
    case "Boolean" => BooleanType
    case "Float64" => DoubleType
    case "Int64" => LongType
    case "UInt64" => if (s.maxI128 > I64Max) DecimalType(20, 0) else LongType
    case "LargeUtf8" => StringType
    case _ => TimestampNTZType // "Timestamp(<unit>)"
  }

  def decide(s: ColStats): DataType = sparkType(decideRef(s), s)
}
