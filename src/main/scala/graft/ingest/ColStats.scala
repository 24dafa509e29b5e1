package graft.ingest

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CellParse
import graft.ingest.ScalarParse._

/** Per-column statistics monoid for schema inference — the Scala twin of
  * the reference's StatistiquesColonne (/root/reference/src/schema.rs:
  * 129-210). Commutative/associative merge, so it distributes as a
  * classic partial+final aggregation (per-partition fold + reduce).
  */
final case class ColStats(
    nonNull: Long = 0,
    boolOk: Long = 0,
    dateOk: Long = 0,
    tsSecOk: Long = 0,
    tsMsOk: Long = 0,
    tsUsOk: Long = 0,
    tsNsOk: Long = 0,
    f64Ok: Long = 0,
    i128Ok: Long = 0,
    negatives: Long = 0,
    floatSyntaxSeen: Boolean = false,
    minI128: BigInt = ColStats.I128Max,
    maxI128: BigInt = ColStats.I128Min,
    maxLen: Int = 0
) extends Serializable {

  /** observer_valeur (schema.rs:167-210). */
  def observe(value: String): ColStats = {
    if (isNullText(value)) return this
    val t = value.trim
    var s = copy(nonNull = nonNull + 1, maxLen = math.max(maxLen, t.length))
    // the typed build's bool and date kernels; `t` is already
    // `String.trim`med, so their ASCII-space trim has nothing left to do
    val cell = UTF8String.fromString(t)
    if (CellParse.parseBool(cell) >= 0) s = s.copy(boolOk = s.boolOk + 1)
    if (CellParse.parseDateYmd(cell) != CellParse.NoDate) s = s.copy(dateOk = s.dateOk + 1)
    // timestamp candidacy gate: len ≥ 8 and contains -/:/T (schema.rs:184)
    if (t.length >= 8 && t.exists(ch => ch == '-' || ch == ':' || ch == 'T')) {
      detectUnitTimestamp(t) match {
        case Some(TsSecond) => s = s.copy(tsSecOk = s.tsSecOk + 1)
        case Some(TsMilli) => s = s.copy(tsMsOk = s.tsMsOk + 1)
        case Some(TsMicro) => s = s.copy(tsUsOk = s.tsUsOk + 1)
        case Some(TsNano) => s = s.copy(tsNsOk = s.tsNsOk + 1)
        case None =>
      }
    }
    parseF64(t) match {
      case Some(_) =>
        val sawFloat = t.contains('.') || t.contains('e') || t.contains('E')
        s = s.copy(f64Ok = s.f64Ok + 1,
          floatSyntaxSeen = s.floatSyntaxSeen || sawFloat)
      case None =>
    }
    parseI128(t) match {
      case Some(x) =>
        s = s.copy(i128Ok = s.i128Ok + 1,
          negatives = s.negatives + (if (x < 0) 1 else 0),
          minI128 = s.minI128.min(x), maxI128 = s.maxI128.max(x))
      case None =>
    }
    s
  }

  def merge(o: ColStats): ColStats = ColStats(
    nonNull + o.nonNull, boolOk + o.boolOk, dateOk + o.dateOk,
    tsSecOk + o.tsSecOk, tsMsOk + o.tsMsOk, tsUsOk + o.tsUsOk,
    tsNsOk + o.tsNsOk, f64Ok + o.f64Ok, i128Ok + o.i128Ok,
    negatives + o.negatives, floatSyntaxSeen || o.floatSyntaxSeen,
    minI128.min(o.minI128), maxI128.max(o.maxI128),
    math.max(maxLen, o.maxLen))
}

object ColStats {
  val I128Max: BigInt = (BigInt(1) << 127) - 1
  val I128Min: BigInt = -(BigInt(1) << 127)
  val empty: ColStats = ColStats()
}
