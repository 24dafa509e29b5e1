package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Column-expression chains the fused cell kernels
  * (graft.functions.CellParse) replaced, kept verbatim as the parity
  * witness for CellParseSpec: a regex syntax gate, a significant-digit
  * gate and `try_cast`, behind the trim/lower null-token test. Not used
  * at runtime.
  */
object RetiredCastChains {

  def isNullToken(c: Column): Column =
    c.isNull || trim(c) === "" || lower(trim(c)).isin(NullTokens.tokens: _*)

  private def gated(c: Column)(body: Column => Column): Column =
    when(isNullToken(c), lit(null)).otherwise(body(trim(c)))

  def toLong(c: Column): Column = gated(c) { t =>
    val sig = length(regexp_replace(t, "^[+-]?0*", ""))
    when(t.rlike("^[+-]?\\d{1,38}$") && sig <= 19, t.try_cast("bigint"))
      .otherwise(lit(null).cast(LongType))
  }

  def toUnsignedLong(c: Column): Column = gated(c) { t =>
    val sig = length(regexp_replace(t, "^[+]?0*", ""))
    val x = when(t.rlike("^[+]?\\d{1,38}$") && sig <= 19, t.try_cast("bigint"))
    when(x >= 0L, x).otherwise(lit(null).cast(LongType))
  }

  def toDouble(c: Column): Column = gated(c) { t =>
    val syntaxOk = t.rlike("^[+-]?([0-9.]+([eE][+-]?[0-9]+)?)$") ||
      lower(t).rlike("^[+-]?(inf|infinity|nan)$")
    val d = when(syntaxOk, t.try_cast("double"))
    when(isnan(d) || d === Double.PositiveInfinity || d === Double.NegativeInfinity,
      lit(null).cast(DoubleType)).otherwise(d)
  }
}
