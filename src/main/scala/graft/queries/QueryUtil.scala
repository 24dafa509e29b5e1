package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Shared helpers that keep oracle hash-comparison deterministic AND
  * money arithmetic cheap at scale.
  *
  * Two cross-engine hazards with floating aggregates:
  *  1. double SUM is order-dependent (Spark's 32-partition partial agg vs
  *     DuckDB's serial sum accumulate differently);
  *  2. double→decimal casts disagree at half-boundaries: Spark rounds the
  *     SHORTEST decimal repr (BigDecimal.valueOf) HALF_UP, DuckDB rounds
  *     the EXACT binary expansion — 2-decimal money values multiplied
  *     together land on x.xxx50… boundaries constantly.
  *
  * Fix for both: do the arithmetic EXACTLY. Rounds 2–5 did it in
  * DecimalType, which is correct but has a scale problem this round's
  * 100× run exposed: Spark's `Decimal.*` has NO compact fast path — every
  * decimal multiply goes through java.math.BigDecimal (plus a
  * CheckOverflow node), and a product like price·(1−disc)·(1+tax) lands
  * at precision 20 where even the sum buffer leaves the primitive-long
  * representation. Measured on a 60M-row lineitem (local[32]): plain
  * double sums 19 s, decimal(12,2) sums 44 s, one decimal multiply 79 s,
  * two decimal multiplies 222 s — a 12× penalty on the flagship
  * aggregation shape, growing with each multiply.
  *
  * The round-6 kernel keeps exactness and drops BigDecimal: money values
  * are converted to INTEGER CENTS per row — `floor(x·100 + 0.5)` is pure
  * primitive codegen in both engines — products stay in long arithmetic
  * (a 2-decimal price times two 2-decimal rates is an exact integer at
  * scale 10⁻⁶, far inside i64), the sum runs over a decimal(38,0) whose
  * compact (long-backed) add fast path applies, and ONE double division
  * at the end restores the scale. Exact at any parallelism — the sum is
  * an integer — and the per-row hot path never allocates.
  *
  * Domain: |value| < 2^52/100 with ≤2 fractional decimals (the source
  * columns are true 2-decimal values, verified over sf0.1); `floor(+0.5)`
  * rather than a double→decimal cast so both engines round the ±1e-9
  * float fuzz to the same integer with primitive ops. Both sides of every
  * helper (Column and SQL) MUST stay formulation-identical: the final
  * double is produced by the same IEEE op sequence in both engines.
  */
object QueryUtil {
  /** Exact 2-decimal money value (extendedprice, totalprice, acctbal…) —
    * for COMPARISONS and window adds (decimal +/- has a compact fast
    * path; only multiplies pay BigDecimal). */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Exact 2-decimal rate in [0,10) (discount, tax). */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  /** Decimal literal 1.00 for (1 - discount)-style factors. */
  val one: Column = lit(1).cast(DecimalType(3, 2))

  /** Integer cents of a 2-decimal money double — primitive per row
    * (mul + floor, whole-stage codegen, no BigDecimal). */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast(LongType)
  /** Overflow-safe integer sum. decimal(20,0) input gives Sum a
    * decimal(30,0) buffer — room for 10^30, i.e. any per-group total a
    * 100 TB corpus can produce from sub-10^15 per-row values — while
    * KEEPING the compact add path: a precision-38 buffer forces the
    * slow overflow-checked add (measured 23 s vs 2.9 s for one sum
    * over 60M rows; a plain LongType sum would wrap silently). */
  private def isum(c: Column): Column = sum(c.cast(DecimalType(20, 0)))

  /** Order-independent double sum of a 2-decimal column. */
  def dsum(c: Column): Column = isum(cents(c)).cast(DoubleType) / 100.0
  /** Conditionally-gated money sum (null when `cond` fails — the
    * trimmed-aggregate shape). */
  def dsumIf(cond: Column, c: Column): Column =
    isum(when(cond, cents(c))).cast(DoubleType) / 100.0
  /** Deterministic double avg of a 2-decimal column. */
  def davg(c: Column): Column =
    round(isum(cents(c)).cast(DoubleType) / 100.0 / count(c), 4)

  /** Σ price·(1−disc), exact: cents × integer pct per row (pure long
    * codegen), one integer sum, one double scaling. */
  def dsumDisc(price: Column, disc: Column): Column =
    isum(cents(price) * (lit(100L) - cents(disc)))
      .cast(DoubleType) / 10000.0
  /** Σ price·(1−disc)·(1+tax), exact — the TPC-H Q1 sum_charge shape. */
  def dsumDiscTax(price: Column, disc: Column, tax: Column): Column =
    isum(cents(price) * (lit(100L) - cents(disc)) * (lit(100L) + cents(tax)))
      .cast(DoubleType) / 1000000.0
  /** price·(1−disc) per ROW as double (projection form, no aggregate). */
  def discPrice(price: Column, disc: Column): Column =
    (cents(price) * (lit(100L) - cents(disc))).cast(DoubleType) / 10000.0

  // DuckDB-side equivalents (string SQL fragments) — formulation-
  // identical to the Column forms above, op for op.
  def centsSql(e: String): String = s"CAST(floor(($e) * 100 + 0.5) AS BIGINT)"
  def dsumSql(e: String): String =
    s"CAST(SUM(${centsSql(e)}) AS DOUBLE) / 100.0"
  def dsumIfSql(cond: String, e: String): String =
    s"CAST(SUM(CASE WHEN $cond THEN ${centsSql(e)} END) AS DOUBLE) / 100.0"
  def davgSql(e: String): String =
    s"ROUND(CAST(SUM(${centsSql(e)}) AS DOUBLE) / 100.0 / COUNT($e), 4)"
  def dsumDiscSql(price: String, disc: String): String =
    s"CAST(SUM(${centsSql(price)} * (100 - ${centsSql(disc)})) AS DOUBLE) / 10000.0"
  def dsumDiscTaxSql(price: String, disc: String, tax: String): String =
    s"CAST(SUM(${centsSql(price)} * (100 - ${centsSql(disc)}) * (100 + ${centsSql(tax)})) AS DOUBLE) / 1000000.0"
  def discPriceSql(price: String, disc: String): String =
    s"CAST(${centsSql(price)} * (100 - ${centsSql(disc)}) AS DOUBLE) / 10000.0"
}
