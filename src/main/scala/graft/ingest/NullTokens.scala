package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, when}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType

import graft.functions.IsNullToken

/** Reference null-token semantics as codegen'd Column expressions
  * (reference utils.rs:48-57): empty/space-only, or case-insensitive
  * null/none/nan/n/a/na → SQL NULL in every type.
  *
  * Spark CSV's `nullValue` accepts one token, so raw columns are read as
  * strings and normalized here. The test is one fused native expression
  * ([[graft.functions.IsNullToken]]), inside whole-stage codegen, no UDF;
  * it runs for every cell of a conversion.
  */
object NullTokens {
  val tokens: Seq[String] = Seq("null", "none", "nan", "n/a", "na")

  def isNullToken(c: Column): Column =
    ColumnBridge.column(IsNullToken(ColumnBridge.expression(c)))

  /** Null-normalize, keeping the ORIGINAL (untrimmed) string otherwise —
    * the reference appends the raw cell (analyse.rs:252-274). */
  def normalize(c: Column): Column =
    when(isNullToken(c), lit(null).cast(StringType)).otherwise(c)

  /** DuckDB-side mirror for oracle SQL. */
  def normalizeSql(e: String): String =
    s"(CASE WHEN $e IS NULL OR trim($e) = '' OR lower(trim($e)) IN ('null','none','nan','n/a','na') THEN NULL ELSE $e END)"
}
