package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.IsNullToken

/** Reference null-token semantics as codegen'd Column expressions
  * (reference utils.rs:48-57): empty/space-only, or case-insensitive
  * null/none/nan/n/a/na → SQL NULL in every type.
  *
  * The cast kernels and the graft reader's failure column test tokens
  * through [[graft.functions.CellParse.isNullToken]]; `normalizeSql` is
  * its DuckDB mirror. The Column form [[isNullToken]] (one fused native
  * expression, [[graft.functions.IsNullToken]], no UDF) serves the specs'
  * reference error count.
  */
object NullTokens {
  val tokens: Seq[String] = Seq("null", "none", "nan", "n/a", "na")

  def isNullToken(c: Column): Column =
    ColumnBridge.column(IsNullToken(ColumnBridge.expression(c)))

  /** DuckDB-side mirror for oracle SQL. */
  def normalizeSql(e: String): String =
    s"(CASE WHEN $e IS NULL OR trim($e) = '' OR lower(trim($e)) IN ('null','none','nan','n/a','na') THEN NULL ELSE $e END)"
}
