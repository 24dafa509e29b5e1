package graft.ingest

/** DuckDB mirrors of the typed build's bool, date and timestamp kernels
  * (reference utils.rs:59-118), for the oracle SQL of the parse entries
  * (`Funcs.oracleSql`). The Spark side is
  * [[graft.functions.CellParse]] through [[CastKernel]]; these strings
  * are the independent check, try-semantics (bad input → NULL).
  */
object Parsers {

  def parseBoolSql(e: String): String =
    s"""(CASE WHEN lower(trim($e)) IN ('true','1','t','y','yes','on') THEN TRUE
       |  WHEN lower(trim($e)) IN ('false','0','f','n','no','off') THEN FALSE
       |  ELSE NULL END)""".stripMargin

  def parseDateYmdSql(e: String): String =
    s"""COALESCE(
       |  CAST(try_strptime(trim($e), '%Y-%m-%d') AS DATE),
       |  CAST(try_strptime(trim($e), '%d/%m/%Y') AS DATE),
       |  CAST(try_strptime(trim($e), '%m/%d/%Y') AS DATE))""".stripMargin

  def parseTimestampMsSql(e: String): String = {
    val t = s"trim($e)"
    s"""COALESCE(
       |  CAST(epoch_ms(COALESCE(
       |    try_strptime($t, '%Y-%m-%d %H:%M:%S.%g'),
       |    try_strptime($t, '%Y-%m-%dT%H:%M:%S.%g'),
       |    try_strptime($t, '%Y-%m-%d %H:%M:%S'),
       |    try_strptime($t, '%Y-%m-%dT%H:%M:%S'),
       |    try_strptime($t, '%d/%m/%Y %H:%M:%S'),
       |    try_strptime($t, '%Y/%m/%d %H:%M:%S'))) AS BIGINT),
       |  (CASE WHEN NOT regexp_matches($t, '^[+-]?[0-9]+$$') THEN NULL
       |    WHEN TRY_CAST($t AS BIGINT) BETWEEN 1000000000 AND 3999999999 THEN TRY_CAST($t AS BIGINT) * 1000
       |    WHEN TRY_CAST($t AS BIGINT) BETWEEN 1000000000000 AND 3999999999999 THEN TRY_CAST($t AS BIGINT)
       |    WHEN TRY_CAST($t AS BIGINT) BETWEEN 1000000000000000 AND 3999999999999999 THEN TRY_CAST($t AS BIGINT) // 1000
       |    WHEN TRY_CAST($t AS BIGINT) >= 1000000000000000000 THEN TRY_CAST($t AS BIGINT) // 1000000
       |    ELSE NULL END))""".stripMargin
  }
}
