package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** [[CellParse]]'s kernels on a `String` with `Option` results, and its
  * SQL-function expressions as Column builders: the shapes the
  * reference-parity specs assert in. */
object CellOptions {
  private def cell(v: String) = UTF8String.fromString(v)

  def parseBool(v: String): Option[Boolean] = CellParse.parseBool(cell(v)) match {
    case -1 => None
    case b => Some(b == 1)
  }

  def parseDateYmd(v: String): Option[Int] =
    Some(CellParse.parseDateYmd(cell(v))).filter(_ != CellParse.NoDate)

  def parseTimestampMs(v: String): Option[Long] =
    Some(CellParse.parseTimestampMs(cell(v))).filter(_ != CellParse.NoTimestamp)

  /** `graft_parse_date_ymd` */
  def parseDateYmd(c: Column): Column = ColumnBridge.column(CellDate(ColumnBridge.expression(c)))

  /** `graft_parse_ts_ms` */
  def parseTimestampMs(c: Column): Column =
    ColumnBridge.column(CellEpochMs(ColumnBridge.expression(c)))
}
