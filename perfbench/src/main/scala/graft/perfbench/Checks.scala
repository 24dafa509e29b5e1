package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. Registry entries are checked against pinned
  * (row count, content hash) pairs; conversions against the values the
  * input generator recorded for the file it wrote. */
object Checks {

  /** Canonical text of one cell: doubles to 10 significant digits (so a
    * change of summation order does not read as a wrong answer),
    * timestamps as UTC instants (`Timestamp.toString` prints the JVM's
    * default zone), arrays and structs element by element. */
  def canon(v: Any): String = v match {
    case null => "\u0000"
    case t: java.sql.Timestamp => t.toInstant.toString
    case i: java.time.Instant => i.toString
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == 0.0) "0"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toPlainString

  /** (rows, order-insensitive content hash) of a result: the wrapping sum
    * of a 64-bit hash per row, over columns sorted by name. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted
    var n = 0L
    var h = 0L
    df.select(cols.map(c => col(s"`$c`")): _*).collect().foreach { r =>
      val text = (0 until r.length).map(i => canon(r.get(i))).mkString("\u0001")
      val bytes = text.getBytes("UTF-8")
      val lo = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5bd1e995)
      val hi = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x1b873593)
      h += (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
      n += 1
    }
    (n, h)
  }

  /** Problems of a conversion's output against the generator's record:
    * footer row count, per-column failed cells, and per column the
    * non-null count and value sum of the re-read typed data. */
  def convertProblems(spark: SparkSession, out: String, footerRows: Long,
                      failedCells: Map[String, Long], expect: Json.Obj): Seq[String] = {
    val rows = expect.long("rows")
    val problems = Seq.newBuilder[String]
    if (footerRows != rows) problems += s"footer rows $footerRows, expected $rows"
    val wantFailed = expect.obj("failed_cells").fields.collect {
      case (c, n: Double) if n > 0 => c -> n.toLong
    }.toMap
    if (failedCells != wantFailed)
      problems += s"failed cells $failedCells, expected $wantFailed"
    val columns = expect.obj("columns")
    val df = spark.read.parquet(out)
    val aggs = columns.fields.keys.toSeq.sorted.flatMap { c =>
      val x = col(s"`$c`")
      val term = columns.obj(c).str("type") match {
        case "boolean" => x.cast(LongType)
        case "long" => x
        case "double" => x
        case "string" => length(x).cast(LongType)
        case "date" => unix_date(x).cast(LongType)
        case "timestamp_ms" => unix_millis(x.cast(TimestampType))
      }
      Seq(count(x).as(s"n:$c"), sum(term).as(s"s:$c"))
    }
    val got = df.agg(aggs.head, aggs.tail: _*).collect().head
    columns.fields.keys.toSeq.sorted.foreach { c =>
      val want = columns.obj(c)
      val n = got.getAs[Long](s"n:$c")
      if (n != want.long("non_null")) problems += s"$c: $n non-null, expected ${want.long("non_null")}"
      val s = got.getAs[Any](s"s:$c") match {
        case null => 0.0
        case v: java.lang.Number => v.doubleValue
      }
      val ws = want.num("sum")
      if (math.abs(s - ws) > 1e-9 * math.max(1.0, math.abs(ws)))
        problems += s"$c: value sum $s, expected $ws"
    }
    problems.result()
  }
}
