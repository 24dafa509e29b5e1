package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Column-builder kernels vs reference conversion semantics (§1.4),
  * incl. the analyse_tests.rs block-conversion shape test.
  */
class CastKernelSpec extends SparkSpec {
  import spark.implicits._

  private def runKernel(values: Seq[String], kernel: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Any] = {
    values.toDF("v").select(kernel(col("v")).as("r")).collect().toSeq.map(r => if (r.isNullAt(0)) null else r.get(0))
  }

  test("toBoolean: token table incl. on/off; invalid → null") {
    assert(runKernel(Seq("true", "FALSE", "on", "off", "maybe", "NULL"), CastKernel.toBoolean)
      == Seq(true, false, true, false, null, null))
  }

  test("toLong: i64 range check, overflow → null (analyse.rs:128-144)") {
    assert(runKernel(Seq("42", "-7", "9223372036854775807", "9223372036854775808",
      "99999999999999999999999", "1.5", "abc", ""), CastKernel.toLong)
      == Seq(42L, -7L, Long.MaxValue, null, null, null, null, null))
  }

  test("toUnsignedLong: negative → null (analyse.rs:146-162)") {
    assert(runKernel(Seq("42", "-7", "0", "+3"), CastKernel.toUnsignedLong)
      == Seq(42L, null, 0L, 3L))
  }

  test("zero-padded integers: gate applies to significant digits (i128 parse parity)") {
    // the reference's i128 parse accepts leading zeros at any length;
    // the 19-digit overflow gate must not count them
    assert(runKernel(Seq("0000000000000000000000123", "-00042", "00", "+007",
      "00009223372036854775807", "00009223372036854775808"), CastKernel.toLong)
      == Seq(123L, -42L, 0L, 7L, Long.MaxValue, null))
    assert(runKernel(Seq("0000000000000000000000123", "000"), CastKernel.toUnsignedLong)
      == Seq(123L, 0L))
  }

  test("unsigned metadata routes conversion through the u64 kernel (negatives null)") {
    // sample (first 1,000 rows) is all non-negative digits → decideRef
    // UInt64 → LongType + graft.unsigned metadata; the negative AFTER
    // the sample must null through toUnsignedLong, not survive toLong
    val rows = (0 until 1000).map(i => i.toString) ++ Seq("-5", "17")
    val raw = rows.toDF("u")
    val schema = IngestPipeline.inferSchema(raw, fullScan = false)
    assert(schema.fields.head.dataType == org.apache.spark.sql.types.LongType)
    assert(schema.fields.head.metadata.contains("graft.unsigned"))
    val out = IngestPipeline.applySchema(raw, schema).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(out(1000) == null, "negative must null through the unsigned kernel")
    assert(out(1001) == 17L && out(0) == 0L)
  }

  test("toUnsignedDecimal: full u64 fidelity") {
    val r = runKernel(Seq("18446744073709551615", "18446744073709551616", "-1"),
      CastKernel.toUnsignedDecimal)
    assert(r(0) == new java.math.BigDecimal("18446744073709551615"))
    assert(r(1) == null && r(2) == null)
  }

  test("toDouble: non-finite → null; Java-isms rejected (analyse.rs:164-180)") {
    assert(runKernel(Seq("3.14", "inf", "-inf", "Infinity", "1e308", "abc",
      "0x10", "1.5d", "+.5"), CastKernel.toDouble)
      == Seq(3.14, null, null, null, 1e308, null, null, null, 0.5))
  }

  test("toDate: 3 formats, day-first priority (utils.rs:67-79)") {
    val r = runKernel(Seq("1970-01-01", "02/01/1970", "13/01/1970", "invalid"), CastKernel.toDate)
    assert(r == Seq(java.sql.Date.valueOf("1970-01-01"), java.sql.Date.valueOf("1970-01-02"),
      java.sql.Date.valueOf("1970-01-13"), null))
  }

  test("toTimestamp: ms precision, epoch heuristic, tz-bearing → null") {
    val r = runKernel(Seq(
      "1970-01-01 00:00:01", "1000000000", "1970-01-01 00:00:01.123456789",
      "2024-01-01T12:00:00+02:00", // infers ts at inference time but converts to null
      "bad"), c => CastKernel.toTimestamp(c))
    assert(r(0) == java.time.LocalDateTime.parse("1970-01-01T00:00:01"))
    assert(r(1) == java.time.LocalDateTime.parse("2001-09-09T01:46:40")) // epoch s
    assert(r(2) == java.time.LocalDateTime.parse("1970-01-01T00:00:01.123")) // ms truncation
    assert(r(3) == null && r(4) == null)
  }

  test("toTimestamp second-unit floors to whole seconds (analyse.rs:196-250)") {
    val r = runKernel(Seq("1970-01-01 00:00:01.999"),
      c => CastKernel.toTimestamp(c, ScalarParse.TsSecond))
    assert(r(0) == java.time.LocalDateTime.parse("1970-01-01T00:00:01"))
  }

  test("toTimestamp second-unit TRUNCATES pre-1970 fractional seconds toward zero") {
    // Reference parity: analyse.rs s-unit scaling is Rust `ms / 1_000`,
    // which truncates toward zero — so -500 ms ("…59.5") becomes 0 ms
    // (1970-01-01T00:00:00), NOT floored to -1000 ms. Pre-1970
    // fractional seconds therefore round UP, exactly like the reference.
    val r = runKernel(Seq("1969-12-31 23:59:59.5", "1969-12-31 23:59:59.999"),
      c => CastKernel.toTimestamp(c, ScalarParse.TsSecond))
    assert(r(0) == java.time.LocalDateTime.parse("1970-01-01T00:00:00"))
    assert(r(1) == java.time.LocalDateTime.parse("1970-01-01T00:00:00"))
  }

  test("toStringCol/toBinary: null tokens → null, raw kept (analyse.rs:252-298)") {
    assert(runKernel(Seq("  x  ", "NULL", " ", "ok"), CastKernel.toStringCol)
      == Seq("  x  ", null, null, "ok"))
    val b = runKernel(Seq("ab", "NaN"), CastKernel.toBinary)
    assert(b(0).asInstanceOf[Array[Byte]].toSeq == "ab".getBytes("UTF-8").toSeq && b(1) == null)
  }

  test("analyser_bloc shape (analyse_tests.rs:7-24): 2 rows × 3 typed cols") {
    import org.apache.spark.sql.types._
    val raw = Seq(("1", "true", "2024-01-01"), ("2", "false", "2024-01-02"))
      .toDF("a", "b", "c")
    val schema = StructType(Seq(
      StructField("a", LongType, true), StructField("b", BooleanType, true),
      StructField("c", DateType, true)))
    val out = IngestPipeline.applySchema(raw, schema)
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      Seq(("a", LongType), ("b", BooleanType), ("c", DateType)))
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows(0) == Row(1L, true, java.sql.Date.valueOf("2024-01-01")))
  }
}
