package graft.ingest

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.types._

/** End-to-end against the reference's own synthetic fixture: the
  * 17-column TSV from script_python_generate_fake_tsv.py (clean
  * MODE_PARFAIT layout, column logic at :79-259, headers :299-319),
  * regenerated here with the same value shapes. The inferred schema
  * must equal FIXTURES.md §2's expected mapping exactly — including
  * the unsigned preference, the never-inferred Binary, the ms-default
  * timestamp precision, and Decimal→Float64 — and spot values must
  * survive conversion (rows beyond the 1,000-row inference sample
  * included). */
class ReferenceFixtureSpec extends SparkSpec {

  private val rows = 2000

  private def genRow(i: Int): Seq[String] = {
    val date = java.time.LocalDate.of(2024, 1, 1).plusDays(i % 10000)
    val msOff = (i.toLong * 5) % 86400000L
    val tsMs = f"2024-01-01T${msOff / 3600000}%02d:${msOff % 3600000 / 60000}%02d:${msOff % 60000 / 1000}%02d.${msOff % 1000}%03d"
    val secOff = i % 86400
    val tsNs = f"2024-01-01T${secOff / 3600}%02d:${secOff % 3600 / 60}%02d:${secOff % 60}%02d"
    Seq(
      if (i % 2 == 0) "True" else "False",           // Boolean
      i.toString,                                     // Int32
      (i.toLong * 1000).toString,                     // Int64
      i.toString,                                     // UInt32
      (i.toLong * 10000).toString,                    // UInt64
      (math.round(i * 0.5 * 100) / 100.0).toString,   // Float16
      (i * 0.1).toString,                             // Float32
      (i * 0.0001).toString,                          // Float64
      s"texte_$i",                                    // Utf8
      s"vue_$i",                                      // Utf8View
      s"texte_long_$i" * 2,                           // LargeUtf8
      s"bin_$i",                                      // Binary
      date.toString,                                  // Date32
      tsMs,                                           // Timestamp(Millisecond)
      tsNs)                                           // Timestamp(Nanosecond)
      .++(Seq(
        (math.round(i / 10.0 * 100) / 100.0).toString,          // Decimal32
        BigDecimal(i / 3.1415926535).setScale(10,
          BigDecimal.RoundingMode.HALF_UP).toString))            // Decimal128(38,10)
  }

  private val headers = Seq("Boolean", "Int32", "Int64", "UInt32", "UInt64",
    "Float16", "Float32", "Float64", "Utf8", "Utf8View", "LargeUtf8",
    "Binary", "Date32", "Timestamp(Millisecond, None)",
    "Timestamp(Nanosecond, None)", "Decimal32", "Decimal128(38, 10)")

  private lazy val fixture: String = {
    val dir = tempDir("graft_ref_fixture")
    val f = dir.resolve("fake.tsv")
    val content = (headers.mkString("\t") +:
      (0 until rows).map(genRow(_).mkString("\t"))).mkString("", "\n", "\n")
    Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("17-column fixture infers exactly FIXTURES.md §2's type mapping") {
    val raw = IngestPipeline.readRaw(spark, fixture, '\t')
    val schema = IngestPipeline.inferSchema(raw, fullScan = false)
    val expected = Seq(
      BooleanType, LongType, LongType, LongType, LongType,
      DoubleType, DoubleType, DoubleType, StringType, StringType,
      StringType, StringType, DateType, TimestampNTZType, TimestampNTZType,
      DoubleType, DoubleType)
    assert(schema.fields.map(_.name).toSeq == headers)
    assert(schema.fields.map(_.dataType).toSeq == expected,
      schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
    // the 4 integer columns are all non-negative → reference-UInt64 →
    // unsigned metadata must route them through the u64 kernel
    Seq("Int32", "Int64", "UInt32", "UInt64").foreach { c =>
      assert(schema(c).metadata.contains("graft.unsigned"), s"$c missing unsigned tag")
    }
    // both timestamp columns vote Millisecond (3 frac digits / default 3)
    Seq("Timestamp(Millisecond, None)", "Timestamp(Nanosecond, None)").foreach { c =>
      assert(schema(c).metadata.getString("graft.timestampUnit") == "TsMilli")
    }
  }

  test("converted values survive, including rows beyond the inference sample") {
    val raw = IngestPipeline.readRaw(spark, fixture, '\t')
    val schema = IngestPipeline.inferSchema(raw, fullScan = false)
    val typed = IngestPipeline.applySchema(raw, schema).collect()
    assert(typed.length == rows)
    val r1500 = typed.find(_.getLong(1) == 1500L).get // beyond the sample
    assert(r1500.getBoolean(0) == (1500 % 2 == 0))
    assert(r1500.getLong(2) == 1500000L && r1500.getLong(4) == 15000000L)
    assert(r1500.getDouble(6) == 1500 * 0.1)
    assert(r1500.getString(8) == "texte_1500" && r1500.getString(11) == "bin_1500")
    assert(r1500.getDate(12).toLocalDate ==
      java.time.LocalDate.of(2024, 1, 1).plusDays(1500))
    val msOff = 1500L * 5 % 86400000L
    assert(r1500.getAs[java.time.LocalDateTime](13) ==
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
        .plusNanos(msOff * 1000000L))
    // zero conversion errors on the clean fixture
    val errs = PipelineSinks.conversionErrorCounts(raw, schema)
    assert(errs.values.sum == 0L, errs.filter(_._2 > 0).toString)
  }

  test("the reader's failure column counts what the Column casts count") {
    val raw = IngestPipeline.readRaw(spark, fixture, '\t')
    val schema = IngestPipeline.inferSchema(raw, fullScan = false)
    val typed = spark.read.format("graft").schema(schema).load(fixture)
    assert(PipelineSinks.failureColumnCounts(typed) ==
      PipelineSinks.conversionErrorCounts(raw, schema))
  }
}
