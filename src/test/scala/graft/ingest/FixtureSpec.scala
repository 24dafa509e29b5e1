package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.nio.file.Files

/** End-to-end inference over the reference's 17-column synthetic TSV
  * (FIXTURES.md §2, mirroring script_python_generate_fake_tsv.py's
  * clean-mode column patterns). Asserts the exact inferred Spark schema
  * the reference's decision rules imply — including the two famous
  * traps: the "Timestamp(Nanosecond)" column has NO fractional digits so
  * it votes ms (default precision 3), and Binary/Decimal columns
  * collapse to String/Double (inference never emits binary/decimal).
  */
class FixtureSpec extends SparkSpec {

  private def tsvLine(i: Int): String = {
    val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i % 10000)
    val msOff = (i.toLong * 5) % 86400000L
    val tsMs = f"2024-01-01T${msOff / 3600000}%02d:${msOff % 3600000 / 60000}%02d:${msOff % 60000 / 1000}%02d.${msOff % 1000}%03d"
    val secOff = i % 86400
    val tsNs = f"2024-01-01T${secOff / 3600}%02d:${secOff % 3600 / 60}%02d:${secOff % 60}%02d"
    Seq(
      if (i % 2 == 0) "True" else "False", // Boolean
      i.toString, // Int32
      (i.toLong * 1000).toString, // Int64
      i.toString, // UInt32
      (i.toLong * 10000).toString, // UInt64
      f"${i * 0.5}%.2f", // Float16
      f"${i * 0.1}%.2f", // Float32
      f"${i * 0.0001}%.6f", // Float64
      s"texte_$i", // Utf8
      s"vue_$i", // Utf8View
      s"texte_long_$i" * 2, // LargeUtf8
      s"bin_$i", // Binary
      d.toString, // Date32
      tsMs, // Timestamp(Millisecond, None)
      tsNs, // Timestamp(Nanosecond, None) — no fraction!
      f"${i / 10.0}%.2f", // Decimal32
      f"${i / 3.1415926535}%.10f" // Decimal128(38, 10)
    ).mkString("\t")
  }

  test("17-column fixture infers the FIXTURES.md §2 schema exactly") {
    val header = Seq("Boolean", "Int32", "Int64", "UInt32", "UInt64",
      "Float16", "Float32", "Float64", "Utf8", "Utf8View", "LargeUtf8",
      "Binary", "Date32", "Timestamp(Millisecond, None)",
      "Timestamp(Nanosecond, None)", "Decimal32", "Decimal128(38, 10)")
      .mkString("\t")
    val body = (0 until 2000).map(tsvLine).mkString("\n")
    val p = Files.createTempFile(tempDir("graft_fixture"), "graft_fixture", ".tsv")
    Files.writeString(p, header + "\n" + body + "\n")

    assert(IngestPipeline.detectDelimiter(spark, p.toString) == '\t')
    val raw = IngestPipeline.readRaw(spark, p.toString, '\t')
    val schema = IngestPipeline.inferSchema(raw, fullScan = false) // 1,000-row sample
    val got = schema.fields.map(f => f.name -> f.dataType).toSeq
    val want = Seq(
      "Boolean" -> BooleanType,
      "Int32" -> LongType, // UInt64 in reference vocabulary → Long policy
      "Int64" -> LongType,
      "UInt32" -> LongType,
      "UInt64" -> LongType,
      "Float16" -> DoubleType,
      "Float32" -> DoubleType,
      "Float64" -> DoubleType,
      "Utf8" -> StringType,
      "Utf8View" -> StringType,
      "LargeUtf8" -> StringType,
      "Binary" -> StringType, // binary is never inferred
      "Date32" -> DateType,
      "Timestamp(Millisecond, None)" -> TimestampNTZType,
      "Timestamp(Nanosecond, None)" -> TimestampNTZType,
      "Decimal32" -> DoubleType, // no decimal type in the reference
      "Decimal128(38, 10)" -> DoubleType
    )
    assert(got == want)
    // unit votes: 3-digit fractions → ms; no fraction → ms (default 3)
    assert(schema("Timestamp(Millisecond, None)").metadata
      .getString("graft.timestampUnit") == "TsMilli")
    assert(schema("Timestamp(Nanosecond, None)").metadata
      .getString("graft.timestampUnit") == "TsMilli")

    // values survive conversion: spot-check row 1
    val out = IngestPipeline.applySchema(raw, schema)
    val r1 = out.filter(out.col("Int32") === 1L).collect()(0)
    assert(r1.getAs[Boolean]("Boolean") == false)
    assert(r1.getAs[Long]("Int64") == 1000L)
    assert(r1.getAs[Double]("Float16") == 0.5)
    assert(r1.getAs[String]("Utf8") == "texte_1")
    assert(r1.getAs[java.sql.Date]("Date32") == java.sql.Date.valueOf("2024-01-02"))
    assert(r1.getAs[java.time.LocalDateTime]("Timestamp(Millisecond, None)") ==
      java.time.LocalDateTime.parse("2024-01-01T00:00:00.005"))
  }
}
