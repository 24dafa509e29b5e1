package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.nio.file.Files

/** End-to-end inference + conversion over temp CSV/TSV files, mirroring
  * /root/reference/tests/schema_tests.rs and the 17-column fixture
  * expectations (FIXTURES.md §2).
  */
class IngestPipelineSpec extends SparkSpec {

  private def tempCsv(content: String, suffix: String = ".csv"): String = {
    val f = tempDir("graft").resolve("input" + suffix)
    Files.writeString(f, content)
    f.toString
  }

  test("inferer_schema simple: all-digit → LongType (schema_tests.rs:14-28)") {
    val p = tempCsv("a,b,c\n1,2,3\n4,5,6\n")
    val raw = IngestPipeline.readRaw(spark, p, ',')
    val schema = IngestPipeline.inferSchema(raw, fullScan = true)
    assert(schema.fields.map(_.dataType).toSeq == Seq(LongType, LongType, LongType))
    assert(schema.fields.forall(_.nullable))
  }

  test("inferer_schema mixte: bool/date/float (schema_tests.rs:30-43)") {
    val p = tempCsv("a,b,c\ntrue,2024-01-01,3.14\nfalse,2024-01-02,2.71\n")
    val raw = IngestPipeline.readRaw(spark, p, ',')
    val schema = IngestPipeline.inferSchema(raw, fullScan = true)
    assert(schema.fields.map(_.dataType).toSeq == Seq(BooleanType, DateType, DoubleType))
  }

  test("delimiter detection from file + full convert") {
    val p = tempCsv("x\ty\n1\thello\n2\tNULL\n3\t\n", ".tsv")
    assert(IngestPipeline.detectDelimiter(spark, p) == '\t')
    val df = IngestPipeline.convert(spark, p)
    assert(df.schema.map(_.dataType) == Seq(LongType, StringType))
    val rows = df.orderBy("x").collect()
    assert(rows.map(_.get(1)).toSeq == Seq("hello", null, null))
  }

  test("sampled inference stops at 1000 rows; full scan sees everything") {
    // first 1000 data rows are ints, the tail is text
    val sb = new StringBuilder("v\n")
    (1 to 1000).foreach(i => sb.append(i).append('\n'))
    (1 to 200).foreach(_ => sb.append("text\n"))
    val p = tempCsv(sb.toString)
    val raw = IngestPipeline.readRaw(spark, p, ',')
    assert(IngestPipeline.inferSchema(raw, fullScan = false).head.dataType == LongType)
    assert(IngestPipeline.inferSchema(raw, fullScan = true).head.dataType == StringType)
  }

  test("invalid cells → null, never errors (README parity: permissive)") {
    // date threshold is 99.5% (schema.rs:252-254): 1 bad row in 400 keeps
    // the types; the bad cells convert to null instead of erroring.
    val base = java.time.LocalDate.parse("2024-01-01")
    val rows = (1 to 400).map {
      case 7 => "BAD,not-a-date"
      case i => s"$i,${base.plusDays(i.toLong)}"
    }
    val p = tempCsv("n,d\n" + rows.mkString("\n") + "\n")
    val df = IngestPipeline.convert(spark, p, fullScan = true)
    assert(df.schema.map(_.dataType) == Seq(LongType, DateType))
    val bad = df.filter(df.col("n").isNull).collect()
    assert(bad.length == 1 && bad(0).isNullAt(1))
  }

  test("conversion error accounting counts only genuine failures (O16)") {
    val p = tempCsv("n,d\n1,2024-01-01\nBAD,2024-01-02\nNULL,not-a-date\n4,\n")
    val raw = IngestPipeline.readRaw(spark, p, ',')
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", LongType, true),
      org.apache.spark.sql.types.StructField("d", DateType, true)))
    val errs = PipelineSinks.conversionErrorCounts(raw, schema)
    // BAD fails the long cast; not-a-date fails the date cast;
    // NULL and empty are null TOKENS, not errors
    assert(errs == Map("n" -> 1L, "d" -> 1L))
  }

  test("ordered single-file sink reproduces input order (O12)") {
    val p = tempCsv("k,v\n3,c\n1,a\n2,b\n")
    val df = IngestPipeline.convert(spark, p, fullScan = true)
    val out = tempDir("graft_ordered").toString
    PipelineSinks.writeParquetSingleOrdered(df, out, Seq("k"))
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1) // single file like the reference's writer
    val back = spark.read.parquet(out).collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("timestamp unit vote survives into metadata") {
    val p = tempCsv("t\n2024-01-01 12:00:00.123456789\n2024-01-02 08:00:00.987654321\n")
    val raw = IngestPipeline.readRaw(spark, p, ',')
    val schema = IngestPipeline.inferSchema(raw, fullScan = true)
    assert(schema.head.dataType == TimestampNTZType)
    assert(schema.head.metadata.getString("graft.timestampUnit") == "TsNano")
    // conversion still truncates to ms (reference §1.4: sub-ms destroyed)
    val out = IngestPipeline.applySchema(raw, schema).collect()
    assert(out(0).getAs[java.time.LocalDateTime](0) ==
      java.time.LocalDateTime.parse("2024-01-01T12:00:00.123"))
  }
}
