package graft.ingest

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}

import graft.{ConvertMain, SparkSpec}
import graft.functions.CellParseSpec

/** The typed build's four entry points — the CLI (`ConvertMain.run`),
  * the stream (`IngestPipeline.convertStream`), the `format("graft")`
  * reader and the JSONL route (`JsonlIngest.convert`) — give identical
  * typed rows, cell for cell, because each calls CellParse. Cells padded
  * with a tab, CR or other control character are part of the corpus:
  * they are invalid in every typed column (the build trims ASCII spaces
  * only) and kept verbatim in a string column. */
class IngestPathsSpec extends SparkSpec {

  /** One column per typed arm. The first 1,000 rows (the inference
    * sample) fix each column's type; every later row puts one corpus
    * cell into every column. */
  private val columns: Seq[(String, Int => String)] = Seq(
    "b" -> (i => if (i % 2 == 0) "true" else "off"),
    "i" -> (i => (i - 500).toString),
    "u" -> (i => i.toString),
    "dec" -> (i => (BigInt(Long.MaxValue) + i).toString),
    "f" -> (i => s"$i.5"),
    "d" -> (i => f"2020-01-${1 + i % 28}%02d"),
    "ts" -> (i => f"2020-01-01 00:00:${i % 60}%02d.123"),
    "ts_s" -> (i => f"2020-01-01 00:00:${i % 60}%02d.5"),
    "s" -> (i => s"v$i"))

  private val expectedTypes = Seq("id" -> "bigint", "b" -> "boolean", "i" -> "bigint",
    "u" -> "bigint", "dec" -> "decimal(20,0)", "f" -> "double", "d" -> "date",
    "ts" -> "timestamp_ntz", "ts_s" -> "timestamp_ntz", "s" -> "string")

  private def table(cells: Seq[String]): Seq[Seq[String]] =
    (0 until 1000).map(i => i.toString +: columns.map(_._2(i))) ++
      cells.zipWithIndex.map { case (c, k) => (1000 + k).toString +: columns.map(_ => c) }

  private def header = "id" +: columns.map(_._1)

  private def csvCell(c: String): String =
    if (c.exists(ch => ch == ',' || ch == '"')) "\"" + c.replace("\"", "\"\"") + "\"" else c

  private def jsonString(c: String): String = c.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  }

  private def writeCsv(dir: Path, name: String, rows: Seq[Seq[String]], cols: Seq[String]): Path =
    Files.writeString(dir.resolve(name),
      (cols +: rows).map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n"))

  private def writeJsonl(dir: Path, name: String, rows: Seq[Seq[String]], cols: Seq[String]): Path =
    Files.writeString(dir.resolve(name), rows.map(r => cols.zip(r)
      .map { case (k, v) => s""""$k":"${jsonString(v)}"""" }.mkString("{", ",", "}"))
      .mkString("", "\n", "\n"))

  private def rowsOf(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  private def viaCli(file: Path): DataFrame = {
    val (out, _, _) = ConvertMain.run(spark,
      ConvertMain.Options(Some(file.toString), fullScan = false), _ => ())
    spark.read.parquet(out)
  }

  /** A streaming typed frame drained once through a memory sink. */
  private def drained(stream: DataFrame, name: String): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tempDir("graft_paths_ckpt").toString).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** The typed rows of `file` through the stream for its format and the
    * graft reader. */
  private def streamAndReader(file: Path, stream: String): Seq[(String, DataFrame)] = {
    val dir = Files.createDirectory(file.getParent.resolve("stream"))
    Files.copy(file, dir.resolve(file.getFileName))
    val jsonl = file.toString.endsWith(".jsonl")
    Seq(
      (if (jsonl) "JsonlIngest.convertStream" else "IngestPipeline.convertStream") -> drained(
        if (jsonl) JsonlIngest.convertStream(spark, dir.toString)
        else IngestPipeline.convertStream(spark, dir.toString), stream),
      "format(graft)" -> spark.read.format("graft").load(file.toString))
  }

  private def assertSame(results: Seq[(String, DataFrame)]): Seq[Row] = {
    val (name0, df0) = results.head
    val want = rowsOf(df0)
    results.tail.foreach { case (name, df) =>
      assert(df.schema.fields.map(f => f.name -> f.dataType).toSeq ==
        df0.schema.fields.map(f => f.name -> f.dataType).toSeq, s"$name vs $name0: schema")
      val got = rowsOf(df)
      assert(got.length == want.length, s"$name vs $name0: row count")
      val diff = got.zip(want).filter { case (g, w) => g != w }
      assert(diff.isEmpty, s"$name vs $name0, first rows that differ:\n" +
        diff.take(5).map { case (g, w) => s"  $g\n  $w" }.mkString("\n"))
    }
    want
  }

  test("the CLI, the stream, the graft reader and the JSONL route type the cell corpus alike") {
    // a CSV line cannot hold a CR or LF; the JSONL test below covers them
    val cells = CellParseSpec.corpus.filterNot(c => c.contains('\n') || c.contains('\r'))
    val rows = table(cells)
    val csvDir = tempDir("graft_paths_csv")
    val csv = writeCsv(csvDir, "cells.csv", rows, header)
    val jsonl = writeJsonl(tempDir("graft_paths_jsonl"), "cells.jsonl", rows, header)
    val results = (("ConvertMain.run" -> viaCli(csv)) +: streamAndReader(csv, "paths_csv_stream")) :+
      ("JsonlIngest.convert" -> JsonlIngest.convert(spark, jsonl.toString))
    assert(results.head._2.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq ==
      expectedTypes)
    val typed = assertSame(results)
    assert(typed.length == rows.length)
    // a tab-padded number, date, timestamp and null token: invalid in
    // every typed column, verbatim in the string column
    Seq("\t42", "1970-01-01\t", "\t1970-01-01 00:00:01", "\tnull").foreach { c =>
      val r = typed(1000 + cells.indexOf(c))
      (1 to 8).foreach(j => assert(r.isNullAt(j), s"'$c' in ${header(j)}"))
      assert(r.getString(9) == c)
    }
  }

  test("CR/LF-padded cells: the CLI, the stream, the graft reader and the JSONL route on JSONL") {
    val rows = table(CellParseSpec.corpus)
    val jsonl = writeJsonl(tempDir("graft_paths_crlf"), "cells.jsonl", rows, header)
    def routes(file: Path, stream: String) = (("ConvertMain.run" -> viaCli(file)) +:
      streamAndReader(file, stream)) :+
      ("JsonlIngest.convert" -> JsonlIngest.convert(spark, file.toString))
    val plain = routes(jsonl, "paths_jsonl_stream")
    val typed = assertSame(plain)
    // a BOM-prefixed copy routes as JSONL and types the same on every path
    val bom = Files.writeString(tempDir("graft_paths_crlf_bom").resolve("cells.jsonl"),
      "\uFEFF" + Files.readString(jsonl))
    assertSame(("plain file" -> plain.head._2) +: routes(bom, "paths_jsonl_bom_stream"))
    def row(c: String) = typed(1000 + CellParseSpec.corpus.indexOf(c))
    Seq("\r42", "\n42", "\r\n42").foreach { c =>
      assert(row(c).isNullAt(2) && row(c).getString(9) == c, c.replace("\r", "<CR>").replace("\n", "<LF>"))
    }
    // the i64 kernels' one-terminator quirk: a final CR, LF or CRLF parses
    Seq("42\r", "42\n", "42\r\n").foreach(c => assert(row(c).getLong(2) == 42L))
  }

  test("a BOM, repeated and empty header names and blank lines read alike on every path") {
    // an empty line, a spaces-only line and a tab-only line are not records
    val tsv = Files.writeString(tempDir("graft_paths_blank").resolve("blank.tsv"),
      "\uFEFFa\tA\t\ta\n11\tx\t10\t2024-01-01\n\n12\ty\t20\t2024-01-02\n" +
        "   \n\t\t\n13\tz\t30\t2024-01-03\n")
    val results = Seq("ConvertMain.run" -> viaCli(tsv),
      "IngestPipeline.convert" -> IngestPipeline.convert(spark, tsv.toString)) ++
      streamAndReader(tsv, "paths_blank_stream")
    results.foreach { case (name, df) =>
      assert(df.columns.toSeq == Seq("a0", "A1", "_c2", "a3"), name)
      assert(df.orderBy("a0").collect().toSeq == (1 to 3).map(i => Row(10L + i,
        "xyz".substring(i - 1, i), 10L * i, java.sql.Date.valueOf(s"2024-01-0$i"))), name)
    }
  }

  test("an epoch whose microseconds overflow a long is a null timestamp on every path") {
    // 10^22 ns is 10^16 ms, whose µs overflow a long; 2^64·10^6 ns is
    // an ms value that itself overflows a long
    val rows = (0 until 1000).map(i => Seq(i.toString, f"2020-01-01 00:00:${i % 60}%02d.123")) :+
      Seq("1000", "10000000000000000000000") :+ Seq("1001", "18446744073709551616000000")
    val cols = Seq("id", "ts")
    val csv = writeCsv(tempDir("graft_paths_us"), "us.csv", rows, cols)
    val jsonl = writeJsonl(tempDir("graft_paths_us_jsonl"), "us.jsonl", rows, cols)
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    val (out, _, errs) = ConvertMain.run(spark,
      ConvertMain.Options(Some(csv.toString), fullScan = false), msgs += _)
    assert(errs == 2L && msgs.contains("[COLUMN ERRORS] ts: 2 parse failures"))
    val typed = assertSame((("ConvertMain.run" -> spark.read.parquet(out)) +:
      streamAndReader(csv, "paths_us_stream")) :+
      ("JsonlIngest.convert" -> JsonlIngest.convert(spark, jsonl.toString)))
    assert(typed(1000).isNullAt(1) && typed(1001).isNullAt(1) && !typed(999).isNullAt(1))
  }

  test("a tab-padded number and null token type alike on every path") {
    val rows = Seq(Seq("1", "\t42", "\tnull"), Seq("2", " 7 ", "x"), Seq("3", "8", "y"))
    val cols = Seq("id", "n", "s")
    val csv = writeCsv(tempDir("graft_paths_tab"), "tab.csv", rows, cols)
    val jsonl = writeJsonl(tempDir("graft_paths_tab_jsonl"), "tab.jsonl", rows, cols)
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    val (out, _, errs) = ConvertMain.run(spark,
      ConvertMain.Options(Some(csv.toString), fullScan = false), msgs += _)
    assert(errs == 1L && msgs.contains("[COLUMN ERRORS] n: 1 parse failures"))
    val typed = assertSame(Seq("ConvertMain.run" -> spark.read.parquet(out),
      "IngestPipeline.applySchema" -> IngestPipeline.convert(spark, csv.toString)) ++
      streamAndReader(csv, "paths_tab_stream") :+
      ("JsonlIngest.convert" -> JsonlIngest.convert(spark, jsonl.toString)))
    assert(typed == Seq(Row(1L, null, "\tnull"), Row(2L, 7L, "x"), Row(3L, 8L, "y")))
  }
}
