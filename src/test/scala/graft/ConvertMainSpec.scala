package graft

import java.nio.file.{Files, Paths}

import graft.ingest.{IngestPipeline, ProgressTicker}
import org.apache.spark.sql.functions._

/** The conversion CLI contract (reference main.rs:39-137): output-path
  * derivation, stdin handling, full pipeline e2e with input-order
  * single-FILE output, capped error display, and the parquet writer
  * parity details (codec + row-group policy) read back from the footer. */
class ConvertMainSpec extends SparkSpec {

  test("output path derivation matches the reference's file_stem rules") {
    assert(ConvertMain.deriveOutputPath("/a/b/data.tsv") == "/a/b/data.parquet")
    assert(ConvertMain.deriveOutputPath("data.csv") == "data.parquet")
    assert(ConvertMain.deriveOutputPath("/a/archive.tar.gz") == "/a/archive.tar.parquet")
    assert(ConvertMain.deriveOutputPath("/a/noext") == "/a/noext.parquet")
    assert(ConvertMain.deriveOutputPath(".hidden") == ".hidden.parquet")
  }

  test("arg parsing: flag, positional, unknown flag, extra positional") {
    assert(ConvertMain.parseArgs(Seq("in.tsv")) ==
      Right(ConvertMain.Options(Some("in.tsv"), fullScan = false)))
    assert(ConvertMain.parseArgs(Seq("--inferer-schema-complet", "in.tsv")) ==
      Right(ConvertMain.Options(Some("in.tsv"), fullScan = true)))
    assert(ConvertMain.parseArgs(Seq("--nope", "x")).isLeft)
    assert(ConvertMain.parseArgs(Seq("a.tsv", "b.tsv")).isLeft)
    assert(ConvertMain.parseArgs(Seq()) == Right(ConvertMain.Options(None, false)))
  }

  test("error display caps at 10 column lines like the reference") {
    val counts = (1 to 12).map(i => f"c$i%02d" -> i.toLong).toMap + ("ok" -> 0L)
    val report = ConvertMain.errorReport(counts)
    assert(report.length == 11)
    assert(report.take(10).forall(_.startsWith("[COLUMN ERRORS]")))
    assert(report.last.contains("masked"))
    assert(ConvertMain.errorReport(Map("a" -> 0L)).isEmpty)
  }

  private def writeFixture(rows: Int, badTail: Int): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_cli")
    val f = dir.resolve("fixture.tsv")
    val sb = new StringBuilder("id\tname\tscore\tflag\tn\n")
    (0 until rows).foreach { i =>
      val n = if (i >= rows - badTail) "xx" else (i * 7).toString
      sb.append(s"$i\tname_$i\t${i * 0.5}\ttrue\t$n\n")
    }
    Files.write(f, sb.toString.getBytes("UTF-8"))
    f
  }

  test("e2e: convert a TSV via the CLI path — single ordered file, errors counted") {
    // bad values land AFTER the 1,000-row inference sample, so column n
    // infers LONG from the clean sample and the tail genuinely fails
    val fixture = writeFixture(rows = 1200, badTail = 50)
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    val (out, rows, errs) = ConvertMain.run(spark,
      ConvertMain.Options(Some(fixture.toString), fullScan = false), msgs += _)

    assert(out == fixture.getParent.resolve("fixture.parquet").toString)
    assert(Files.isRegularFile(Paths.get(out)), "output must be a FILE, not a directory")
    assert(rows == 1200L)
    assert(errs == 50L)
    assert(msgs.exists(_.contains("[COLUMN ERRORS] n: 50")))
    assert(msgs.exists(_.startsWith("[OK] schema detected: 5")))

    val back = spark.read.parquet(out)
    import org.apache.spark.sql.types._
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("id") == LongType && types("n") == LongType)
    assert(types("score") == DoubleType && types("flag") == BooleanType)
    // input order preserved end-to-end (O12 single-writer parity)
    val ids = back.select("id").collect().map(_.getLong(0))
    assert(ids.toSeq == (0L until 1200L), "row order must match the input file")
  }

  test("input order survives a scan split into several partitions") {
    // the 1,200-row fixture above fits one scan split; shrinking the
    // split size makes the tag-and-exchange ordering span partitions
    val fixture = writeFixture(rows = 6000, badTail = 0)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (Files.size(fixture) / 5).toString)
    try {
      val splits = IngestPipeline.readRaw(spark, fixture.toString, '\t').rdd.getNumPartitions
      assert(splits >= 4, s"expected at least 4 scan splits, got $splits")
      val (out, rows, _) = ConvertMain.run(spark,
        ConvertMain.Options(Some(fixture.toString), fullScan = false), _ => ())
      assert(rows == 6000L)
      assert(Files.isRegularFile(Paths.get(out)), "output must be one part FILE")
      val ids = spark.read.parquet(out).select("id").collect().map(_.getLong(0))
      assert(ids.toSeq == (0L until 6000L), "row order must match the input file")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("after inference the conversion reads its input exactly once") {
    // every job run() starts after the schema line carries a local
    // property; their scan records must add up to the data rows, so a
    // second read (e.g. a range-bound sampling job) shows as a surplus
    val fixture = writeFixture(rows = 3000, badTail = 0)
    val phase = "graft.spec.afterInference"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(phase) != null) {
          e.stageIds.foreach(stages.add(_))
          started.add(e.jobId)
        }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (started.contains(e.jobId)) ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (_, rows, _) = ConvertMain.run(spark,
        ConvertMain.Options(Some(fixture.toString), fullScan = false),
        msg => if (msg.startsWith("[OK] schema detected"))
          spark.sparkContext.setLocalProperty(phase, "1"))
      val deadline = System.currentTimeMillis() + 10000
      while ((started.isEmpty || ended.size < started.size) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!started.isEmpty && ended.size == started.size, "conversion jobs did not end")
      assert(rows == 3000L)
      assert(records.get() == 3000L, s"scan records after inference: ${records.get()}")
    } finally {
      spark.sparkContext.setLocalProperty(phase, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("stdin input ('-') converts to stdin.parquet in the working directory") {
    val tsv = "a\tb\n1\tx\n2\ty\n"
    val oldIn = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream(tsv.getBytes("UTF-8")))
      val (out, rows, _) = ConvertMain.run(spark,
        ConvertMain.Options(Some("-"), fullScan = false), _ => ())
      assert(out == "stdin.parquet" && rows == 2L)
      assert(Files.isRegularFile(Paths.get("stdin.parquet")))
    } finally {
      System.setIn(oldIn)
      Files.deleteIfExists(Paths.get("stdin.parquet"))
      // ChecksumFileSystem leaves a .crc sidecar next to the renamed file
      Files.deleteIfExists(Paths.get(".stdin.parquet.crc"))
    }
  }

  test("empty stdin fails like the reference") {
    val oldIn = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream(Array.emptyByteArray))
      intercept[IllegalArgumentException] {
        ConvertMain.run(spark, ConvertMain.Options(Some("-"), false), _ => ())
      }
    } finally System.setIn(oldIn)
  }

  test("interactive stdin ('-' at a TTY) refuses with help instead of hanging") {
    // main.rs:46-49: '-' with stdin attached to a terminal must error
    // out (help + message), never block on a read that can't complete
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    val e = intercept[IllegalArgumentException] {
      ConvertMain.run(spark, ConvertMain.Options(Some("-"), false),
        msgs += _, stdinIsTty = () => true)
    }
    assert(e.getMessage.contains("no stream is redirected"))
    assert(msgs.exists(_.contains("Usage: graft-convert")), "help must print first")
  }

  test("footer row count check: written parquet accounts for every input row") {
    val fixture = writeFixture(rows = 100, badTail = 0)
    val (out, rows, _) = ConvertMain.run(spark,
      ConvertMain.Options(Some(fixture.toString), fullScan = false), _ => ())
    assert(ConvertMain.footerRowCount(spark, out) == rows)
  }

  // ── writer parity: footer-level evidence (VERDICT #4) ─────────────

  private def footerOf(file: String) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(file)
    org.apache.parquet.hadoop.ParquetFileReader
      .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
  }

  test("parquet footer: ZSTD codec and block-bounded row groups") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, s"s$i")).toDF("a", "b")
    val out = Files.createTempDirectory("graft_footer").resolve("t.parquet").toString
    IngestPipeline.writeParquetSingleFile(df.orderBy("a"), out)
    val reader = footerOf(out)
    try {
      val meta = reader.getFooter.getBlocks
      assert(meta.size() == 1, "1,000 rows fit one 250k-row block")
      assert(meta.get(0).getRowCount == 1000L)
      val codecs = meta.get(0).getColumns.asInstanceOf[java.util.List[_]]
      val codec = meta.get(0).getColumns.get(0).getCodec.toString
      assert(codec == "ZSTD", s"expected ZSTD codec, got $codec")
      assert(codecs.size() == 2)
    } finally reader.close()
  }

  test("row-group row limit takes effect through writerOptions plumbing") {
    import spark.implicits._
    // same option key writerOptions uses, with a tiny limit so a small
    // frame proves the mechanism splits row groups at the bound
    val df = (0 until 1000).map(i => (i.toLong, i.toString)).toDF("a", "b")
    val dir = Files.createTempDirectory("graft_rg").toString + "/t"
    df.coalesce(1).write.mode("overwrite")
      .options(IngestPipeline.writerOptions(2) + ("parquet.block.row.count.limit" -> "300"))
      .parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val reader = footerOf(part.toString)
    try {
      val blocks = reader.getFooter.getBlocks
      assert(blocks.size() >= 3, s"expected >=3 row groups at limit 300, got ${blocks.size()}")
      (0 until blocks.size()).foreach(i => assert(blocks.get(i).getRowCount <= 300L))
    } finally reader.close()
  }

  test("rowGroupRows follows the reference's adaptive block policy") {
    assert(IngestPipeline.rowGroupRows(5) == 250000)
    assert(IngestPipeline.rowGroupRows(20) == 250000)
    assert(IngestPipeline.rowGroupRows(21) == 150000)
    assert(IngestPipeline.rowGroupRows(50) == 150000)
    assert(IngestPipeline.rowGroupRows(51) == 5000)
  }

  // ── progress listener (VERDICT #6 / O15) ──────────────────────────

  test("progress ticker accumulates scan records and reports rows/s") {
    val fixture = writeFixture(rows = 5000, badTail = 0)
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ticker = new ProgressTicker(spark, Some(5000L), msgs.add(_), tickMillis = 50L)
    ticker.start()
    try {
      val raw = IngestPipeline.readRaw(spark, fixture.toString, '\t')
      raw.count()
      // listener bus is async; poll briefly for the task-end events
      val deadline = System.currentTimeMillis() + 5000
      while (ticker.rowsRead.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(ticker.rowsRead.get() >= 5000L,
        s"listener saw ${ticker.rowsRead.get()} records")
      val tickDeadline = System.currentTimeMillis() + 2000
      while (msgs.isEmpty && System.currentTimeMillis() < tickDeadline)
        Thread.sleep(50)
      assert(!msgs.isEmpty, "ticker should emit at least one progress line")
      assert(msgs.peek().startsWith("[PROGRESS]"))
    } finally ticker.stop()
  }

  test("e2e: a DIRECTORY of part files converts through the CLI path") {
    // remote-FS shape: input is a directory, so the exact line pre-count
    // is skipped (estimate path) and all parts union into one output
    val dir = Files.createTempDirectory("graft_cli_dir")
    val data = Files.createDirectory(dir.resolve("batch"))
    def part(name: String, from: Int, n: Int): Unit =
      Files.writeString(data.resolve(name), (from until from + n)
        .map(i => s"$i\tv_$i\t${i * 0.5}")
        .mkString("id\tname\tscore\n", "\n", "\n"))
    part("a.tsv", 0, 400)
    part("b.tsv", 400, 400)
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    val (out, rows, errs) = ConvertMain.run(spark,
      ConvertMain.Options(Some(data.toString), fullScan = false), msgs += _)
    assert(out == dir.resolve("batch.parquet").toString)
    assert(rows == 800L && errs == 0L)
    val back = spark.read.parquet(out)
    assert(back.count() == 800)
    assert(back.schema.fields.map(_.dataType.typeName).toSeq ==
      Seq("long", "string", "double"))
  }

  test("denominator-less sources get a bytes-derived estimate, marked approximate") {
    // a DIRECTORY of part files takes the no-exact-count path that
    // remote filesystems hit — the estimate must land near the truth
    val dir = Files.createTempDirectory("graft_progress_est")
    def lines(start: Int, n: Int) = (start until start + n)
      .map(i => s"$i\tname_$i\t${i * 0.25}").mkString("id\tname\tscore\n", "\n", "\n")
    Files.writeString(dir.resolve("p1.tsv"), lines(0, 3000))
    Files.writeString(dir.resolve("p2.tsv"), lines(3000, 3000))
    val est = ConvertMain.estimateRowsFromBytes(spark, dir.toString)
    assert(est.isDefined, "directory input must produce an estimate")
    assert(math.abs(est.get - 6000L) < 600L, s"estimate ${est.get} not within 10% of 6000")

    // a header-only leading part file must not poison the estimate with
    // '~0' — sampling falls through to the first file with data lines
    val dir2 = Files.createTempDirectory("graft_progress_est_hdr")
    Files.writeString(dir2.resolve("a_empty.tsv"), "id\tname\tscore\n")
    Files.writeString(dir2.resolve("b_data.tsv"), lines(0, 3000))
    val est2 = ConvertMain.estimateRowsFromBytes(spark, dir2.toString)
    assert(est2.isDefined, "header-only first file must not drop the estimate")
    assert(math.abs(est2.get - 3000L) < 300L,
      s"estimate ${est2.get} not within 10% of 3000")

    // all part files header-only -> no denominator at all, never Some(0)
    val dir3 = Files.createTempDirectory("graft_progress_est_none")
    Files.writeString(dir3.resolve("a.tsv"), "id\tname\tscore\n")
    assert(ConvertMain.estimateRowsFromBytes(spark, dir3.toString).isEmpty)

    // the ticker renders an estimated denominator as /~N
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ticker = new ProgressTicker(spark, est, msgs.add(_),
      tickMillis = 50L, approxTotal = true)
    ticker.start()
    try {
      IngestPipeline.readRaw(spark, dir.toString, '\t').count()
      val deadline = System.currentTimeMillis() + 5000
      while (msgs.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(!msgs.isEmpty && msgs.peek().contains("/~"),
        s"expected approx denominator, got: ${msgs.peek()}")
    } finally ticker.stop()
  }
}
