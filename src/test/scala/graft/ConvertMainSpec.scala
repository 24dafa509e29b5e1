package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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
    val dir = tempDir("graft_cli")
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

  test("a split conversion is one parallel stage: a row group per split, in input order") {
    // every cell kind the writer encodes, a TimestampNTZ column included
    val fixture = tempDir("graft_cli_split").resolve("typed.tsv")
    Files.write(fixture, (0 until 6000).map { i =>
      val day = f"2024-01-${1 + i % 28}%02d"
      f"$i\tname_$i\t${i * 0.5}\t${i % 2 == 0}\t$day\t$day ${i % 24}%02d:${i % 60}%02d:07"
    }.mkString("id\tname\tscore\tflag\tday\tts\n", "\n", "\n").getBytes("UTF-8"))
    // the unsplit conversion: one scan task, so one part file, the
    // rows of the single-task plan
    val (out, _, _) = ConvertMain.run(spark,
      ConvertMain.Options(Some(fixture.toString), fullScan = false), _ => ())
    val unsplit = spark.read.parquet(out).collect().toSeq
    Files.delete(Paths.get(out))

    val key = "spark.sql.files.maxPartitionBytes"
    withSQLConf(key -> (Files.size(fixture) / 5).toString) {
      val raw = IngestPipeline.readRaw(spark, fixture.toString, '\t')
      val splitRows = raw.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
      assert(splitRows.length >= 4, s"expected at least 4 scan splits, got ${splitRows.length}")
      val schema = IngestPipeline.inferSchema(raw, fullScan = false)

      // after the schema line: one job, and no shuffle write in it
      val phase = "graft.spec.splitConvert"
      val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val shuffled = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty(phase) != null) {
            e.stageIds.foreach(stages.add(_))
            started.add(e.jobId)
          }
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId) && e.taskMetrics != null)
            shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (started.contains(e.jobId)) ended.add(e.jobId)
      }
      spark.sparkContext.addSparkListener(listener)
      val (splitOut, rows, _) = try {
        val r = ConvertMain.run(spark,
          ConvertMain.Options(Some(fixture.toString), fullScan = false),
          msg => if (msg.startsWith("[OK] schema detected"))
            spark.sparkContext.setLocalProperty(phase, "1"))
        val deadline = System.currentTimeMillis() + 10000
        while ((started.isEmpty || ended.size < started.size) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
        r
      } finally {
        spark.sparkContext.setLocalProperty(phase, null)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(rows == 6000L && splitOut == out)
      assert(started.size == 1 && ended.size == 1, s"jobs after the schema line: $started")
      assert(shuffled.get() == 0L, s"shuffle bytes written: ${shuffled.get()}")

      val reader = footerOf(splitOut)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        assert(blocks.map(_.getRowCount) == splitRows.filter(_ > 0),
          "one row group per non-empty split, in split order")
        assert(blocks.forall(_.getRowCount <= IngestPipeline.rowGroupRows(6)))
        for (b <- blocks; c <- b.getColumns.asScala) {
          assert(c.getCodec.toString == "ZSTD", s"${c.getPath}: ${c.getCodec}")
          assert(reader.readColumnIndex(c) != null, s"${c.getPath}: no column index")
          assert(reader.readOffsetIndex(c) != null, s"${c.getPath}: no offset index")
        }
      } finally reader.close()

      val back = spark.read.parquet(splitOut)
      assert(back.schema.map(f => f.name -> f.dataType) == schema.map(f => f.name -> f.dataType))
      assert(back.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      val got = back.collect().toSeq
      assert(got == unsplit, "split rows must equal the unsplit conversion's, in order")
      assert(got.map(_.getLong(0)) == (0L until 6000L), "row order must match the input file")
    }
  }

  test("part files append in task order, then file order, not name order") {
    val names = Seq("part-100000-u-c000.zstd.parquet", "part-00001-u-c001.zstd.parquet",
      "part-99999-u-c000.zstd.parquet", "part-00001-u-c000.zstd.parquet")
    val ordered = IngestPipeline.partOrder(names.map(new org.apache.hadoop.fs.Path(_)))
    assert(ordered.map(_.getName) == Seq("part-00001-u-c000.zstd.parquet",
      "part-00001-u-c001.zstd.parquet", "part-99999-u-c000.zstd.parquet",
      "part-100000-u-c000.zstd.parquet"))
    // a real job id is a UUID, hyphens and hex included
    val uuid = "part-00002-1c0d2a1e-c001-4a6e-9f3b-c00000000000-c003.snappy.parquet"
    assert(IngestPipeline.partOrder(Seq(new org.apache.hadoop.fs.Path(uuid)))
      .map(_.getName) == Seq(uuid))
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

  test("a gzip TSV converts through the CLI like the plain file") {
    val fixture = writeFixture(rows = 1200, badTail = 50)
    val gz = tempDir("graft_cli_gz").resolve("fixture.tsv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try Files.copy(fixture, out) finally out.close()
    val (plainOut, plainRows, plainErrs) = ConvertMain.run(spark,
      ConvertMain.Options(Some(fixture.toString), fullScan = false), _ => ())
    val (gzOut, gzRows, gzErrs) = ConvertMain.run(spark,
      ConvertMain.Options(Some(gz.toString), fullScan = false), _ => ())
    assert(gzOut == gz.getParent.resolve("fixture.tsv.parquet").toString)
    assert((gzRows, gzErrs) == ((plainRows, plainErrs)))
    val plain = spark.read.parquet(plainOut)
    val viaGz = spark.read.parquet(gzOut)
    assert(viaGz.schema == plain.schema)
    assert(viaGz.collect().toSeq == plain.collect().toSeq)
  }

  test("a header-only file converts to a zero-row parquet with its header's columns") {
    val f = tempDir("graft_cli_header_only").resolve("h.tsv")
    Files.writeString(f, "id\tname\tscore\n")
    val (out, rows, errs) = ConvertMain.run(spark,
      ConvertMain.Options(Some(f.toString), fullScan = false), _ => ())
    assert(rows == 0L && errs == 0L)
    val back = spark.read.parquet(out)
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    assert(back.count() == 0L)
  }

  test("an empty directory fails with an IllegalArgumentException naming the path") {
    val dir = Files.createDirectory(tempDir("graft_cli_empty_dir").resolve("in"))
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    val cli = intercept[IllegalArgumentException] {
      ConvertMain.run(spark, ConvertMain.Options(Some(dir.toString), fullScan = false), _ => ())
    }
    assert(cli.getMessage.contains(dir.toString), cli.getMessage)
    val reader = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(dir.toString).collect()
    }
    assert(reader.getMessage.contains(dir.toString), reader.getMessage)
  }

  test("an empty file fails with an IllegalArgumentException naming the path") {
    val f = tempDir("graft_cli_empty_file").resolve("e.tsv")
    Files.write(f, Array.emptyByteArray)
    val e = intercept[IllegalArgumentException] {
      ConvertMain.run(spark, ConvertMain.Options(Some(f.toString), fullScan = false), _ => ())
    }
    assert(e.getMessage.contains(f.toString), e.getMessage)
    val reader = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(f.toString).collect()
    }
    assert(reader.getMessage.contains(f.toString), reader.getMessage)
  }

  test("stdin input ('-') converts to stdin.parquet in the working directory") {
    val tsv = "a\tb\n1\tx\n2\ty\n"
    val oldIn = System.in
    try {
      System.setIn(new java.io.ByteArrayInputStream(tsv.getBytes("UTF-8")))
      val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
      val (out, rows, _) = ConvertMain.run(spark,
        ConvertMain.Options(Some("-"), fullScan = false), msgs += _)
      assert(out == "stdin.parquet" && rows == 2L)
      assert(Files.isRegularFile(Paths.get("stdin.parquet")))
      // the staged copy of stdin is removed once the conversion ends
      val staged = msgs.collectFirst {
        case m if m.startsWith("[INFO] stdin written to ") =>
          Paths.get(m.stripPrefix("[INFO] stdin written to "))
      }
      assert(staged.isDefined, s"no staging message in $msgs")
      assert(!Files.exists(staged.get), s"staged stdin left behind: ${staged.get}")
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
    val out = tempDir("graft_footer").resolve("t.parquet").toString
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
    val dir = tempDir("graft_rg").toString + "/t"
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

  test("progress ticker prints nothing after stop() returns") {
    // each tick moves the position, so every tick prints; a stop that
    // lands in the sleep must not let one more line through
    for (_ <- 1 to 10) {
      val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
      val late = new java.util.concurrent.atomic.AtomicInteger(0)
      val printed = new java.util.concurrent.atomic.AtomicInteger(0)
      var ticker: ProgressTicker = null
      ticker = new ProgressTicker(spark, None, _ => {
        if (stopped.get()) late.incrementAndGet()
        printed.incrementAndGet()
        ticker.rowsRead.incrementAndGet()
      }, tickMillis = 20L)
      ticker.rowsRead.set(1L)
      ticker.start()
      val deadline = System.currentTimeMillis() + 5000
      while (printed.get() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(5)
      Thread.sleep(7)
      ticker.stop()
      stopped.set(true)
      Thread.sleep(60)
      assert(printed.get() >= 2, "the ticker never printed")
      assert(late.get() == 0, s"${late.get()} progress line(s) after stop() returned")
    }
  }

  test("e2e: a DIRECTORY of part files converts through the CLI path") {
    // remote-FS shape: input is a directory, so the exact line pre-count
    // is skipped (estimate path) and all parts union into one output
    val dir = tempDir("graft_cli_dir")
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

  test("a directory converts in file-name order, whatever the file sizes") {
    // Spark packs splits largest first, so a 3-row a.tsv next to a
    // 5,000-row b.tsv lands after it in scan order
    val dir = tempDir("graft_cli_dir_order")
    val data = Files.createDirectory(dir.resolve("batch"))
    def part(name: String, n: Int): Unit =
      Files.writeString(data.resolve(s"$name.tsv"),
        (0 until n).map(i => s"$name$i\t$i").mkString("key\tn\n", "\n", "\n"))
    part("a", 3)
    part("b", 5000)
    val (out, rows, _) = ConvertMain.run(spark,
      ConvertMain.Options(Some(data.toString), fullScan = false), _ => ())
    assert(rows == 5003L)
    val keys = spark.read.parquet(out).collect().map(_.getString(0)).toSeq
    assert(keys == (0 until 3).map(i => s"a$i") ++ (0 until 5000).map(i => s"b$i"))
  }

  test("denominator-less sources get a bytes-derived estimate, marked approximate") {
    // a DIRECTORY of part files takes the no-exact-count path that
    // remote filesystems hit — the estimate must land near the truth
    val dir = tempDir("graft_progress_est")
    def lines(start: Int, n: Int) = (start until start + n)
      .map(i => s"$i\tname_$i\t${i * 0.25}").mkString("id\tname\tscore\n", "\n", "\n")
    Files.writeString(dir.resolve("p1.tsv"), lines(0, 3000))
    Files.writeString(dir.resolve("p2.tsv"), lines(3000, 3000))
    val est = ConvertMain.estimateRowsFromBytes(spark, dir.toString)
    assert(est.isDefined, "directory input must produce an estimate")
    assert(math.abs(est.get - 6000L) < 600L, s"estimate ${est.get} not within 10% of 6000")

    // a header-only leading part file must not poison the estimate with
    // '~0' — sampling falls through to the first file with data lines
    val dir2 = tempDir("graft_progress_est_hdr")
    Files.writeString(dir2.resolve("a_empty.tsv"), "id\tname\tscore\n")
    Files.writeString(dir2.resolve("b_data.tsv"), lines(0, 3000))
    val est2 = ConvertMain.estimateRowsFromBytes(spark, dir2.toString)
    assert(est2.isDefined, "header-only first file must not drop the estimate")
    assert(math.abs(est2.get - 3000L) < 300L,
      s"estimate ${est2.get} not within 10% of 3000")

    // all part files header-only -> no denominator at all, never Some(0)
    val dir3 = tempDir("graft_progress_est_none")
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
