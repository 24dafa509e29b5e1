package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL through the graft DSv2 source: the JSON tokenizer behind the
  * SAME typed scan as the delimited path — schema inference via the
  * shared ladder, filters and aggregates above the scan, column-pruned
  * parsing, raw
  * nested capture, PERMISSIVE malformed lines, byte-range splits (JSONL
  * has no header, so every newline-aligned split is a clean row
  * boundary), and the micro-batch stream. */
class GraftJsonlSourceSpec extends SparkSpec {

  private lazy val fixture: String = {
    val dir = tempDir("graft_jsonl_src")
    val f = dir.resolve("data.jsonl")
    val lines = (0 until 3000).map { i =>
      val tag = s"t${i % 7}"
      val meta = s"""{"k":${i % 3}}"""
      s"""{"id":$i,"score":${i * 0.25},"tag":"$tag","meta":$meta}"""
    } :+ "{{{ not json"
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      Files.deleteIfExists(f); Files.deleteIfExists(dir)
    }))
    f.toString
  }

  private def read() = spark.read.format("graft").load(fixture)

  test("schema infers through the shared ladder; values round-trip") {
    val df = read()
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      Seq("id" -> LongType, "score" -> DoubleType,
        "tag" -> StringType, "meta" -> StringType))
    assert(df.count() == 3001) // malformed line is an all-null row
    val r = df.filter(col("id") === 42).collect()
    assert(r.length == 1 && r(0).getDouble(1) == 10.5 && r(0).getString(2) == "t0")
  }

  test("nested objects capture as raw JSON text") {
    val r = read().filter(col("id") === 5).select("meta").collect()
    assert(r(0).getString(0) == """{"k":2}""")
  }

  test("malformed line null-pads like the delimited PERMISSIVE path") {
    assert(read().filter(col("id").isNull).count() == 1)
  }

  test("filters push into the JSON reader and prune the parse") {
    val df = read().filter(col("score") > 700.0).select("id", "score")
    assert(df.count() == 199) // ids 2801..2999
  }

  test("column pruning reaches the scan (unprojected keys are skipped)") {
    val df = read().select("tag")
    // DSv2 plans render the scan's (pruned) output on the BatchScan line
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("tag#") && !scanLine.contains("meta#"),
      s"scan not pruned: $scanLine")
    assert(df.distinct().count() == 8) // 7 tags + the malformed line's null
  }

  test("byte-range splits: >1 partition, rows identical to the unsplit read") {
    val unsplit = read().collect().map(_.toString).sorted.toSeq
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "8192") {
      val df = read()
      assert(df.rdd.getNumPartitions > 4,
        s"expected byte-range splits, got ${df.rdd.getNumPartitions}")
      val split = df.collect().map(_.toString).sorted.toSeq
      assert(split == unsplit)
    }
  }

  test("aggregate pushdown folds JSONL partitions during the parse") {
    val df = read().groupBy("tag")
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
        min(col("score")).as("min_s"), max(col("score")).as("max_s"))
    // parity against the pipeline form
    val want = graft.ingest.JsonlIngest.convert(spark, fixture)
      .groupBy("tag")
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
        min(col("score")).as("min_s"), max(col("score")).as("max_s"))
      .orderBy("tag").collect().toSeq
    assert(df.orderBy("tag").collect().toSeq == want)
  }

  test("JSONL writer round-trips through the reader, newlines included") {
    import spark.implicits._
    val dir = tempDir("graft_jsonl_writer").resolve("out").toString
    val df = Seq(
      (1L, Some("line1\nline2"), Some(2.5), Some(true)),
      (2L, Some("""quote " and \ slash"""), None, Some(false)),
      (3L, None, Some(-0.125), None)
    ).toDF("id", "text", "score", "flag")
    // the delimited writer must REJECT embedded newlines; JSONL carries
    // them as \n escapes — that is the format's point
    df.write.format("graft").option("format", "jsonl").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles.map(_.getName).filter(_.endsWith(".jsonl"))
    assert(files.nonEmpty, "expected .jsonl part files")
    val back = spark.read.format("graft").load(dir)
    assert(back.schema.map(_.dataType) ==
      Seq(LongType, StringType, DoubleType, BooleanType))
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3))))
    assert(got.toSeq == Seq(
      (1L, Some("line1\nline2"), Some(2.5), Some(true)),
      (2L, Some("""quote " and \ slash"""), None, Some(false)),
      (3L, None, Some(-0.125), None)))
  }

  test("raw nested capture survives surrogate pairs before the value") {
    // token char-offsets count UTF-16 units; an emoji (surrogate pair)
    // before the nested value must not shift the captured substring
    val dir = tempDir("graft_jsonl_emoji")
    val f = dir.resolve("d.jsonl")
    Files.writeString(f,
      "{\"a\":\"x😀y\",\"b\":{\"k\":1},\"c\":[2,3]}\n")
    val df = spark.read.format("graft").load(f.toString)
    val r = df.collect()(0)
    assert(r.getString(0) == "x😀y")
    assert(r.getString(1) == """{"k":1}""")
    assert(r.getString(2) == "[2,3]")
  }

  test("duplicate keys: LAST occurrence wins in both JSONL paths") {
    val dir = tempDir("graft_jsonl_dup")
    val f = dir.resolve("d.jsonl")
    Files.writeString(f, """{"a":"first","a":"second","b":"x"}""" + "\n")
    val viaSource = spark.read.format("graft").load(f.toString).collect()(0)
    val viaPipeline = graft.ingest.JsonlIngest.convert(spark, f.toString).collect()(0)
    assert(viaSource.getString(0) == "second" && viaPipeline.getString(0) == "second",
      s"dup-key divergence: source=${viaSource.getString(0)} pipeline=${viaPipeline.getString(0)}")
  }

  test("gzipped JSONL reads through the same path, one partition per member") {
    val dir = tempDir("graft_jsonl_gz")
    val f = dir.resolve("data.jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(f))
    out.write((0 until 100).map(i => s"""{"n":$i,"s":"v$i"}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    val df = spark.read.format("graft").load(f.toString)
    assert(df.schema.map(_.dataType) == Seq(LongType, StringType))
    assert(df.count() == 100)
    assert(df.rdd.getNumPartitions == 1) // gzip members stay unsplittable
    assert(df.filter(col("n") === 7).collect()(0).getString(1) == "v7")
  }

  test("micro-batch stream: later JSONL files convert incrementally") {
    val dir = tempDir("graft_jsonl_stream_src")
    Files.writeString(dir.resolve("a.jsonl"), """{"n":10,"s":"x"}""" + "\n")
    val stream = spark.readStream.format("graft").load(dir.toString)
    assert(stream.isStreaming)
    assert(stream.schema.map(_.dataType) == Seq(LongType, StringType))
    val q = stream.writeStream.format("memory")
      .queryName("graft_jsonl_src_t").outputMode("append").start()
    try {
      q.processAllAvailable()
      Files.writeString(dir.resolve("b.jsonl"),
        """{"n":20,"s":"y"}""" + "\n" + """{"n":30}""" + "\n")
      q.processAllAvailable()
      val got = spark.table("graft_jsonl_src_t").orderBy("n")
        .collect().map(r => (r.getLong(0), Option(r.getString(1))))
      assert(got.toSeq == Seq((10L, Some("x")), (20L, Some("y")), (30L, None)))
    } finally q.stop()
  }
}
