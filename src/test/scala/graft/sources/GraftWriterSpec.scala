package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The graft write path must be the reader's exact inverse: a typed
  * frame written with `format("graft")` and read back through
  * `format("graft")` reproduces the frame — values, nulls, quoting —
  * and the writer's file layout honors overwrite/append semantics and
  * the hidden-file convention. */
class GraftWriterSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("flag", BooleanType),
    StructField("d", DateType),
    StructField("ts", TimestampNTZType)))

  private def sampleDf = {
    val rows = Seq(
      Row(1L, "plain", 1.5, true,
        java.sql.Date.valueOf("2024-01-02"),
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 678000000)),
      Row(2L, "has\ttab and \"quotes\"", -0.25, false,
        java.sql.Date.valueOf("1969-12-31"),
        java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59, 1000000)),
      Row(3L, null, null, null, null, null),
      Row(4L, "sep,inside", 1e300, true,
        java.sql.Date.valueOf("2000-02-29"),
        java.time.LocalDateTime.of(2000, 2, 29, 0, 0, 0, 0)))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("write → read round-trips values, nulls, and quoting") {
    val dir = tempDir("graft_w_rt").toString
    sampleDf.write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    // inference re-derives the same types from the rendered text
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("id") == LongType && types("score") == DoubleType)
    assert(types("flag") == BooleanType && types("d") == DateType)
    assert(types("ts") == TimestampNTZType && types("name") == StringType)
    val a = sampleDf.orderBy("id").collect()
    val b = back.orderBy("id").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"\n  wrote: $x\n  read:  $y") }
  }

  test("escaped quotes and separators survive in the raw file per RFC-4180") {
    val dir = tempDir("graft_w_quote")
    sampleDf.coalesce(1).write.format("graft").mode("append")
      .save(dir.toString)
    val file = Files.list(dir).iterator().asScala
      .filter(p => GraftDataSource.isDataFile(p.getFileName.toString))
      .toSeq.head
    val text = new String(Files.readAllBytes(file), "UTF-8")
    assert(text.contains("\"has\ttab and \"\"quotes\"\"\""), text)
    assert(text.contains("sep,inside")) // ','  is not the delimiter: unquoted
    assert(text.linesIterator.next() == "id\tname\tscore\tflag\td\tts")
  }

  test("sep option changes delimiter and quoting target") {
    val dir = tempDir("graft_w_csv")
    sampleDf.coalesce(1).write.format("graft").option("sep", ",")
      .mode("append").save(dir.toString)
    val file = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".csv")).toSeq.head
    val text = new String(Files.readAllBytes(file), "UTF-8")
    assert(text.contains("\"sep,inside\"")) // now the comma must quote
    val back = spark.read.format("graft").option("sep", ",").load(dir.toString)
    assert(back.count() == 4)
  }

  test("overwrite truncates prior data files; append accumulates") {
    val dir = tempDir("graft_w_modes").toString
    sampleDf.write.format("graft").mode("append").save(dir)
    sampleDf.write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 8)
    sampleDf.write.format("graft").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 4)
  }

  test("a FAILED overwrite leaves the previous dataset intact") {
    // truncate defers old-file deletion to commit(): a job that dies in
    // a task must not have emptied the directory (delete-then-write
    // would leave readers zero rows)
    val dir = tempDir("graft_w_failsafe").toString
    sampleDf.write.format("graft").mode("append").save(dir)
    val bad = spark.createDataFrame(Seq(
      Row(9L, "breaks\nhere")).asJava,
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    intercept[Exception] {
      bad.write.format("graft").mode("overwrite").save(dir)
    }
    val back = spark.read.format("graft").load(dir)
    assert(back.count() == 4, "failed overwrite destroyed prior data")
    // and the failed write's temps were swept (driver abort + task abort)
    val leftovers = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".inprogress")).toSeq
    assert(leftovers.isEmpty, s"stale temps: $leftovers")
  }

  test("file names embed the write's queryId: appends never collide, temps sweep by id") {
    val dir = tempDir("graft_w_names")
    sampleDf.coalesce(1).write.format("graft").mode("append").save(dir.toString)
    sampleDf.coalesce(1).write.format("graft").mode("append").save(dir.toString)
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(GraftDataSource.isDataFile).toSeq
    // same partitionId (00000) in both writes — the queryId component
    // must keep the names distinct (a fresh application restarts
    // taskIds near 0, so taskId-based names can silently overwrite)
    assert(names.size == 2 && names.distinct.size == 2, names.toString)
    assert(names.forall(_.matches("part-00000-[0-9a-f-]+\\.tsv")), names.toString)
    assert(spark.read.format("graft").load(dir.toString).count() == 8)
    // driver-side sweep removes only the given write's orphaned temps
    val qid = names.head.stripPrefix("part-00000-").stripSuffix(".tsv")
    val mine = dir.resolve(s".part-00007-$qid-99.tsv.inprogress")
    val other = dir.resolve(".part-00007-deadbeef-99.tsv.inprogress")
    Files.writeString(mine, "x"); Files.writeString(other, "x")
    val p = new org.apache.hadoop.fs.Path(dir.toString)
    GraftWriter.sweepTemps(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p, qid)
    assert(!Files.exists(mine), "this write's orphan survived the sweep")
    assert(Files.exists(other), "another write's temp was wrongly swept")
    Files.delete(other)
  }

  test("gzip output round-trips and is actually gzipped") {
    val dir = tempDir("graft_w_gz")
    sampleDf.write.format("graft").option("compression", "gzip")
      .mode("append").save(dir.toString)
    val files = Files.list(dir).iterator().asScala
      .filter(p => GraftDataSource.isDataFile(p.getFileName.toString)).toSeq
    assert(files.nonEmpty && files.forall(_.getFileName.toString.endsWith(".gz")))
    val magic = Files.readAllBytes(files.head).take(2)
    assert(magic(0) == 0x1f.toByte && magic(1) == 0x8b.toByte)
    val back = spark.read.format("graft").load(dir.toString)
    assert(back.orderBy("id").collect().toSeq ==
      sampleDf.orderBy("id").collect().toSeq)
  }

  test("embedded line terminators: default fails with the column name, strip mode round-trips") {
    val dir = tempDir("graft_w_nl").toString
    val df = spark.createDataFrame(Seq(
      Row(1L, "one\nline\rbreaks\r\nhere"), Row(2L, "clean")).asJava,
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    val e = intercept[Exception] {
      df.write.format("graft").mode("overwrite").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("'s'") && m.contains("line terminator")),
      e.toString)
    df.write.format("graft").option("newline", "strip")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir).orderBy("id").collect()
    assert(back(0).getString(1) == "one line breaks here")
    assert(back(1).getString(1) == "clean")
  }

  test("unsupported column types fail fast with a named column") {
    val dir = tempDir("graft_w_badtype").toString
    val df = spark.range(3).select(col("id"), array(col("id")).as("arr"))
    val e = intercept[Exception] {
      df.write.format("graft").mode("append").save(dir)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(m =>
        m.contains("arr") && m.contains("unsupported"))), e.toString)
  }

  test("round trip through a REAL table: lineitem parquet → graft text → back") {
    val dir = tempDir("graft_w_li").toString
    // int32 / instant columns widen to the reference grammar (i64 /
    // zoneless ms timestamp) on read-back; pre-widen here so the round
    // trip is the identity
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_returnflag"),
        col("l_shipdate").cast(TimestampNTZType).as("l_shipdate"))
    li.write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.count() == li.count())
    val key = Seq("l_orderkey", "l_linenumber")
    val a = li.orderBy(key.map(col): _*).collect()
    val b = back.select(li.columns.map(col): _*)
      .orderBy(key.map(col): _*).collect()
    a.zip(b).foreach { case (x, y) =>
      assert(x == y, s"\n  parquet: $x\n  rt:      $y")
    }
  }

  test("narrow types write widened: int/instant → i64/ntz with equal values") {
    val dir = tempDir("graft_w_widen").toString
    val df = spark.range(5).select(
      col("id"),
      col("id").cast(IntegerType).as("i32"),
      (col("id") * 1.5).cast(FloatType).as("f32"),
      to_timestamp(lit("2024-06-01 12:00:00")).as("inst"))
    df.write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("i32") == LongType)
    assert(types("f32") == DoubleType)
    assert(types("inst") == TimestampNTZType)
    val got = back.orderBy("id").collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(r.fieldIndex("i32")) == i.toLong)
      assert(r.getDouble(r.fieldIndex("f32")) == (i * 1.5f).toDouble)
      assert(r.getAs[java.time.LocalDateTime]("inst") ==
        java.time.LocalDateTime.of(2024, 6, 1, 12, 0, 0))
    }
  }
}
