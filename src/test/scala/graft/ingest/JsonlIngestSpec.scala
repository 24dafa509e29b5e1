package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.nio.file.Files

/** JSONL ingest through the shared ladder/kernels (JsonlIngest.scala):
  * key discovery, raw-token capture, missing-key padding, malformed-line
  * permissiveness, and type parity with the delimited path.
  */
class JsonlIngestSpec extends SparkSpec {

  private def tempJsonl(lines: String*): String = {
    val f = Files.createTempFile(tempDir("graft_jsonl"), "graft_jsonl", ".jsonl")
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    f.toString
  }

  test("key discovery: first-seen order, later lines append novel keys") {
    val p = tempJsonl(
      """{"b":1,"a":2}""",
      """{"a":3,"c":4}""",
      "not json",
      """{"b":5}""")
    assert(JsonlIngest.discoverKeys(spark, p) == Seq("b", "a", "c"))
  }

  test("number/bool tokens keep their literal spelling and re-type via the ladder") {
    val p = tempJsonl(
      """{"i":123,"f":4.5,"b":true,"s":"x"}""",
      """{"i":"456","f":6.25,"b":"false","s":"y"}""")
    val typed = JsonlIngest.convert(spark, p, fullScan = true)
    assert(typed.schema.map(_.dataType) ==
      Seq(LongType, DoubleType, BooleanType, StringType))
    val rows = typed.orderBy("i").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(123L, 456L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(4.5, 6.25))
    assert(rows.map(_.getBoolean(2)).toSeq == Seq(true, false))
  }

  test("missing keys null-pad; JSON null is null; malformed line is all-null") {
    val p = tempJsonl(
      """{"a":"x","b":"y"}""",
      """{"a":"z"}""",
      """{"a":null,"b":"w"}""",
      """{{{""")
    val typed = JsonlIngest.convert(spark, p, fullScan = true)
    val rows = typed.collect()
    assert(rows.length == 4)
    assert(rows.count(r => r.isNullAt(0) && r.isNullAt(1)) == 1)
    assert(rows.count(r => r.isNullAt(0) && !r.isNullAt(1)) == 1)
    assert(rows.count(r => !r.isNullAt(0) && r.isNullAt(1)) == 1)
  }

  test("nested objects/arrays land as raw JSON text in a string column") {
    val p = tempJsonl(
      """{"id":1,"meta":{"k":1},"tags":[1,2]}""",
      """{"id":2,"meta":{"k":2},"tags":[]}""")
    val typed = JsonlIngest.convert(spark, p, fullScan = true)
    assert(typed.schema.map(_.dataType) == Seq(LongType, StringType, StringType))
    val r = typed.orderBy("id").collect()
    assert(r(0).getString(1) == """{"k":1}""")
    assert(r(0).getString(2) == "[1,2]")
    assert(r(1).getString(2) == "[]")
  }

  test("date/timestamp text re-types exactly like the delimited path") {
    val p = tempJsonl(
      """{"d":"2024-01-01","ts":"2024-01-01 10:30:00"}""",
      """{"d":"2024-01-02","ts":"2024-01-02 11:45:30"}""")
    val typed = JsonlIngest.convert(spark, p, fullScan = true)
    assert(typed.schema.map(_.dataType) == Seq(DateType, TimestampNTZType))
  }

  test("CLI format routing: a .jsonl input converts e2e through ConvertMain") {
    val dir = tempDir("graft_cli_jsonl")
    val f = dir.resolve("events.jsonl")
    // bad values land AFTER the 1,000-line inference sample, so `score`
    // infers DOUBLE from the clean sample and the tail genuinely fails
    val sb = new StringBuilder
    (0 until 1100).foreach { i =>
      val score = i / 2.0
      sb.append(s"""{"id":$i,"score":$score,"tag":"t$i"}""").append('\n')
    }
    (0 until 20).foreach(i => sb.append(s"""{"id":${1100 + i},"score":"oops","tag":"x"}""").append('\n'))
    Files.writeString(f, sb.toString)
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    val (out, rows, errs) = graft.ConvertMain.run(spark,
      graft.ConvertMain.Options(Some(f.toString), fullScan = false), msgs += _)
    assert(out == dir.resolve("events.parquet").toString)
    assert(rows == 1120L && errs == 20L)
    assert(msgs.exists(_.contains("[COLUMN ERRORS] score: 20")))
    val back = spark.read.parquet(out)
    assert(back.schema.map(_.dataType) == Seq(LongType, DoubleType, StringType))
    // input order preserved end-to-end, like the delimited CLI path
    assert(back.select("id").collect().map(_.getLong(0)).toSeq == (0L until 1120L))
  }

  test("looksLikeJsonl: JSON object line yes; TSV/CSV and bare JSON scalars no") {
    val j = tempJsonl("""{"a":1}""")
    val t = Files.createTempFile(tempDir("graft_sniff"), "graft_sniff", ".tsv")
    Files.writeString(t, "a\tb\n1\t2\n")
    val s = Files.createTempFile(tempDir("graft_sniff2"), "graft_sniff2", ".jsonl")
    Files.writeString(s, "42\n43\n")
    assert(JsonlIngest.looksLikeJsonl(spark, j))
    assert(!JsonlIngest.looksLikeJsonl(spark, t.toString))
    assert(!JsonlIngest.looksLikeJsonl(spark, s.toString))
  }

  test("streaming JSONL: schema pins once, later files flow through the same casts") {
    val dir = tempDir("graft_jsonl_stream")
    // k starts at 10: a lone "1" would be claimed by the ladder's
    // bool-beats-int preference (TypeDecisionSpec), which is not what
    // this test is about
    Files.writeString(dir.resolve("part1.jsonl"), """{"k":10,"v":"a"}""" + "\n")
    val stream = JsonlIngest.convertStream(spark, dir.toString)
    assert(stream.isStreaming)
    assert(stream.schema.map(_.dataType) == Seq(LongType, StringType))
    val q = stream.writeStream.format("memory")
      .queryName("graft_jsonl_stream_t").outputMode("append").start()
    try {
      q.processAllAvailable()
      // a later file with a NUMBER-token k and a missing v flows through
      // the pinned all-string capture + cast kernels
      Files.writeString(dir.resolve("part2.jsonl"),
        """{"k":20,"v":"b"}""" + "\n" + """{"k":30}""" + "\n")
      q.processAllAvailable()
      val got = spark.table("graft_jsonl_stream_t")
        .orderBy("k").collect().map(r => (r.getLong(0), Option(r.getString(1))))
      assert(got.toSeq == Seq((10L, Some("a")), (20L, Some("b")), (30L, None)))
    } finally q.stop()
  }

  test("full-scan inference sees past the sample (distributed stats fold)") {
    // head is all-digit; a 200-line text TAIL (past the 99.5 % integer
    // tolerance) must demote the column to STRING under
    // --inferer-schema-complet semantics, exactly like the delimited
    // path's IngestPipelineSpec case — a LONE bad cell would stay
    // inside the ladder's tolerance and read back as null
    val head = (1 to 1000).map(i => s"""{"v":$i}""")
    val tail = (1 to 200).map(_ => """{"v":"text"}""")
    val p = tempJsonl((head ++ tail): _*)
    assert(JsonlIngest.convert(spark, p, fullScan = false)
      .schema.head.dataType == LongType)
    assert(JsonlIngest.convert(spark, p, fullScan = true)
      .schema.head.dataType == StringType)
  }

  test("CLI full-scan flag routes through the JSONL reader too") {
    val dir = tempDir("graft_cli_jsonl_full")
    val f = dir.resolve("d.jsonl")
    val head = (1 to 1000).map(i => s"""{"v":$i}""")
    val tail = (1 to 200).map(_ => """{"v":"text"}""")
    Files.writeString(f, (head ++ tail).mkString("", "\n", "\n"))
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    val (out, rows, _) = graft.ConvertMain.run(spark,
      graft.ConvertMain.Options(Some(f.toString), fullScan = true), msgs += _)
    assert(rows == 1200L)
    assert(spark.read.parquet(out).schema.head.dataType == StringType,
      "full scan must demote the column on the tail's text cell")
  }

  test("full-scan key discovery admits keys past the sample, appended alphabetically") {
    val head = (1 to 1000).map(i => s"""{"b":$i,"a":$i}""")
    val tail = Seq("""{"b":1001,"z_late":true,"m_late":"x"}""")
    val p = tempJsonl((head ++ tail): _*)
    // sampled order preserved first, novel keys alphabetical after
    assert(JsonlIngest.discoverKeysFull(spark, p) ==
      Seq("b", "a", "m_late", "z_late"))
    val typed = JsonlIngest.convert(spark, p, fullScan = true)
    assert(typed.columns.toSeq == Seq("b", "a", "m_late", "z_late"))
    // the late keys are null everywhere except the tail line
    assert(typed.filter(
      org.apache.spark.sql.functions.col("z_late").isNotNull).count() == 1)
  }

  test("sampled key discovery is bounded; keys past the sample do not appear") {
    val head = (1 to 1000).map(i => s"""{"a":$i}""")
    val tail = Seq("""{"a":1001,"late":true}""")
    val p = tempJsonl((head ++ tail): _*)
    assert(JsonlIngest.discoverKeys(spark, p) == Seq("a"))
    // under SAMPLED discovery the late key is simply not a column, like
    // a CSV row longer than its header — extra cells drop in PERMISSIVE
    // mode (fullScan=true now widens the keys too; previous test)
    val typed = JsonlIngest.convert(spark, p, fullScan = false)
    assert(typed.columns.toSeq == Seq("a"))
    assert(typed.count() == 1001)
  }

  test("a directory's columns follow the first line in file-name order, whatever the file sizes") {
    val dir = tempDir("graft_jsonl_dir_order")
    Files.writeString(dir.resolve("a.jsonl"), "{\"x\":1,\"y\":2}\n")
    Files.writeString(dir.resolve("b.jsonl"),
      (0 until 2000).map(i => s"""{"z":$i,"x":$i,"y":$i}""").mkString("", "\n", "\n"))
    assert(JsonlIngest.discoverKeys(spark, dir.toString) == Seq("x", "y", "z"))
    val typed = JsonlIngest.convert(spark, dir.toString)
    assert(typed.columns.toSeq == Seq("x", "y", "z"))
    assert(typed.count() == 2001L)
  }
}
