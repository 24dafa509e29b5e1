package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.ingest.IngestPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The DataSourceV2 surface must be row-for-row identical to the
  * pipeline API on the same file (same inference, same kernels), and
  * must prune unprojected columns inside the source. */
class GraftSourceSpec extends SparkSpec {

  private lazy val fixture: String = {
    val dir = tempDir("graft_dsv2")
    val f = dir.resolve("data.tsv")
    val content = ("id\tname\tscore\tflag\tts\tn" +:
      (0 until 1200).map { i =>
        val n = if (i >= 1150) "oops" else (i * 3).toString // post-sample failures
        val sec = f"${i % 60}%02d"
        s"$i\tname_$i\t${i * 0.25}\t${if (i % 2 == 0) "yes" else "no"}\t2024-01-01T00:00:$sec\t$n"
      }).mkString("", "\n", "\n")
    Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("format(\"graft\") infers the reference schema and types rows") {
    val df = spark.read.format("graft").load(fixture)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("id") == LongType && types("n") == LongType)
    assert(types("score") == DoubleType && types("flag") == BooleanType)
    assert(types("ts") == TimestampNTZType && types("name") == StringType)
    assert(df.count() == 1200)
  }

  test("DSv2 rows == IngestPipeline.convert rows (same kernels, same nulls)") {
    val viaSource = spark.read.format("graft").load(fixture)
      .orderBy("id").collect()
    val viaPipeline = IngestPipeline.convert(spark, fixture)
      .orderBy("id").collect()
    assert(viaSource.length == viaPipeline.length)
    viaSource.zip(viaPipeline).foreach { case (a, b) =>
      assert(a == b, s"row mismatch:\n  source:   $a\n  pipeline: $b")
    }
  }

  test("column pruning reaches the source reader") {
    val df = spark.read.format("graft").load(fixture).select("id", "score")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") || df.schema.fieldNames.sameElements(Array("id", "score")))
    assert(df.collect().length == 1200)
    // the scan's reported read schema carries only the projected columns
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("name"), s"unpruned scan: ${scan.take(300)}")
  }

  test("filter pushdown: accepted filters reach the scan and rows match the unpushed plan") {
    val df = spark.read.format("graft").load(fixture)
      .filter(col("id") > 1000L && col("flag") === true)
      .select("id", "score")
    // the result is identical to the same predicate over the pipeline
    // output
    val expected = IngestPipeline.convert(spark, fixture)
      .filter(col("id") > 1000L && col("flag") === true)
      .select("id", "score").orderBy("id").collect()
    val got = df.orderBy("id").collect()
    assert(got.length == expected.length && got.sameElements(expected),
      s"source=${got.length} rows vs pipeline=${expected.length}")
    // survivors: ids 1002..1198 even → 99 rows
    assert(got.length == 99)
  }

  test("filter pushdown: null-producing casts keep SQL semantics (<> drops nulls)") {
    // rows 1150+ have n='oops' → null n; `n <> 30` must drop them (UNKNOWN)
    val df = spark.read.format("graft").load(fixture).filter(col("n") =!= 30L)
    val expected = IngestPipeline.convert(spark, fixture)
      .filter(col("n") =!= 30L).count()
    assert(df.count() == expected)
    assert(df.count() == 1149) // 1150 parse-ok rows minus id=10 (n=30)
  }

  test("filter pushdown: unsupported predicates stay residual and still apply") {
    // length(name) has no sources.Filter form; Spark's Filter applies it
    // with the plain comparison
    val df = spark.read.format("graft").load(fixture)
      .filter(length(col("name")) === lit(6) && col("id") < 100L)
    // name_0..name_9 → length 6, ids 0..9 under 100
    assert(df.count() == 10)
  }

  test("filter pushdown: filter on a pruned-away column still evaluates in the reader") {
    // flag is filtered on but not projected: the scan reads it for
    // Spark's Filter, and the query emits only id
    val df = spark.read.format("graft").load(fixture)
      .filter(col("flag") === false).select("id")
    assert(df.count() == 600) // odd ids
    assert(df.agg(min("id")).head.getLong(0) == 1L)
  }

  test("limit over a graft read returns the first rows, after a filter too") {
    val df = spark.read.format("graft").load(fixture).limit(7)
    assert(df.count() == 7)
    // values are the file's head (single file => input order)
    val ids = df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(0L until 7L), s"got ${ids.mkString(",")}")
    // limit after a filter counts SURVIVING rows
    val filtered = spark.read.format("graft").load(fixture)
      .filter(col("flag") === true).limit(5)
    val fids = filtered.select("id").collect().map(_.getLong(0)).sorted
    assert(fids.sameElements(Array(0L, 2L, 4L, 6L, 8L)), s"got ${fids.mkString(",")}")
  }

  test("orderBy.limit over a graft read returns the global top rows, nulls placed per spec") {
    val df = spark.read.format("graft").load(fixture)
      .orderBy(col("id").desc).limit(3)
    assert(df.select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1199L, 1198L, 1197L))
    // multi-key with nulls: n is null for the post-sample failure rows,
    // so NULLS FIRST surfaces exactly those, tie-broken by id
    val nf = spark.read.format("graft").load(fixture)
      .orderBy(col("n").asc_nulls_first, col("id").asc).limit(5)
    val rows = nf.select("id", "n").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1150L to 1154L).toSeq &&
      rows.forall(_.isNullAt(1)),
      s"got ${rows.mkString(", ")}")
    // descending score over doubles
    val topVals = spark.read.format("graft").load(fixture)
      .orderBy(col("score").desc).limit(7).select("id").collect().map(_.getLong(0)).toSeq
    assert(topVals == (1193L to 1199L).reverse.toSeq, s"got $topVals")
  }

  test("a broadcast join over a graft read returns exactly the matching rows") {
    import org.apache.spark.sql.functions.broadcast
    val fact = spark.read.format("graft").load(fixture)
    // small dim holding 3 ids
    val dim = spark.range(100).filter("id < 3").selectExpr("id * 7 AS k")
    val joined = fact.join(broadcast(dim), fact("id") === dim("k"))
    val rows = joined.select("id").collect().map(_.getLong(0)).sorted
    assert(rows.sameElements(Array(0L, 7L, 14L)), s"got ${rows.mkString(",")}")
  }

  test("CRLF line endings and quoted fields parse like Spark's CSV source") {
    val dir = tempDir("graft_dsv2_crlf")
    val f = dir.resolve("crlf.csv")
    // CRLF file with a quoted field containing the delimiter + "" escape
    val content = "id,txt,n\r\n1,\"a,b\",10\r\n2,\"say \"\"hi\"\"\",20\r\n3,plain,30\r\n"
    Files.write(f, content.getBytes("UTF-8"))
    val viaSource = spark.read.format("graft").load(f.toString)
      .orderBy("id").collect()
    val viaPipeline = IngestPipeline.convert(spark, f.toString)
      .orderBy("id").collect()
    assert(viaSource.toSeq == viaPipeline.toSeq,
      s"source=${viaSource.toSeq} pipeline=${viaPipeline.toSeq}")
    assert(viaSource(0).getString(1) == "a,b")
    assert(viaSource(1).getString(1) == "say \"hi\"")
    assert(viaSource(2).getLong(2) == 30L) // no trailing \r corruption
  }

  test("malformed rows: short rows null-pad, long rows drop extras (PERMISSIVE parity)") {
    val dir = tempDir("graft_dsv2_bad")
    val f = dir.resolve("bad.tsv")
    Files.write(f, "a\tb\tc\n1\tx\t10\n2\ty\n3\tz\t30\textra\n".getBytes("UTF-8"))
    val viaSource = spark.read.format("graft").load(f.toString)
      .orderBy("a").collect()
    val viaPipeline = IngestPipeline.convert(spark, f.toString)
      .orderBy("a").collect()
    assert(viaSource.toSeq == viaPipeline.toSeq,
      s"source=${viaSource.toSeq} pipeline=${viaPipeline.toSeq}")
    assert(viaSource(1).isNullAt(2), "short row's missing field must null-pad")
    assert(viaSource(2).getLong(2) == 30L)
  }

  test("pre-1970 fractional seconds: DSv2 and pipeline TRUNCATE identically (s-unit)") {
    val dir = tempDir("graft_dsv2_pre1970")
    val f = dir.resolve("old.tsv")
    // one fractional digit votes the TsSecond unit; negative epoch values
    // pin the reference-parity contract: Rust `ms / 1_000` truncates
    // toward zero, so pre-1970 fractional seconds round UP a second
    Files.write(f, ("id\tts\n" +
      "1\t1969-12-31 23:59:59.5\n" +
      "2\t1969-06-15 12:00:00.9\n" +
      "3\t2024-01-01 00:00:30.5\n").getBytes("UTF-8"))
    val viaSource = spark.read.format("graft").load(f.toString)
      .orderBy("id").collect()
    val viaPipeline = IngestPipeline.convert(spark, f.toString)
      .orderBy("id").collect()
    assert(viaSource.toSeq == viaPipeline.toSeq,
      s"source=${viaSource.toSeq} pipeline=${viaPipeline.toSeq}")
    assert(viaSource(0).getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.parse("1970-01-01T00:00:00"), "truncate toward zero, not floor")
    assert(viaSource(1).getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.parse("1969-06-15T12:00:01"))
    assert(viaSource(2).getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.parse("2024-01-01T00:00:30"))
  }

  test("reported statistics let Catalyst broadcast a small graft read") {
    // the source reports file bytes via SupportsReportStatistics; a join
    // against a big parquet side must then plan the graft side broadcast
    val small = spark.read.format("graft").load(fixture)
      .select(col("id").as("g_id"), col("name"))
    val big = spark.range(500000).select(col("id").as("b_id"))
    val joined = big.join(small, col("b_id") === col("g_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"small graft side should broadcast:\n${plan.take(900)}")
    assert(joined.count() == 1200)
  }

  test("count(*) over a graft read skips field parsing but counts every line") {
    val df = spark.read.format("graft").load(fixture)
    assert(df.count() == 1200) // pruned-to-zero-columns fast path
    // and with a filter, the filter's column still parses
    assert(df.filter(col("id") < 100L).count() == 100)
  }

  test("dot-prefixed and underscore-prefixed files are skipped as hidden") {
    val dir = tempDir("graft_dsv2_hidden")
    Files.write(dir.resolve("data.tsv"),
      "k\tv\n1\ta\n2\tb\n".getBytes("UTF-8"))
    Files.write(dir.resolve(".data.tsv.crc"), Array[Byte](1, 2, 3, 4))
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    val df = spark.read.format("graft").load(dir.toString)
    assert(df.count() == 2)
    assert(df.rdd.getNumPartitions == 1)
  }

  test("multi-character sep option is rejected, not silently truncated") {
    val err = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("sep", "\\t").load(fixture).collect()
    }
    assert(err.getMessage.contains("single character"))
  }

  test("directory input reads every part file, one partition each") {
    val dir = tempDir("graft_dsv2_dir")
    (0 until 3).foreach { p =>
      Files.write(dir.resolve(s"part-$p.tsv"),
        (s"k\tv" +: (0 until 10).map(i => s"${p * 100 + i}\tx$i"))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val df = spark.read.format("graft").load(dir.toString)
    assert(df.count() == 30)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.schema.fields.head.dataType == LongType)
  }
}
