package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.ingest.IngestPipeline
import org.apache.spark.sql.functions._

/** Aggregates over the graft DSv2 source: Spark's partial and final
  * HashAggregate run above the typed scan, and the result must be
  * identical to the same aggregate over the pipeline output. */
class GraftAggPushdownSpec extends SparkSpec {

  private lazy val fixture: String = {
    val dir = tempDir("graft_aggpush")
    // two part files → two partitions → the final agg genuinely merges
    (0 until 2).foreach { part =>
      val f = dir.resolve(s"part$part.tsv")
      val content = ("id\tgrp\tscore\tnote" +:
        (0 until 600).map { i =>
          val id = part * 600 + i
          val score = if (id % 97 == 0) "NaN" else (id * 0.5).toString
          s"$id\tg${id % 5}\t$score\tnote_$id"
        }).mkString("", "\n", "\n")
      Files.write(f, content.getBytes("UTF-8"))
    }
    dir.toString
  }

  test("global count(*)/min/max/sum push to the scan and match the post-scan plan") {
    val src = spark.read.format("graft").load(fixture)
    val viaSource = src.agg(
      count(lit(1)).as("n"),
      min(col("score")).as("mn"),
      max(col("score")).as("mx"),
      sum(col("id")).as("s"),
      count(col("score")).as("nscore"))
    val expected = IngestPipeline.convert(spark, fixture).agg(
      count(lit(1)), min(col("score")), max(col("score")),
      sum(col("id")), count(col("score"))).collect().head
    assert(viaSource.collect().head == expected)
    // NaN scores convert to null (cast-kernel parity): count(score) < count(*)
    assert(viaSource.collect().head.getLong(0) == 1200 &&
      viaSource.collect().head.getLong(4) < 1200)
  }

  test("group-by aggregate pushes: groups first, partials merge across partitions") {
    val src = spark.read.format("graft").load(fixture)
    val viaSource = src.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"),
        avg(col("score")).as("a"))
      .orderBy("grp")
    val expected = IngestPipeline.convert(spark, fixture)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), max(col("id")).as("mx"),
        avg(col("score")).as("a"))
      .orderBy("grp").collect()
    assert(viaSource.collect().sameElements(expected))
  }

  test("pushed filter composes with pushed aggregate; empty survivor set still counts 0") {
    val src = spark.read.format("graft").load(fixture)
    val filtered = src.filter(col("id") >= 600L).groupBy(col("grp"))
      .agg(sum(col("id")).as("s")).orderBy("grp")
    val expected = IngestPipeline.convert(spark, fixture)
      .filter(col("id") >= 600L).groupBy(col("grp"))
      .agg(sum(col("id")).as("s")).orderBy("grp").collect()
    assert(filtered.collect().sameElements(expected))

    // a filter no row survives: global count over empty partials is 0, not null
    val empty = src.filter(col("id") > 100000L).agg(count(lit(1)).as("n"))
    val row = empty.collect().head
    assert(!row.isNullAt(0) && row.getLong(0) == 0L, s"empty count must be 0, got $row")
  }

  test("gzip input: same rows, same inference, same pushdowns as the plain file") {
    val dir = tempDir("graft_gz")
    val rows = ("id\tgrp\tscore" +:
      (0 until 500).map(i => s"$i\tg${i % 3}\t${i * 0.5}")).mkString("", "\n", "\n")
    Files.write(dir.resolve("plain.tsv"), rows.getBytes("UTF-8"))
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("data.tsv.gz")))
    gz.write(rows.getBytes("UTF-8")); gz.close()

    val plain = spark.read.format("graft").load(dir.resolve("plain.tsv").toString)
    val gzDf = spark.read.format("graft").load(dir.resolve("data.tsv.gz").toString)
    assert(gzDf.schema == plain.schema, "inference must see through gzip")
    assert(gzDf.orderBy("id").collect().sameElements(plain.orderBy("id").collect()))

    // a filtered aggregate over the decompressed stream
    val agg = gzDf.filter(col("id") < 100L).groupBy(col("grp"))
      .agg(sum(col("id")).as("s")).orderBy("grp")
    val expected = plain.filter(col("id") < 100L).groupBy(col("grp"))
      .agg(sum(col("id")).as("s")).orderBy("grp").collect()
    assert(agg.collect().sameElements(expected))
  }

  test("count(distinct) and unsupported shapes stay with Spark, results still correct") {
    val src = spark.read.format("graft").load(fixture)
    val distinct = src.agg(countDistinct(col("grp")).as("n"))
    assert(distinct.collect().head.getLong(0) == 5)

    // expression input (not a bare column)
    val exprAgg = src.agg(sum(col("id") * 2).as("s"))
    val expected = IngestPipeline.convert(spark, fixture)
      .agg(sum(col("id") * 2).as("s")).collect().head
    assert(exprAgg.collect().head == expected)
  }
}
