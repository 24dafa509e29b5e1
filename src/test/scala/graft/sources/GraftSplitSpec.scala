package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Byte-range splitting of the graft DSv2 source (round-11 verdict #4):
  * a single large uncompressed file must plan >1 input partition, and
  * the split read must be row-identical to the unsplit read — including
  * under filters, limits, TopN, and aggregates, whose per-partition
  * forms merge above the scan. Boundary alignment is the
  * risk: an off-by-one at a split edge duplicates or drops exactly one
  * line, which the full multiset comparison here would catch. */
class GraftSplitSpec extends SparkSpec {

  // ~120 KB fixture; values chosen so several rows end exactly at
  // varied byte offsets (ids of different digit widths, CRLF absent).
  private lazy val fixture: String = {
    val dir = tempDir("graft_split")
    val f = dir.resolve("big.tsv")
    val content = ("id\tname\tscore\tflag" +:
      (0 until 4000).map { i =>
        s"$i\tname_${"x" * (i % 17)}_$i\t${i * 0.25}\t${if (i % 2 == 0) "yes" else "no"}"
      }).mkString("", "\n", "\n")
    Files.write(f, content.getBytes("UTF-8"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      Files.deleteIfExists(f); Files.deleteIfExists(dir)
    }))
    f.toString
  }

  private def read() = spark.read.format("graft").load(fixture)

  /** Collect as a sorted multiset of row strings (order across
    * partitions is not part of the contract). */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a large uncompressed file plans >1 partition; rows byte-identical to unsplit") {
    val unsplit = rows(read()) // default 128 MB threshold: 1 partition
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "8192") {
      val df = read()
      val nParts = df.rdd.getNumPartitions
      assert(nParts > 4, s"expected many byte-range splits, got $nParts")
      val split = rows(df)
      assert(split.length == 4000, s"split read lost/duplicated rows: ${split.length}")
      assert(split == unsplit, {
        val s = split.toSet; val u = unsplit.toSet
        s"split != unsplit: missing=${(u -- s).take(3)} extra=${(s -- u).take(3)}"
      })
    }
  }

  test("a file cuts into Spark's split count of equal ranges, read in input order") {
    assert(GraftDataSource.balancedRanges(10, 4) == Seq((0L, 4L), (4L, 3L), (7L, 3L)))
    assert(GraftDataSource.balancedRanges(8, 4) == Seq((0L, 4L), (4L, 4L)))
    val unsplit = read().collect().toSeq
    val size = Files.size(java.nio.file.Paths.get(fixture))
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "8192") {
      val df = read()
      val ranges = df.queryExecution.executedPlan.collectFirst {
        case scan: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          scan.inputPartitions.map { case p: GraftFilePartition => (p.start, p.length) }
      }.get
      // the same count as Spark's remainder-sliver cut, none of them short
      assert(ranges.length == (size + 8191) / 8192, ranges)
      val lengths = ranges.map(_._2)
      assert(lengths.max - lengths.min <= 1, s"unbalanced lengths: $lengths")
      assert(ranges.head._1 == 0L && lengths.sum == size)
      ranges.zip(ranges.tail).foreach { case ((s0, l0), (s1, _)) => assert(s0 + l0 == s1) }
      assert(df.collect().toSeq == unsplit, "split rows must equal the unsplit read, in order")
    }
  }

  test("split boundaries are stable across arbitrary split sizes (odd offsets)") {
    val unsplit = rows(read())
    // prime-ish sizes land boundaries mid-line in many different spots
    for (sz <- Seq(1021, 4099, 16381)) {
      withSQLConf("spark.sql.files.maxPartitionBytes" -> sz.toString) {
        assert(rows(read()) == unsplit, s"mismatch at maxPartitionBytes=$sz")
      }
    }
  }

  test("pushed filter + limit + TopN + aggregate all survive splitting") {
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "8192") {
      val df = read()
      assert(df.rdd.getNumPartitions > 4)

      val filtered = df.filter(col("id") > 3900L).select("id", "score")
      assert(filtered.count() == 99)

      assert(df.limit(50).collect().length == 50)

      // TopN: per-split top rows merge to the true global order
      val top = df.orderBy(col("id").desc).limit(5).collect().map(_.getLong(0))
      assert(top.sameElements(Array(3999L, 3998L, 3997L, 3996L, 3995L)), top.mkString(","))

      // partial aggregate: per-split partials merge exactly
      val agg = df.groupBy("flag").agg(count(lit(1)).as("n"), sum("id").as("s"))
        .orderBy("flag").collect()
      assert(agg.map(_.getLong(1)).sameElements(Array(2000L, 2000L)), agg.mkString(";"))
      assert(agg.map(_.getLong(2)).sum == (0 until 4000).map(_.toLong).sum)
    }
  }

  test("gzip stays one partition per member regardless of the split knob") {
    val dir = tempDir("graft_split_gz")
    val f = dir.resolve("data.tsv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    out.write(("id\tv" +: (0 until 2000).map(i => s"$i\t${i * 2}"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    try withSQLConf("spark.sql.files.maxPartitionBytes" -> "1024") {
      val df = spark.read.format("graft").load(f.toString)
      assert(df.rdd.getNumPartitions == 1, "gzip member must not split")
      assert(df.count() == 2000)
    } finally { Files.deleteIfExists(f); Files.deleteIfExists(dir) }
  }
}
