package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** q_curation_global_index — the scalable contiguous-numbering shape.
  *
  * Two properties matter at 100 TB: the result must be the exact
  * 1..N rank by key (a bucketing bug shows up as gaps/overlaps at
  * bucket seams), and the DATA-sized window must be partitioned by
  * bucket — a silent regression to `row_number() OVER (ORDER BY key)`
  * still returns correct numbers while sorting the corpus in ONE task.
  */
class GlobalIndexSpec extends SparkSpec {

  test("global index is exactly 1..N in key order at sf") {
    val rows = graft.queries.Curation.qCurationGlobalIndex(spark, sf)
      .select("global_idx").collect().map(_.getLong(0))
    assert(rows.toSeq == (1L to rows.length).toSeq,
      s"not contiguous: head=${rows.take(5).mkString(",")}")
  }

  test("clustered keys (adversarial for fixed-width buckets) still rank exactly") {
    // all keys crammed into 2 of the 64 bucket ranges: empty buckets
    // must contribute zero offset and seams must stay gap-free
    import spark.implicits._
    val dir = tempDir("graft_gidx").toString
    try {
      val keys = (0L until 300L) ++ (900000L until 900300L)
      keys.toDF("doc_id").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = graft.queries.Curation.qCurationGlobalIndex(spark, dir)
        .select("doc_id", "global_idx").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val want = keys.sorted.zipWithIndex.map { case (k, i) => (k, i + 1L) }
      assert(got.toSeq == want,
        s"rank mismatch at ${got.toSeq.zip(want).find { case (a, b) => a != b }}")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("the data window partitions by bucket — no single-partition global sort") {
    val plan = graft.queries.Curation.qCurationGlobalIndex(spark, sf)
      .queryExecution.executedPlan.toString
    // every Window node over the data must carry the bucket partition
    // spec; the only permissible unpartitioned pieces are the ≤64-row
    // offsets side (its window input is an aggregate, not the scan)
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.exists(_.contains("bucket")),
      s"no bucket-partitioned window:\n${plan.take(1200)}")
    val rowNumLine = windows.find(_.contains("row_number"))
    assert(rowNumLine.exists(_.contains("partitionBy") ||
        rowNumLine.exists(_.contains("bucket"))),
      s"row_number window lost its bucket partitioning: $rowNumLine")
  }
}
