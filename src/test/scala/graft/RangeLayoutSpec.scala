package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Sort-order layout evidence for the 100 TB story, complementing
  * PartitionPruningSpec's directory pruning: a corpus written
  * range-partitioned AND sorted on its hot filter key gets row-group
  * skipping from parquet min/max statistics — a selective range filter
  * materializes only the row groups whose stats overlap the predicate,
  * so scan cost tracks the SELECTED range, not the corpus. The same
  * write shape (`repartitionByRange.sortWithinPartitions`) is what
  * keeps file ranges disjoint for downstream merge-friendly reads.
  */
class RangeLayoutSpec extends SparkSpec {

  test("range-sorted layout: disjoint file ranges + row-group skipping on range filters") {
    val sorted = tempDir("graft_rng_sorted").toString
    val shuffled = tempDir("graft_rng_shuffled").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

    li.repartitionByRange(8, col("l_extendedprice"))
      .sortWithinPartitions("l_extendedprice")
      .write.mode("overwrite").parquet(sorted)
    // adversarial control: same data, random order (hash on a key
    // uncorrelated with price), so every row group spans ~full range
    li.repartition(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(shuffled)

    // 1. file ranges of the sorted layout are (near-)disjoint: each
    // file's [min,max] overlaps the next only at the boundary value
    val files = Option(new java.io.File(sorted).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.size >= 2, s"expected multiple files, got ${files.size}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("l_extendedprice"), max("l_extendedprice")).head()
      (r.getDouble(0), r.getDouble(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping file ranges: hi=$hi lo2=$lo2")
      case _ => ()
    }

    // 2. a selective range filter over the SORTED layout materializes
    // far fewer rows at the scan (row groups pruned by min/max stats)
    // than the same filter over the shuffled layout
    def scanOutputRows(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir)
        .filter(col("l_extendedprice") >= 900.0 && col("l_extendedprice") < 1600.0)
      val qe = df.queryExecution
      val result = qe.executedPlan.execute().count()
      val scan = qe.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no FileSourceScanExec leaf"))
      (result, scan.metrics("numOutputRows").value)
    }
    val (matchedSorted, scannedSorted) = scanOutputRows(sorted)
    val (matchedShuffled, scannedShuffled) = scanOutputRows(shuffled)
    assert(matchedSorted == matchedShuffled, "filter results must agree")
    assert(matchedSorted > 0, "selective range should still match rows")
    // sorted: only the row groups covering [900, 1600) survive;
    // shuffled: every row group overlaps, nothing is skipped
    assert(scannedSorted < scannedShuffled / 2,
      s"no skipping win: sorted scanned $scannedSorted vs shuffled $scannedShuffled")
    assert(scannedShuffled == li.count(),
      s"control layout unexpectedly skipped: $scannedShuffled")
  }
}
