package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Partition-layout evidence for the 100 TB story: a corpus written
  * hive-partitioned by its stratification key is pruned at PLANNING
  * time — a filter on the partition key touches only the matching
  * directories, so per-source curation jobs read 1/N of the corpus no
  * matter how large it grows. (The query inventory reads the driver's
  * unpartitioned tables; this spec pins that the engine's plans get
  * partition pruning the moment the layout provides it.)
  */
class PartitionPruningSpec extends SparkSpec {

  test("a filter on the partition key prunes directories at planning time") {
    val out = tempDir("graft_part").toString
    Tables.documents(spark, sf).write.partitionBy("source")
      .mode("overwrite").parquet(out)

    val pruned = spark.read.parquet(out).filter(col("source") === "src3")
    // the plan reports a partition filter (not a post-scan data filter)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("source"),
      s"no partition filter in plan:\n${plan.take(800)}")

    // row parity with the unpartitioned read — and the scan's numFiles
    // metric shows it touched ONLY the matching partition's files
    // (execute THIS QueryExecution's plan, then read its scan metrics)
    val qe = pruned.queryExecution
    val rows = qe.executedPlan.execute().count()
    val scan = qe.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec leaf"))
    val expected = Tables.documents(spark, sf)
      .filter(col("source") === "src3").count()
    assert(rows == expected)
    def parquetFiles(dir: java.io.File): Int =
      Option(dir.listFiles).toSeq.flatten.count(_.getName.endsWith(".parquet"))
    val src3Files = parquetFiles(new java.io.File(s"$out/source=src3"))
    val allFiles = Option(new java.io.File(out).listFiles).toSeq.flatten
      .filter(_.isDirectory).map(parquetFiles).sum
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles == src3Files && numFiles < allFiles,
      s"scan read $numFiles files; src3 has $src3Files of $allFiles total")
  }

  test("q_curation_partition_layout's read-back touches only the filtered strata") {
    // mirror the registry entry's layout (it cleans up its own temp dir,
    // so the spec stages an identical one to inspect the pruned read)
    val out = tempDir("graft_part_layout").toString
    Tables.documents(spark, sf).write.partitionBy("lang")
      .mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("lang").isin("en", "zh"))
    // inputFiles reports the PRE-pruning file index; the executed scan's
    // numFiles metric is what planning-time pruning actually touched
    val qe = pruned.queryExecution
    qe.executedPlan.execute().count()
    val scan = qe.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec leaf"))
    def parquetFilesIn(sub: String): Int =
      Option(new java.io.File(s"$out/$sub").listFiles).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    val wantFiles = parquetFilesIn("lang=en") + parquetFilesIn("lang=zh")
    val allFiles = Option(new java.io.File(out).listFiles).toSeq.flatten
      .filter(_.isDirectory).map(d => parquetFilesIn(d.getName)).sum
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles == wantFiles && numFiles < allFiles,
      s"scan read $numFiles files; en+zh hold $wantFiles of $allFiles")
    // and the manifest itself agrees with the unpartitioned source
    val got = graft.queries.Curation.qCurationPartitionLayout(spark, sf)
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1)))
    val want = Tables.documents(spark, sf)
      .filter(col("lang").isin("en", "zh")).groupBy("lang").count()
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("q_curation_partition_layout's layout write rides a NON-DEFAULT " +
    "scratch root (round-18 verdict task 1: graft.scratch.root, the " +
    "same override discipline as the persisted-index root)") {
    val root = tempDir("graft_scratch_root").toString
    System.setProperty("graft.scratch.root", root)
    try {
      val got = graft.queries.Curation.qCurationPartitionLayout(spark, sf)
        .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1)))
      val want = Tables.documents(spark, sf)
        .filter(col("lang").isin("en", "zh")).groupBy("lang").count()
        .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq == want.toSeq)
      // the hive layout was written (and cleaned) under the CONFIGURED
      // root: its per-invocation parent dir exists there, and nothing
      // landed under the default warehouse scratch subtree
      assert(new java.io.File(s"$root/graft_scratch/run").exists(),
        s"no scratch run dir under the configured root $root")
    } finally System.clearProperty("graft.scratch.root"): Unit
  }
}
