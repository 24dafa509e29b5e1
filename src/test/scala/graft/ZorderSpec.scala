package graft

import org.apache.spark.sql.functions._
import graft.queries.Curation

/** Quantifies WHY the z-order layout exists: a filter on the SECOND
  * dimension prunes most z-buckets, while a layout sorted on the first
  * key alone cannot skip anything for that filter. (Value-correctness
  * of the manifest itself is oracle-gated in Verify/check.) */
class ZorderSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("morton16 locality properties: per-dimension monotone, 32-bit range, bijective") {
    import spark.implicits._
    // seeded triples (a1 < a2, b) over the full 16-bit domain
    val rng = new scala.util.Random(42)
    val triples = Seq.fill(500) {
      val x = rng.nextInt(65536); val y = rng.nextInt(65536)
      val (a1, a2) = (math.min(x, y), math.max(x, y))
      (a1.toLong, a2.toLong, rng.nextInt(65536).toLong)
    }.filter { case (a1, a2, _) => a1 != a2 }
    val df = triples.toDF("a1", "a2", "b")
      .select(
        Curation.morton16(col("a1"), col("b")).as("z1"),
        Curation.morton16(col("a2"), col("b")).as("z2"),
        Curation.morton16(col("b"), col("a1")).as("z3"),
        Curation.morton16(col("b"), col("a2")).as("z4"))
      .collect()
    df.foreach { r =>
      val (z1, z2, z3, z4) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(z1 < z2, "fixing b, z must be strictly monotone in a")
      assert(z3 < z4, "fixing a, z must be strictly monotone in b")
      Seq(z1, z2, z3, z4).foreach(z => assert(z >= 0 && z < (1L << 32)))
    }
    // bijectivity on a seeded sample: distinct inputs → distinct z
    val pairs = Seq.fill(2000)((rng.nextInt(65536).toLong, rng.nextInt(65536).toLong)).distinct
    val zs = pairs.toDF("a", "b")
      .select(Curation.morton16(col("a"), col("b")).as("z")).collect().map(_.getLong(0))
    assert(zs.distinct.length == pairs.length, "interleave must not collide")
  }

  test("written z-layout prunes the SECOND dimension at the parquet scan") {
    // The manifest's promise made physical: write the corpus z-sorted
    // (repartitionByRange on the Morton key — the real layout job) and
    // the parquet footer min/max stats prune a supplier filter to a
    // fraction of the materialized rows; the partkey-sorted control
    // layout materializes ~everything for the same filter.
    val zDir = tempDir("graft_zw").toString
    val pkDir = tempDir("graft_zw_pk").toString
    val li = spark.read.parquet(s"$sf01/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val mx = li.agg(max(col("l_partkey")).as("pmax"), max(col("l_suppkey")).as("smax"))
    val z = Curation.morton16(
      expr("(l_partkey * 65536) div (pmax + 1)"),
      expr("(l_suppkey * 65536) div (smax + 1)"))
    // 32 range partitions, not 16: with 16 the z-scan fraction sat at
    // ~0.50 — right ON the assertion threshold, and range-boundary
    // sampling drift under full-suite load flipped it to 0.502 (flaky).
    // Finer files = finer footer stats = a comfortably wide margin.
    li.crossJoin(broadcast(mx)).withColumn("zv", z)
      .repartitionByRange(32, col("zv")).sortWithinPartitions("zv")
      .drop("zv", "pmax", "smax")
      .write.mode("overwrite").parquet(zDir)
    li.repartitionByRange(32, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(pkDir)

    def scannedRows(dir: String): Long = {
      val df = spark.read.parquet(dir).filter(col("l_suppkey") === 50L)
      val qe = df.queryExecution
      qe.executedPlan.execute().count()
      qe.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no FileSourceScanExec leaf"))
        .metrics("numOutputRows").value
    }
    val total = li.count()
    val (zRows, pkRows) = (scannedRows(zDir), scannedRows(pkDir))
    info(s"z layout scanned $zRows/$total, control scanned $pkRows/$total")
    assert(pkRows.toDouble / total > 0.9,
      s"control: partkey layout should materialize ~all rows for a supplier filter ($pkRows/$total)")
    assert(zRows.toDouble / total <= 0.5,
      s"z layout should prune at least half the scan ($zRows/$total)")
    assert(zRows < pkRows)
  }

  test("z-layout prunes second-dimension filters; single-key sort cannot") {
    val man = Curation.qZorderLayout(spark, sf01).collect()
    val nBuckets = man.length
    assert(nBuckets >= 64, s"need fine-grained buckets, got $nBuckets")
    // supplier-key point filter: buckets whose [sk_min, sk_max] bounding
    // box must be read
    val target = 50L
    val zTouched = man.count(r => r.getLong(4) <= target && target <= r.getLong(5))
    assert(zTouched.toDouble / nBuckets <= 0.30,
      s"z-layout should prune ≥70% of buckets for sk=$target: $zTouched/$nBuckets")
    // the SAME bucket count from a partkey-sorted layout: bucket by
    // partkey rank ranges → every bucket spans ~the full supplier range
    val li = Tables.lineitem(spark, sf01)
    val pmax = li.agg(max("l_partkey")).head.getLong(0)
    val sorted = li
      .withColumn("bucket", expr(s"(l_partkey * $nBuckets) div (${pmax + 1})"))
      .groupBy("bucket")
      .agg(min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
      .collect()
    val sTouched = sorted.count(r => r.getLong(1) <= target && target <= r.getLong(2))
    assert(sTouched == sorted.length,
      s"partkey-sorted buckets should all contain sk=$target: $sTouched/${sorted.length}")
    // and the z-layout still bounds the FIRST dimension comparably:
    // per-bucket partkey extent stays a small fraction of the domain
    val avgPkExtent = man.map(r => (r.getLong(3) - r.getLong(2)).toDouble).sum / nBuckets
    assert(avgPkExtent / pmax <= 0.30,
      s"z buckets must also bound partkey: avg extent $avgPkExtent of $pmax")
  }
}
