package graft

import org.apache.spark.sql.functions._
import graft.queries.{Dedup, Similarity}

/** Dedup / similarity operators: planted-duplicate detection for the
  * LSH paths (which have no SQL oracle by design) and recall of the
  * approximate ANN vs the exact baseline. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private def plantedDocs = {
    // 20 distinct docs + near-identical copies of docs 3 and 7
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rng = new scala.util.Random(1)
    val base = (0L until 20L).map { i =>
      (i, (0 until 60).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dup3 = (100L, base(3)._2.replace("alpha", "alpha"))   // exact copy
    val dup7 = (101L, base(7)._2 + " omega")                  // near copy
    (base :+ dup3 :+ dup7).toDF("doc_id", "text")
      .withColumn("lang", lit("xx"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("minhash LSH surfaces planted near-duplicates") {
    val dir = tempDir("graft_dedup").toString
    plantedDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.qDedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 3L && b == 100L && j == 1.0 })
    assert(pairs.exists { case (a, b, j) => a == 7L && b == 101L && j > 0.9 })
  }

  test("simhash banding surfaces planted near-duplicates") {
    val dir = tempDir("graft_dedup2").toString
    plantedDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.qDedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, h) => a == 3L && b == 100L && h == 0L })
    assert(pairs.exists { case (a, b, _) => a == 7L && b == 101L })
  }

  test("exact dedup keeps the lowest doc_id per text") {
    val dir = tempDir("graft_dedup3").toString
    plantedDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = Dedup.qDedupExact(spark, dir).collect().map(_.getLong(0)).toSet
    assert(!kept.contains(100L)) // exact copy of doc 3 dropped
    assert(kept.contains(3L) && kept.contains(101L)) // near-copy survives exact dedup
  }

  test("LSH ANN recall@10 vs exact top-10 is at least 0.8 (multi-probe)") {
    val exact = Similarity.qEmbedCosineTopk(spark, sf).collect().map(_.getLong(0)).toSet
    val approx = Similarity.qAnnLsh(spark, sf).collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH recall@10 = $recall")
    // 1.0 measured with Hamming-1 multi-probe (0.5 single-probe)
    assert(recall >= 0.8, s"recall=$recall exact=$exact approx=$approx")
  }

  test("IVF ANN returns 10 candidates with nontrivial recall") {
    val exact = Similarity.qEmbedCosineTopk(spark, sf).collect().map(_.getLong(0)).toSet
    val rows = Similarity.qAnnIvf(spark, sf).collect()
    assert(rows.length == 10)
    val recall = (exact & rows.map(_.getLong(0)).toSet).size.toDouble / exact.size
    info(s"IVF recall@10 = $recall")
    // 0.8 measured with k-means-refined centroids (was 0.3-floor with
    // fixed seeds); nprobe=2 of k=16 lists bounds what's reachable
    assert(recall >= 0.6, s"recall=$recall")
    // approximate scores must be genuine cosines (within [-1, 1])
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("partitioned parquet sink lays out hive-style directories") {
    val out = tempDir("graft_part").toString
    graft.ingest.PipelineSinks.writeParquetPartitioned(
      Tables.documents(spark, sf), out, Seq("lang"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("lang=")))
    // partition pruning: reading one partition sees only that lang
    val one = spark.read.parquet(out).filter(col("lang") === dirs.head.stripPrefix("lang="))
    assert(one.select("lang").distinct().count() == 1)
  }

  test("int8 quantization: error bounded by half a quantum, fidelity >= 0.999") {
    val rows = Similarity.qEmbedQuant(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mx, err, fid) = (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(err <= (mx - mn) / 255.0 / 2.0 + 1e-6, s"err=$err range=${mx - mn}")
      assert(fid >= 0.999, s"fidelity=$fid")
    }
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val rows = Dedup.qDedupEmbed(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.95)
    }
  }
}
