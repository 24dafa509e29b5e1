package graft

import org.apache.spark.sql.functions._
import graft.queries.TextAnalysis

/** Pins the Misra-Gries guarantee behind q_heavy_hitters in the LOSSY
  * regime (m far below the vocabulary), which the tiny synthetic corpus
  * never enters on its own — plus plan and determinism checks on the
  * registry form. Value-correctness of the registry form is oracle-gated
  * (exact top-k SQL) in Verify/check.
  */
class HeavyHittersSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private val stagedDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  // deleteOnExit can't remove a non-empty directory — walk the staged
  // fixture trees bottom-up once the suite is done (same discipline as
  // the streaming harness's feed-dir cleanup).
  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    stagedDirs.foreach { dir =>
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    super.afterAll()
  }

  test("registry form: exact counts, deterministic, candidate set broadcast") {
    // plan shape is asserted on the LIVE stage-2 subtree — the registry
    // form checkpoints the <= k top rows (so the guard and the output
    // share one evaluation), which hides these operators behind a
    // Scan ExistingRDD in the outer plan
    val livePlan = TextAnalysis.heavyHitterParts(spark, sf, 20, 1024)
      ._2.queryExecution.executedPlan.toString
    assert(livePlan.contains("BroadcastHashJoin") || livePlan.contains("BroadcastExchange"),
      s"candidate semi-join must broadcast:\n${livePlan.take(800)}")
    val out = TextAnalysis.qHeavyHitters(spark, sf)
    val rows = out.collect()
    assert(rows.length == 20)
    // counts are exact: compare against the plain exact aggregation
    val exact = Tables.documents(spark, sf)
      .select(explode(graft.functions.WordNgrams.grams(col("text"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(20).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      exact.map(r => (r.getString(0), r.getLong(1))).toSeq,
      "guarantee regime: output must equal the exact top-k")
  }

  test("runtime guard: leaving the exact regime fails loudly, not silently") {
    // On the synthetic corpus the k-th bigram count is far below N/16,
    // so m=16 violates kth*m > N and the in-plan assert_true must trip
    // at materialization time.
    val ex = intercept[Exception] {
      TextAnalysis.qHeavyHitters(spark, sf, k = 20, m = 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("outside the Misra-Gries exact regime")),
      s"expected the exactness guard, got: ${ex.getMessage}")
  }

  /** Stage a throwaway documents.parquet so the registry forms can run
    * over a purpose-built corpus (they read `$dir/documents.parquet`). */
  private def stageDocs(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = tempDir("graft_hh_fixture")
    stagedDirs += dir
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("approx twin: equals the exact form inside the guarantee regime") {
    val approx = TextAnalysis.qHeavyHittersApprox(spark, sf).collect()
    val exact = TextAnalysis.qHeavyHitters(spark, sf).collect()
    assert(approx.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      exact.map(r => (r.getString(0), r.getLong(1))).toSeq,
      "with m above the regime threshold the sketch must degrade to exact")
  }

  test("approx twin: outside the exact regime, counts exact + eps=1/m bound") {
    // Flat-ish corpus: 400 distinct bigrams appearing twice each, plus
    // one planted heavy hitter well above N/m. With m=16 the exact
    // guard trips (kth count 2, 2*16 << N) — the sketch must still (a)
    // report EXACT counts for whatever it returns, and (b) return every
    // gram whose true count exceeds N/m (the Misra-Gries survival
    // bound), in particular the planted heavy.
    val tail = (1 to 400).flatMap(i => Seq.fill(2)(s"t$i x$i"))
    val n = tail.size + 200
    val docs = new scala.util.Random(42).shuffle(tail ++ Seq.fill(200)("heavy hh"))
    val dir = stageDocs(docs)
    val m = 16
    assert(200L > n.toLong / m, "fixture: planted heavy must clear N/m")
    intercept[Exception] {
      TextAnalysis.qHeavyHitters(spark, dir, k = 20, m = m).collect()
    }
    val approx = TextAnalysis.qHeavyHittersApprox(spark, dir, k = 20, m = m)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val trueCounts = docs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(approx.nonEmpty && approx.size <= 20)
    approx.foreach { case (g, c) =>
      assert(c == trueCounts(g), s"returned count for '$g' must be exact")
    }
    trueCounts.filter(_._2 > n.toLong / m).keys.foreach { g =>
      assert(approx.contains(g),
        s"'$g' (count ${trueCounts(g)} > N/m=${n / m}) must be returned")
    }
  }

  test("guard skips when no partition hit the counter cap (small vocab)") {
    // 16 distinct bigrams, one dominant — the k-th count (1) fails the
    // kth*m > N test, but no partition ever overflows m=16 counters so
    // the result is plainly exact and the guard must NOT trip.
    val docs = Seq.fill(500)("h h") ++ (1 to 15).map(i => s"r$i r$i")
    val dir = stageDocs(docs)
    val rows = TextAnalysis.qHeavyHitters(spark, dir, k = 16, m = 16)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 16)
    assert(rows.head == ("h h", 500L))
    assert(rows.tail.map(_._2).forall(_ == 1L))
  }

  test("lossy regime (m << vocab): every gram with count > N/m survives") {
    import spark.implicits._
    // Skewed fixture: gram i appears ~ 1000/i times (Zipf-ish), vocab 200,
    // shuffled deterministically so heavy grams are interleaved with tail.
    val rows = (1 to 200).flatMap(i => Seq.fill(1000 / i)(s"g$i"))
    val shuffled = rows.zipWithIndex
      .sortBy { case (_, ix) => (ix * 2654435761L) % 1000000007L }
      .map(_._1)
    val df = shuffled.toDF("text").repartition(4)
    val m = 16
    val n = rows.length.toLong
    val out = df.select(col("text").as("gram")).as[String]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { g =>
          counters.get(g) match {
            case Some(c) => counters(g) = c + 1
            case None if counters.size < m => counters(g) = 1L
            case None =>
              counters.mapValuesInPlace((_, v) => v - 1)
              counters.filterInPlace((_, v) => v > 0)
          }
        }
        counters.keysIterator
      }.collect().toSet
    assert(out.size <= m * 4, "each partition emits at most m survivors")
    val trueCounts = rows.groupBy(identity).view.mapValues(_.size.toLong)
    val mustSurvive = trueCounts.filter { case (_, c) => c > n / m }.keys
    assert(mustSurvive.nonEmpty, "fixture must exercise the guarantee")
    mustSurvive.foreach { g =>
      assert(out.contains(g), s"gram $g with count ${trueCounts(g)} > N/m=${n / m} must survive")
    }
  }
}
