package graft

import org.apache.spark.sql.functions._
import graft.queries.{Profiling, Relational, Similarity}

/** Round-14 invariants. Value correctness of the public entries is
  * oracle-gated at three scales in Verify/check; these pin the
  * semantics and scale properties the oracle can't see.
  */
class Round14Spec extends SparkSpec {

  import spark.implicits._

  // ── promoted approx gates (no_oracle 8 → 6) ───────────────────────

  test("q_hist_equidepth_approx (gated form): all k−1 split ranks honor " +
    "the sketch bound on the real corpus") {
    val rows = Profiling.qHistEquidepthApproxGated(spark, sf).collect()
    assert(rows.length == 9, s"expected 9 split rows, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) == 1L, s"split rank bound violated: $r")
    }
  }

  test("q_winsorize_approx (gated form): both trim bounds honor the " +
    "sketch rank contract per group") {
    val rows = Profiling.qWinsorizeApproxGated(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 1L && r.getLong(2) == 1L,
        s"winsorize bound rank violated: $r")
    }
  }

  test("rank gate REJECTS out-of-bound ranks at the new gates' " +
    "percentile points (p=1/20, 19/20, i/10)") {
    // n=200000, acc=10000 ⇒ slack n/acc + 1 = 21 ranks
    val n = 200000L
    def flags(pNum20: Long, targets: Seq[(Long, Long)]): Seq[Long] =
      targets.toDF("below", "at_or_below")
        .select(Relational.rankOk(col("below"), col("at_or_below"),
          lit(n), pNum20, 10000L).as("ok"))
        .collect().map(_.getLong(0)).toSeq
    // p = 0.05 → target rank 10000
    assert(flags(1L, Seq((9999L, 10000L), (10020L, 10021L),
      (10100L, 10101L), (9900L, 9901L))) == Seq(1L, 1L, 0L, 0L))
    // p = 0.95 → target rank 190000
    assert(flags(19L, Seq((189999L, 190000L), (190100L, 190101L))) ==
      Seq(1L, 0L))
    // p = 3/10 (a hist split) → target rank 60000
    assert(flags(6L, Seq((59999L, 60000L), (60500L, 60501L))) ==
      Seq(1L, 0L))
  }

  // ── incremental embedding dedup ───────────────────────────────────

  test("q_dedup_embed_incremental: every planted re-encode replay is " +
    "caught against the persisted index") {
    val offset = Tables.embeddings(spark, sf)
      .agg(max(col("vec_id"))).collect().head.getLong(0) + 1L
    val out = queries.Dedup.qDedupEmbedIncremental(spark, sf).collect()
    val caught = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 300L by 5L).map(id => (id + offset, id)).toSet
    val missing = expected -- caught
    assert(missing.isEmpty,
      s"replays not caught by the ANN index probe: ${missing.take(5)}")
    // a +0.02 re-encode drift must still clear the admission threshold
    // with margin (corpus floor ~0.987 — not grazing 0.95)
    out.filter(r => r.getLong(0) >= offset).foreach { r =>
      assert(r.getDouble(2) > 0.98, s"replay cosine suspiciously low: $r")
    }
  }

  test("q_dedup_embed_incremental: replay ids sit strictly above the " +
    "organic range even on an id-shifted corpus (derived offset)") {
    val dir = tempDir("graft_embinc").toString
    // ids in the 2e6 range — the shape of the key-shifted 10x sweep
    // corpora that broke a fixed-offset scheme
    spark.range(0, 40).select(
      (col("id") + lit(2000000L)).as("vec_id"),
      array((0 until 64).map(i =>
        (col("id") % 7 + lit(i % 5)).cast("float") / lit(7.0f)): _*)
        .as("embedding"),
      lit(1).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = queries.Dedup.qDedupEmbedIncremental(spark, dir,
      thr = 2000020L).collect()
    // replays derive from max+1 = 2000040: no output id may collide
    // with an organic id, and replay partners must be corpus ids
    out.filter(_.getLong(0) >= 2000040L).foreach { r =>
      assert(r.getLong(1) < 2000020L, s"replay matched a non-corpus id: $r")
    }
    assert(out.exists(_.getLong(0) >= 2000040L),
      "no replay pair survived on the shifted corpus — offset derivation broken")
  }

  test("q_stream_dedup_embed: the streamed admission pair set equals " +
    "the nightly batch probe's, row for row") {
    // identical expressions => identical doubles => the two entries
    // share one DuckDB oracle; this pins the equality directly so a
    // drift between the stream plan and the batch plan fails HERE with
    // both sides visible, not as an opaque oracle hash mismatch
    val streamed = queries.Streaming.qStreamDedupEmbed(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val nightly = queries.Dedup.qDedupEmbedIncremental(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == nightly,
      s"stream/batch divergence: ${streamed.size} vs ${nightly.size} rows")
    assert(streamed.nonEmpty)
  }

  test("q_embed_kmeans: partition-count invariance (the integer-sum " +
    "determinism claim) + partition/coverage invariants") {
    val out = Similarity.qEmbedKmeans(spark, sf).collect()
    // k=8 init ids all exist => 8 clusters × 8 components
    assert(out.length == 64, s"expected 64 rows, got ${out.length}")
    val nTotal = out.groupBy(_.getLong(0)).map(_._2.head.getLong(2)).sum
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(nTotal == nVecs, s"members $nTotal != corpus $nVecs")
    // the centroid means come from order-independent integer sums, so
    // a different partitioning must reproduce them bit-for-bit
    val single = withSQLConf("spark.sql.shuffle.partitions" -> "1") {
      Similarity.qEmbedKmeans(spark, sf).collect()
    }
    assert(out.map(_.toString).toSeq == single.map(_.toString).toSeq,
      "kmeans centroids moved with the partition count")
  }

  test("q_dedup_semdedup: planted re-encode replays are caught within " +
    "their clusters (recall >= 0.9; boundary splits are the documented " +
    "SemDeDup tradeoff)") {
    val emb = Tables.embeddings(spark, sf)
    val off = emb.agg(max(col("vec_id"))).collect().head.getLong(0) + 1L
    val planted = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val out = queries.Dedup.qDedupSemdedup(spark, sf).collect()
    // every emitted pair: keep_id < prune_id, cosine >= tau
    out.foreach { r =>
      assert(r.getLong(1) < r.getLong(2) && r.getDouble(3) >= 0.95, r.toString)
    }
    val caught = out.map(r => (r.getLong(1), r.getLong(2))).toSet
    val recall = planted.count(v => caught.contains((v, v + off))).toDouble /
      planted.size
    assert(recall >= 0.9,
      s"cluster-scoped recall $recall < 0.9 (${caught.size} pairs emitted)")
  }

  test("q_bloom_decontaminate gate REJECTS a degenerate filter: a " +
    "64-bit array saturates, and the FP-budget flag reads 0") {
    // with mBits=64 every word is all-ones after a handful of eval
    // grams, so every probed pair becomes a candidate — the 1% FP
    // budget must trip (while no-false-negatives still holds)
    val out = queries.Curation.qBloomDecontaminateGated(spark, sf,
      mBitsOverride = 64L).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) == 1L, s"superset must hold even saturated: $r")
      assert(r.getLong(3) == 0L, s"FP budget flag failed to trip: $r")
    }
  }

  test("q_decontaminate_semantic: every planted re-encode is flagged " +
    "and nothing organic is (manifest counts match the plant exactly)") {
    val emb = Tables.embeddings(spark, sf)
    val off = emb.agg(max(col("vec_id"))).collect().head.getLong(0) + 1L
    // planted per label: eval (id%97==0) with id%3==0, re-encoded at id+off
    val planted = emb.filter(col("vec_id") % 97 === 0 && col("vec_id") % 3 === 0)
      .groupBy(col("label")).agg(count(lit(1)).as("n"),
        sum(col("vec_id") + lit(off)).as("key_sum"))
      .collect().map(r => r.get(0) -> (r.getLong(1), r.getLong(2))).toMap
    val out = queries.Curation.qDecontaminateSemantic(spark, sf).collect()
    out.foreach { r =>
      val (n, keySum) = planted.getOrElse(r.get(0), (0L, 0L))
      assert(r.getLong(2) == n,
        s"label ${r.get(0)}: flagged ${r.getLong(2)} != planted $n")
      assert(r.getLong(3) == keySum,
        s"label ${r.get(0)}: an ORGANIC train doc was flagged " +
          s"(checksum ${r.getLong(3)} != planted $keySum)")
    }
    assert(out.map(_.getLong(2)).sum > 0, "no contamination caught at all")
  }

  // ── q_graph_triangles: the wedge joins never sort array payloads ──

  test("q_graph_triangles wedge joins are shuffled HASH joins (no " +
    "SortMergeJoin sorting the adjacency-array rows)") {
    val plan = queries.Graph.qGraphTriangles(spark, sf)
      .queryExecution.executedPlan.toString
    // the 10× disjoint-decade A/B: SMJ on the array-bearing probe rows
    // read 106 s vs 36 s for the hinted shuffled hash join
    assert(plan.contains("ShuffledHashJoin"),
      s"expected hinted shuffle_hash wedge joins:\n${plan.take(600)}")
    assert(!plan.contains("SortMergeJoin"),
      s"SortMergeJoin crept back into the wedge pipeline:\n${plan.take(600)}")
  }

  // ── q_embed_pca_power: the multi-pass fix stays in place ──────────

  test("q_embed_pca_power materializes the covariance rows once " +
    "(localCheckpoint feeds all three passes)") {
    val df = Similarity.qEmbedPcaPower(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the checkpointed `rows`/`v1` appear as ExistingRDD scans — the
    // corpus-sized covariance shuffle is NOT re-planned per pass
    assert(plan.contains("ExistingRDD"),
      s"expected checkpointed covariance rows in plan:\n${plan.take(600)}")
    assert(df.collect().length == 8)
  }
}
