package graft

import org.apache.spark.sql.functions._

/** Round-20 contract pins: the two new bounded-oracle gate twins
  * (q_dedup_simhash_verified_slice / q_graph_bfs_bounded — round-19
  * verdict task 3), the startup stale sweep for killed-JVM scratch and
  * band-index garbage (task 6), and the memoized heavy-hitters
  * vocabulary scan (round-19 advisory). */
class Round20Spec extends SparkSpec {

  test("q_graph_bfs_bounded IS the full entry at driver scale: 150 " +
    "customers make R = max(100, n/16) = 100, the production seed rule") {
    import graft.queries.Graph
    val full = Graph.qGraphBfs(spark, sf).collect().map(_.toSeq).toSeq
    val bounded = Graph.qGraphBfsBounded(spark, sf).collect().map(_.toSeq).toSeq
    assert(full.nonEmpty, "bfs output must be non-empty")
    assert(bounded == full,
      "bounded twin must equal the full entry when R resolves to 100")
  }

  test("q_dedup_simhash_verified_slice at cadence=1: the organic subset " +
    "equals the production entry exactly (pipeline identity), and the " +
    "planted replays make the gated ground truth non-vacuous") {
    import graft.queries.Dedup
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val off = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val twin = Dedup.qDedupSimhashVerifiedSlice(spark, sf).collect()
    val organic = twin.filter(r => r.getLong(0) < off && r.getLong(1) < off)
      .map(_.toSeq).toSeq
    val full = Dedup.qDedupSimhashVerified(spark, sf).collect()
      .map(_.toSeq).toSeq
    assert(organic == full,
      "slice twin restricted to organic ids must equal the production entry")
    val planted = twin.count(r => r.getLong(1) >= off)
    assert(planted > 0,
      "planted replays must appear in the gated output (non-vacuity)")
  }

  test("startup stale sweep: a foreign-token invocation dir past the " +
    "horizon is reaped on first use of a scratch root; non-invocation " +
    "names and the current JVM's dirs survive") {
    import graft.queries.Scratch
    val root = tempDir("graft_sweep_root").toString
    val run = new java.io.File(s"$root/graft_scratch/run")
    assert(run.mkdirs())
    val stale = new java.io.File(run, "dead_aaaaaaaaaaaa_3")
    val named = new java.io.File(run, "production_dir")
    assert(stale.mkdirs() && named.mkdirs())
    Thread.sleep(20) // horizon=0 compares mtime strictly below now
    System.setProperty("graft.scratch.root", root)
    System.setProperty("graft.stale.horizon.ms", "0")
    try {
      val d = Scratch.freshDir(spark, "spec20")
      assert(!stale.exists(), "foreign stale invocation dir must be swept")
      assert(named.exists(), "non-invocation names are never touched")
      assert(Scratch.fs(spark, d).exists(d),
        "the current JVM's own fresh dir must survive its token check")
      Scratch.delete(spark, d)
    } finally {
      System.clearProperty("graft.scratch.root")
      System.clearProperty("graft.stale.horizon.ms"): Unit
    }
  }

  test("startup stale sweep horizon: a RECENT foreign-token dir is NOT " +
    "swept under the default 24h horizon (concurrent sibling JVMs are " +
    "safe)") {
    import graft.queries.Scratch
    val root = tempDir("graft_sweep_root2").toString
    val run = new java.io.File(s"$root/graft_scratch/run")
    assert(run.mkdirs())
    val fresh = new java.io.File(run, "live_bbbbbbbbbbbb_7")
    assert(fresh.mkdirs())
    System.setProperty("graft.scratch.root", root)
    try {
      val d = Scratch.freshDir(spark, "spec20b")
      assert(fresh.exists(),
        "a foreign dir inside the horizon must survive the sweep")
      Scratch.delete(spark, d)
    } finally System.clearProperty("graft.scratch.root"): Unit
  }

  test("band-index stale sweep: a foreign-token invocation TABLE dir " +
    "under graft_band_index is reaped on the first writeBandIndex " +
    "against that root; explicitly-named production indexes survive") {
    import graft.queries.Dedup
    val root = tempDir("graft_idx_sweep").toString
    val parent = new java.io.File(s"$root/graft_band_index")
    assert(parent.mkdirs())
    val stale = new java.io.File(parent, "graft_idx_append_cccccccccccc_2")
    val prod = new java.io.File(parent, "corpus_minhash_index")
    assert(stale.mkdirs() && prod.mkdirs())
    Thread.sleep(20)
    System.setProperty("graft.index.root", root)
    System.setProperty("graft.stale.horizon.ms", "0")
    try {
      val df = spark.range(4).select(col("id").as("k"), col("id").as("v"))
      val t = Dedup.freshIndexName(spark, "graft_spec20_idx")
      Dedup.writeBandIndex(spark, df, t, Seq("k")): Unit
      assert(!stale.exists(), "foreign stale index table must be swept")
      assert(prod.exists(), "explicitly-named index tables are never touched")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    } finally {
      System.clearProperty("graft.index.root")
      System.clearProperty("graft.stale.horizon.ms"): Unit
    }
  }

  test("hhM memoizes the vocabulary scan per dir (round-19 advisory: " +
    "one corpus aggregation, not one per heavy-hitters entry) and still " +
    "follows the max(1024, 2*V) rule") {
    import graft.queries.TextAnalysis
    val m1 = TextAnalysis.hhM(spark, sf)
    val t0 = System.nanoTime()
    val m2 = TextAnalysis.hhM(spark, sf)
    val cachedMs = (System.nanoTime() - t0) / 1e6
    assert(m1 == m2)
    assert(cachedMs < 1000.0,
      s"second hhM call took $cachedMs ms — the vocabulary scan is not memoized")
  }
}
