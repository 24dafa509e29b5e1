package graft

import org.apache.spark.sql.functions._

/** Round-19 contract pins: the shared scratch-root resolution
  * ([[graft.queries.Scratch]] — round-18 verdict task 1), and the
  * auto-sized Misra-Gries m rule ([[graft.queries.TextAnalysis.hhM]] —
  * task 5) that put the heavy-hitters pair back inside the scaled
  * oracle gate. */
class Round19Spec extends SparkSpec {

  test("Scratch.root precedence: the graft.scratch.root system property " +
    "outranks the warehouse-dir default; freshDir lands under " +
    "<root>/graft_scratch/run and delete removes it") {
    import graft.queries.Scratch
    // default: the session warehouse dir (the shared filesystem on any
    // real deployment)
    assert(Scratch.root(spark) == spark.sessionState.conf.warehousePath)
    val override_ = tempDir("graft_scratch_spec").toString
    System.setProperty("graft.scratch.root", override_)
    try {
      assert(Scratch.root(spark) == override_)
      val d = Scratch.freshDir(spark, "spec")
      assert(d.toString.startsWith(s"$override_/graft_scratch/run/"),
        s"freshDir $d not under the configured root")
      val fs = Scratch.fs(spark, d)
      assert(fs.exists(d), "freshDir must create the directory")
      // the local fast path resolves for file:-scheme scratch roots
      assert(Scratch.asLocal(spark, d).isDefined)
      Scratch.delete(spark, d)
      assert(!fs.exists(d), "delete must remove the directory")
      // keyed caches are STABLE: same name, same path (reuse contract)
      assert(Scratch.cacheDir(spark, "k1") == Scratch.cacheDir(spark, "k1"))
      assert(Scratch.cacheDir(spark, "k1") != Scratch.cacheDir(spark, "k2"))
    } finally System.clearProperty("graft.scratch.root"): Unit
  }

  test("heavy-hitters auto-m follows the vocabulary rule m = " +
    "max(1024, 2*V): m >= V makes the Misra-Gries candidate set the " +
    "full vocabulary, so the exact entry is in-regime at any decade") {
    import graft.queries.TextAnalysis
    val v = Tables.documents(spark, sf)
      .select(explode(graft.functions.WordNgrams.grams(col("text"), 2))
        .as("gram"))
      .agg(countDistinct(col("gram"))).head.getLong(0)
    val m = TextAnalysis.hhM(spark, sf)
    assert(m == math.max(1024L, 2L * v).toInt,
      s"auto m=$m does not match max(1024, 2*V) for V=$v")
    assert(m >= v, "the rule's exactness argument needs m >= V")
    // and the gated entry built on it returns the exact top-k (the
    // guard passing IS the assertion — it throws outside the regime)
    assert(TextAnalysis.qHeavyHitters(spark, sf, m = m).count() > 0)
  }
}
