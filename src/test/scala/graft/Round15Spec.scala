package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Round-15 pins: the PageRank per-round exchange audit (VERDICT r14
  * task 7) and the simhash/minhash candidate-gate invariants the newly
  * oracle-gated entries stand on.
  */
class Round15Spec extends SparkSpec {

  test("pagerank iteration plan: ONE shuffle exchange per round (the " +
    "destination groupBy) — the cached edge spine and rank table are " +
    "co-partitioned, so the join moves nothing even without broadcast") {
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.types.LongType
      // a prior test's qPagerank run leaves ITS round caches in the
      // shared session, and the cache manager would substitute them for
      // this test's identical plan fragments — start from a clean slate
      // so the counted exchanges are this construction's own
      spark.sharedState.cacheManager.clearCache()
      // one round of the exact qPagerank loop shape, built on cached
      // inputs the way the production loop builds round 2+
      val perOrder = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_suppkey"))
        .groupBy("l_orderkey").agg(collect_set(col("l_suppkey")).as("ss"))
      val e0 = Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(perOrder, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast(LongType).as("u"),
          explode(col("ss")).as("s0"))
        .select(col("u"), (col("s0") + lit(1000000L)).cast(LongType).as("v"))
        .distinct()
      // cached-and-sorted spine + cached rank rounds, exactly as
      // qPagerank builds them (persist — the localCheckpoint form
      // captured UnknownPartitioning under AQE and re-exchanged the
      // spine every round; the AQE-suspended checkpoint alternative
      // pins unevictable raw blocks and OOM'd the 100× decade)
      val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u")).persist()
      val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
      val ed = edges.join(deg, "u").sortWithinPartitions("u").persist()
      val degC = deg.persist()
      degC.count()
      def round(r: org.apache.spark.sql.DataFrame) = ed.join(r, "u")
        .select(col("v"), expr("r div d").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("sc"))
        .select(col("v").as("u"),
          (lit(150000000000L) + expr("(17 * sc) div 20")).as("r"))
      try {
        val r1 = round(degC.select(col("u"), lit(1000000000000L).as("r")))
          .persist()
        r1.count()
        val r2 = round(r1)
        r2.write.mode("overwrite").format("noop").save()
        val finalPlan = r2.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        // collect() walks the EXECUTED tree only — cached-lineage
        // exchanges inside InMemoryRelations already ran at cache build
        // and do not repeat per round
        val shuffles = finalPlan.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.size == 1,
          s"expected exactly the groupBy(v) exchange, got ${shuffles.size}:\n" +
            shuffles.map(_.toString.split("\n").head).mkString("\n"))
        assert(shuffles.head.toString.contains("hashpartitioning(v"),
          s"the one exchange must be the destination groupBy: ${shuffles.head}")
        val scans = finalPlan.collect {
          case s if s.nodeName.contains("InMemoryTableScan") => s
        }
        assert(scans.size == 2,
          s"both join inputs must come from cache, got ${scans.size} cached scans")
        // the spine's cached ordering feeds the SMJ directly: at most the
        // node-sized rank side sorts per round
        val sorts = finalPlan.collect { case s if s.nodeName == "Sort" => s }
        assert(sorts.size <= 1,
          s"the cached spine must not re-sort per round: $sorts")
      } finally {
        spark.sharedState.cacheManager.clearCache()
      }
    }
  }

  test("pagerank result is unchanged by the persist/co-partition rework " +
    "(exact integer arithmetic, same top-100)") {
    val rows = graft.queries.Graph.qPagerank(spark, sf).collect()
    assert(rows.length == 100)
    // integer mass conservation spot check: every rank has the teleport
    // floor and ranks are sorted descending
    assert(rows.forall(_.getLong(1) >= 150000000000L))
    val scores = rows.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse)
    spark.sharedState.cacheManager.clearCache()
  }

  test("simhash sixteenth-pair band keys: every planted Hamming<=1-per-" +
    "band neighbor collides, and probe volume is 33 keys x 4 bands") {
    import spark.implicits._
    val dir = tempDir("graft_r15sh").toString
    // two docs one word apart (tiny Hamming), one unrelated
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappaX"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cand = graft.queries.Dedup.simhashCandidates(spark, dir, radius = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sig(1) and sig(2) differ by one word's worth of sign-sums on BOTH
    // independent signatures; if their 128-bit Hamming <= 7 the banding
    // MUST surface them (pigeonhole) — verify against the closed form
    val sigs = graft.queries.Dedup.simhashSig128(spark, dir).collect()
      .map(r => (r.getLong(0), (1 to 8).map(r.getLong).toArray)).toMap
    def ham(a: Array[Long], b: Array[Long]): Int =
      (0 until 8).map(k => java.lang.Long.bitCount(a(k) ^ b(k))).sum
    val ballPairs = for {
      a <- sigs.keys.toSeq.sorted; b <- sigs.keys.toSeq.sorted
      if a < b && ham(sigs(a), sigs(b)) <= 7
    } yield (a, b)
    assert(cand == ballPairs.toSet,
      s"candidates $cand != closed-form ball ${ballPairs.toSet}")
  }
}
