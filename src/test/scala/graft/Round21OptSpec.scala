package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Round-21 optimization pins: every rewrite this round must produce
  * bit-identical results to the formulation it retired (the driver's
  * oracle re-hashes every entry, but these pins localize a regression
  * to the exact rewrite instead of a round-trip through the gate).
  */
class Round21OptSpec extends SparkSpec {

  /** The RETIRED edge-spine formulation (distinct + union + repartition)
    * — the witness the one-aggregation adjacency spine must reproduce. */
  private def oldEdges(keyCol: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"))
      .groupBy("l_orderkey")
      .agg(collect_set(col("l_suppkey")).as("ss"))
    val e0 = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast(LongType).as("u"),
        explode(col("ss")).as("s0"))
      .select(col("u"), (col("s0") + lit(1000000L)).cast(LongType).as("v"))
      .distinct()
    e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .repartition(col(keyCol))
  }

  test("graph adjacency spine: one-aggregation collect_set edge set " +
    "equals the retired distinct+union+repartition spine exactly") {
    val old = oldEdges("u").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the new spine, as qPagerank/graphBfsFrom build it
    val perOrder = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"))
      .groupBy("l_orderkey")
      .agg(collect_set(col("l_suppkey")).as("ss"))
    val p0 = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast(LongType).as("c"),
        explode(col("ss")).as("s0"))
      .select(col("c"), (col("s0") + lit(1000000L)).cast(LongType).as("sp"))
    val fresh = p0.select(col("c").as("u"), col("sp").as("v"))
      .union(p0.select(col("sp").as("u"), col("c").as("v")))
      .groupBy("u").agg(collect_set(col("v")).as("un"))
      .select(col("u"), explode(col("un")).as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fresh == old, "adjacency-derived edge set must equal the " +
      "distinct+union witness")
    assert(old.nonEmpty)
  }

  test("bfs frontier-incremental merge equals the retired full " +
    "min-re-aggregate loop, row for row") {
    spark.sharedState.cacheManager.clearCache()
    val fresh = queries.Graph.qGraphBfs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // retired loop: union + groupBy-min over the FULL discovered set
    val edges = oldEdges("u").sortWithinPartitions("u").persist()
    var dist = Tables.customer(spark, sf)
      .filter(pmod(col("c_custkey"), lit(100L)) === 0)
      .select(col("c_custkey").cast(LongType).as("u"), lit(0L).as("dist"))
      .distinct()
    for (h <- 1 to 3) {
      val frontier = dist.filter(col("dist") === (h - 1))
      val next = edges.join(frontier, "u")
        .select(col("v").as("u"), lit(h.toLong).as("dist"))
      dist = dist.union(next).groupBy("u").agg(min(col("dist")).as("dist"))
    }
    val witness = dist.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    edges.unpersist(false)
    assert(fresh == witness, "frontier-incremental BFS must equal the " +
      "full-re-aggregate witness")
    assert(fresh.nonEmpty && fresh.exists(_._2 > 0))
    spark.sharedState.cacheManager.clearCache()
  }

  test("labelprop over the adjacency spine equals the retired " +
    "distinct-spine loop, row for row") {
    spark.sharedState.cacheManager.clearCache()
    val fresh = queries.Graph.qGraphLabelprop(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val edges = oldEdges("v").sortWithinPartitions("v").persist()
    var labels = edges.select(col("u")).distinct()
      .select(col("u"), col("u").as("lbl"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    for (_ <- 1 to 2) {
      labels = edges
        .join(labels.select(col("u").as("n"), col("lbl")), col("v") === col("n"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          w.orderBy(col("c").desc, col("lbl").asc)))
        .filter(col("rn") === 1)
        .select(col("u"), col("lbl"))
    }
    val witness = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    edges.unpersist(false)
    assert(fresh == witness, "adjacency-spine labelprop must equal the " +
      "distinct-spine witness")
    assert(fresh.nonEmpty)
    spark.sharedState.cacheManager.clearCache()
  }

  test("pagerank over the adjacency spine: mass floor, ordering, and " +
    "the hand-checkable row count survive the spine rework") {
    spark.sharedState.cacheManager.clearCache()
    val rows = queries.Graph.qPagerank(spark, sf).collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getLong(1) >= 150000000000L))
    val scores = rows.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse)
    spark.sharedState.cacheManager.clearCache()
  }

  test("thresholded levenshtein pair set and distances equal the " +
    "unthresholded witness on the corpus sample") {
    val d = Tables.documents(spark, sf)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 48).as("pfx"))
    val a = d.select(col("doc_id").as("a_id"), col("lang"), col("pfx").as("a_pfx"))
    val b = d.select(col("doc_id").as("b_id"), col("lang"), col("pfx").as("b_pfx"))
    val witness = a.join(b, Seq("lang")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_pfx"), col("b_pfx")).cast(LongType).as("ed"))
      .filter(col("ed") <= 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val fresh = queries.Dedup.qDedupEdit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(fresh == witness,
      "levenshtein(threshold) must keep exactly the dist<=20 pairs with " +
        "exact distances")
    // adversarial boundary probes: exactly at, just past, and far past
    // the threshold, plus empty sides
    import spark.implicits._
    val probes = Seq(
      ("a" * 48, "b" * 20 + "a" * 28),  // dist exactly 20
      ("a" * 48, "b" * 21 + "a" * 27),  // dist 21 -> dropped (-1)
      ("a" * 48, "b" * 48),             // far past
      ("", "xyz"), ("abc", "")).toDF("x", "y")
    val both = probes.select(
      levenshtein(col("x"), col("y")).as("full"),
      levenshtein(col("x"), col("y"), 20).as("thr")).collect()
    both.foreach { r =>
      val (full, thr) = (r.getInt(0), r.getInt(1))
      if (full <= 20) assert(thr == full, s"within threshold: $full vs $thr")
      else assert(thr == -1, s"past threshold must flag -1, got $thr")
    }
  }

  test("array-fraction approx_percentile equals the two single-fraction " +
    "sketches it fused (same digest, same insertion order)") {
    val li = Tables.lineitem(spark, sf)
    val fused = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 1000)")
        .as("pp"))
      .select(col("l_returnflag"), col("pp")(0).as("m"), col("pp")(1).as("p"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val separate = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("m"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("p"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(fused == separate,
      "array-fraction sketch must return bit-identical quantiles")
  }

  test("kmeansFit ragged-vector guard: a corpus whose later vectors are " +
    "longer than the first k fails loudly instead of truncating") {
    import spark.implicits._
    val ragged = Seq(
      (0L, Seq(1.0, 2.0)), (1L, Seq(2.0, 3.0)),
      (2L, Seq(1.0, 2.0, 9.0))).toDF("vec_id", "vec")
    val e = intercept[Exception] {
      queries.Similarity.kmeansFit(ragged, k = 2, iters = 1)
    }
    assert(e.getMessage.contains("uniform-dims"),
      s"expected the uniform-dims contract failure, got: ${e.getMessage}")
  }

  test("kmeansFit null-vector guard: a cluster of only null vectors fails " +
    "the uniform-dims contract instead of throwing an NPE") {
    import spark.implicits._
    val withNulls = Seq(
      (0L, Some(Seq(1.0, 2.0))), (1L, Some(Seq(2.0, 3.0))),
      (2L, None)).toDF("vec_id", "vec")
    val e = intercept[IllegalArgumentException] {
      queries.Similarity.kmeansFit(withNulls, k = 2, iters = 1)
    }
    assert(e.getMessage.contains("uniform-dims") && e.getMessage.contains("[null, null]"),
      s"expected the uniform-dims contract failure, got: ${e.getMessage}")
  }

  test("no-data-batch removal is output-neutral: the streamed tumble " +
    "table still equals the batch hourly aggregation") {
    val streamed = queries.Streaming.queries("q_stream_tumble")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts_ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        queries.QueryUtil.dsum(col("value")).as("sum_value"))
      .orderBy("hour", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      "complete-mode tumble without no-data batches must equal the batch table")
  }

  test("no-data-batch removal is output-neutral: the streamed inner " +
    "interval join still equals the batch interval join") {
    val streamed = queries.Streaming.queries("q_stream_interval_join")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts_ts"), col("event_type"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts_ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts_ts").as("pts"))
    val batch = c.join(p, col("cu") === col("pu") &&
        col("pts") > col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("cu").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("pts")) - unix_timestamp(col("cts"))).as("delta_sec"))
      .orderBy("click_id", "purchase_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      "inner interval join without no-data batches must equal the batch join")
  }

  test("no-data-batch removal is output-neutral: the streamed semi join " +
    "still equals the batch EXISTS") {
    val streamed = queries.Streaming.queries("q_stream_semi_join")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts_ts"), col("event_type"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts_ts").as("pts"))
    val batch = c.join(p, col("user_id") === col("pu") &&
        col("pts") > col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 3600 SECONDS"), "left_semi")
      .select(col("user_id"), col("click_id"))
      .orderBy("click_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      "semi interval join without no-data batches must equal the batch EXISTS")
  }
}
