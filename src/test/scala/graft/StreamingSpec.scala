package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Sessionize

/** Structured Streaming sessionization: flatMapGroupsWithState over a
  * file stream, checked against the batch twin on closed sessions. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Atomic feed staging for a RUNNING stream (the same discipline as
    * runTwoBatchStream): write the chunk OUTSIDE the watched glob, then
    * rename it into view in one filesystem move — the polling source's
    * listing sees ALL of the chunk or NONE of it. A plain multi-file
    * append races the listing and can split a chunk into out-of-order
    * micro-batches, which breaks every order-sensitive keyed fold
    * (observed: the transitions matrix flaking under full-suite load).
    * The staging dir is a SIBLING temp dir, not an `_`-prefixed child:
    * glob-matched roots are exempt from Spark's hidden-name filter, so
    * an in-dir `_staging` is visible to the dir-slash-star glob
    * mid-write (round-12 FAILED_READ_FILE). Watch the feed with the
    * dir-slash-star glob. */
  private def stage(df: org.apache.spark.sql.Dataset[_], dir: String, sub: String): Unit = {
    val tmpRoot = tempDir("graft_spec_stage")
    try {
      val tmp = tmpRoot.resolve(sub)
      df.toDF().write.mode("overwrite").parquet(tmp.toString)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, sub),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally java.nio.file.Files.deleteIfExists(tmpRoot)
  }

  test("streaming sessionization matches batch on closed sessions") {
    // stage events as a typed parquet the stream can read with a schema
    val dir = tempDir("graft_stream").toString
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
    evs.write.mode("overwrite").parquet(dir)

    val batchSessions = Sessionize.sessionizeBatch(evs.as[Sessionize.Ev])
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSet

    val stream = spark.readStream
      .schema("user_id LONG, ts_us LONG")
      .parquet(dir)
      .as[Sessionize.Ev]
    // NoTimeout in-test: closed sessions emit as gaps are observed; open
    // tails stay in state (the timeout flush is a production setting —
    // exercising it here would leave the trigger spinning empty batches).
    val q = Sessionize.sessionizeStream(stream, timeoutMs = 0)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sessions_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed.nonEmpty)
      // every streamed session must be a genuine batch session
      assert(streamed.subsetOf(batchSessions),
        s"streamed-only: ${(streamed -- batchSessions).take(3)}")
      // everything missing must be an open tail (one per user at most)
      val missing = batchSessions -- streamed
      val users = evs.select("user_id").distinct().count()
      assert(missing.size <= users, s"more missing sessions than users: ${missing.size}")
    } finally q.stop()
  }

  test("bounded sessionization: timeout flush matches the rule, state shrinks") {
    // Two time-ordered batches, zero-delay watermark, EventTimeTimeout:
    // the registry form's determinism contract says the final emitted
    // set is every gap-closed session plus each user's last session iff
    // floor(end_us/1000) + gap_ms < floor(max_ts_us/1000). Pin that
    // against the batch sessionizer, and pin the POINT of the operator:
    // flushed keys leave the state store, so end-of-run state rows =
    // users minus flushed users — strictly below the all-time key count
    // the NoTimeout form would hold.
    val dir = tempDir("graft_stream_b").toString
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("ts_ts"))
    val mid = {
      val r = evs.agg(min("ts_us"), max("ts_us")).head()
      r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    }
    stage(evs.filter(col("ts_us") <= mid), dir, "b1")

    val gapUs = Sessionize.DefaultGapUs
    val wMs = evs.agg(max("ts_us")).head().getLong(0) / 1000
    val all = Sessionize.sessionizeBatch(
        evs.select("user_id", "ts_us").as[Sessionize.Ev])
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.n_events))
    val lastPerUser = all.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    val expected = all.filter { s =>
      s != lastPerUser(s._1) || s._3 / 1000 + gapUs / 1000 < wMs
    }.toSet

    val stream = spark.readStream
      .schema("user_id LONG, ts_us LONG, ts_ts TIMESTAMP")
      .parquet(s"$dir/*")
      .withWatermark("ts_ts", "0 seconds")
      .as[Sessionize.EvT]
    val q = Sessionize.sessionizeStreamBounded(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_bounded_out")
      .start()
    try {
      q.processAllAvailable()
      stage(evs.filter(col("ts_us") > mid), dir, "b2")
      q.processAllAvailable()
      val streamed = spark.table("sessions_bounded_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == expected,
        s"missing=${(expected -- streamed).take(3)} extra=${(streamed -- expected).take(3)}")
      // bounded-state evidence: flushed keys are GONE from the store
      val users = evs.select("user_id").distinct().count()
      val flushed = lastPerUser.values.count(s => s._3 / 1000 + gapUs / 1000 < wMs)
      assert(flushed > 0, "fixture must flush at least one tail")
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == users - flushed,
        s"state rows $stateRows != users $users - flushed $flushed")
    } finally q.stop()
  }

  test("watermarked tumbling-window stream agrees with the batch twin") {
    val dir = tempDir("graft_stream2").toString
    val evs = Tables.events(spark, sf).select(col("ts_ts").as("ts"),
      col("event_type"), col("value"))
    evs.write.mode("overwrite").parquet(dir)

    val batch = evs.groupBy(window(col("ts"), "1 hour").getField("start").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val q = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .parquet(dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumble_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumble_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch, s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming OHLC downsampling matches the batch bars") {
    // The batch query picks open/close via row_number flags; streams
    // can't rank, but min_by/max_by over the (ts, event_id) struct is
    // the same total order expressed as a mergeable aggregate — so ONE
    // semantic definition has both a batch and a streaming plan.
    val dir = tempDir("graft_stream_ohlc").toString
    val evs = Tables.events(spark, sf)
      .select(col("ts_ts").as("tsc"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    evs.write.mode("overwrite").parquet(dir)

    val batch = graft.queries.Events.qEventsOhlc(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet

    val q = spark.readStream
      .schema("tsc TIMESTAMP, ts LONG, event_id LONG, event_type STRING, value DOUBLE")
      .parquet(dir)
      .withWatermark("tsc", "10 minutes")
      .groupBy(window(col("tsc"), "5 minutes").getField("start").as("ws"),
        col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ohlc_out").collect().map { r =>
        val bar = r.getTimestamp(0).toInstant.getEpochSecond / 300
        (r.getString(1), bar, r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getLong(6))
      }.toSet
      // compare everything except sum_value (decimal-sum column in the
      // batch form; the pick/extreme/count columns are the OHLC core)
      val batchCore = batch.map(t => (t._1, t._2, t._3, t._4, t._5, t._6, t._7))
      assert(streamed == batchCore,
        s"missing=${(batchCore -- streamed).take(3)} extra=${(streamed -- batchCore).take(3)}")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch twin across batches") {
    import graft.streaming.Correlate
    val dir = tempDir("graft_ssj").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts_ts"), col("event_type"))
      .filter(col("event_type").isin("click", "purchase"))
    // two ts-ordered file batches: matches spanning the split must form
    // from click-state carried across micro-batches
    val rows = ev.orderBy("ts_ts").collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val schema = ev.schema
    stage(spark.createDataFrame(java.util.Arrays.asList(b1: _*), schema), dir, "b1")

    def split(df: org.apache.spark.sql.DataFrame) =
      (df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"))

    val stream = spark.readStream.schema(schema).parquet(s"$dir/*")
    val (sc, sp) = split(stream)
    val q = Correlate.clickPurchase(sc, sp).writeStream
      .outputMode("append").format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      stage(spark.createDataFrame(java.util.Arrays.asList(b2: _*), schema), dir, "b2")
      q.processAllAvailable()
      val streamed = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val (bc, bp) = split(ev)
      val batch = Correlate.clickPurchase(bc, bp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch.nonEmpty, "batch twin produced no click→purchase pairs")
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("watermarked interval join: late rows drop deterministically, parquet read-back parity") {
    import graft.streaming.Correlate
    val srcDir = tempDir("graft_ssj_late_src").toString
    val outDir = tempDir("graft_ssj_late_out").toString
    val ckpt = tempDir("graft_ssj_late_ck").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts_ts"), col("event_type"))
      .filter(col("event_type").isin("click", "purchase"))
    val rows = ev.orderBy("ts_ts").collect()
    val (b1, b2) = rows.splitAt(rows.length * 2 / 3)
    val schema = ev.schema
    // late injections: purchases stamped 60 s after five of batch 1's
    // EARLIEST clicks (same user → guaranteed in-window matches), but
    // delivered in batch 2 — by then the watermark sits 10 s below
    // batch 1's max event time, ~days above these, so the join must
    // drop them on arrival
    val lateIds = (0 until 5).map(i => 900000L + i)
    val earlyClicks = b1.filter(_.getString(3) == "click").take(5)
    assert(earlyClicks.length == 5)
    val late = earlyClicks.zip(lateIds).map { case (r, id) =>
      org.apache.spark.sql.Row(id, r.getLong(1),
        new java.sql.Timestamp(r.getTimestamp(2).getTime + 60000L), "purchase")
    }
    def split(df: org.apache.spark.sql.DataFrame) =
      (df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"))
    stage(spark.createDataFrame(java.util.Arrays.asList(b1: _*), schema),
      srcDir, "b1")
    val (sc, sp) = split(spark.readStream.schema(schema).parquet(s"$srcDir/*"))
    // real sink + read-back, not a memory table: the parity must hold
    // through the exactly-once file-sink commit protocol too
    val q = Correlate.clickPurchase(sc, sp).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append").format("parquet").option("path", outDir).start()
    try {
      q.processAllAvailable()
      stage(spark.createDataFrame(java.util.Arrays.asList((b2 ++ late): _*), schema),
        srcDir, "b2")
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("user_id")), r.getLong(r.fieldIndex("click_id")),
        r.getLong(r.fieldIndex("purchase_id")), r.getLong(r.fieldIndex("delta_sec")))
    val got = spark.read.parquet(outDir).collect().map(key).toSet
    // dropped-row accounting, side 1: the late purchases WOULD have
    // matched had they been on time (the drop assertion is not vacuous)
    val lateDf = spark.createDataFrame(java.util.Arrays.asList(late: _*), schema)
    val (bc, bp) = split(ev)
    val wouldMatch = Correlate.clickPurchase(bc, split(lateDf)._2).collect()
    assert(wouldMatch.length == 5,
      s"late fixtures must pair in batch; got ${wouldMatch.length}")
    // side 2: none of them reached the streamed output
    assert(!got.exists(p => lateIds.contains(p._3)),
      s"watermark failed to drop late purchases: ${got.filter(p => lateIds.contains(p._3)).take(3)}")
    // side 3: everything else matches the batch twin over the on-time rows exactly
    val batch = Correlate.clickPurchase(bc, bp).collect().map(key).toSet
    assert(batch.nonEmpty)
    assert(got == batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
  }

  test("left-outer stream-stream join: unmatched clicks emit once the watermark proves them") {
    import graft.streaming.Correlate
    val dir = tempDir("graft_ssj_outer").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts_ts"), col("event_type"))
      .filter(col("event_type").isin("click", "purchase"))
    ev.write.mode("overwrite").parquet(dir)

    def split(df: org.apache.spark.sql.DataFrame) =
      (df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"))

    val (sc, sp) = split(spark.readStream.schema(ev.schema).parquet(dir))
    val q = Correlate.clickPurchase(sc, sp, joinType = "left_outer").writeStream
      .outputMode("append").format("memory").queryName("ssj_outer_out").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))
      val streamed = spark.table("ssj_outer_out").collect().map(key).toSet
      val (bc, bp) = split(ev)
      val batchOuter = Correlate.clickPurchase(bc, bp, joinType = "left_outer")
        .collect().map(key).toSet
      val batchInner = Correlate.clickPurchase(bc, bp).collect().map(key).toSet
      // matched rows: exactly the batch inner result (inner matches
      // emit immediately; nothing spurious)
      assert(streamed.filter(_._3 >= 0L) == batchInner)
      // null-extended rows: a subset of the batch outer's unmatched
      // clicks (only watermark-proven ones emit; the stream tail's
      // clicks stay in state), and at least SOME must have emitted
      val streamedNulls = streamed.filter(_._3 < 0L)
      val batchNulls = batchOuter.filter(_._3 < 0L)
      assert(streamedNulls.subsetOf(batchNulls),
        s"spurious null-extensions: ${(streamedNulls -- batchNulls).take(3)}")
      assert(streamedNulls.nonEmpty,
        "watermark never proved any unmatched click — outer semantics unexercised")
    } finally q.stop()
  }

  test("left-outer join: null rows emit EXACTLY once, at the exact eviction boundary") {
    // Planted corpus pinning the q_stream_interval_join_outer oracle's
    // eviction predicate (c + 3600 s < watermark, strict) at µs
    // precision, and that each proven click's null row emits exactly
    // once across the whole two-batch + no-data-batch lifecycle.
    import graft.streaming.Correlate
    val base = 1700000000000000L // µs; sentinel events at base set the watermark
    val wmUs = (base / 1000 - 10000) * 1000 // ms-floored stats − 10 s delay
    val windowUs = 3600L * 1000000
    val events = Seq(
      // (event_id, user_id, t_us, type)
      (1L, 1L, base - 5000L * 1000000, "click"), // closed long ago → null row
      (2L, 2L, wmUs - windowUs, "click"), // closes EXACTLY at wm → kept
      (3L, 3L, wmUs - windowUs - 1L, "click"), // wm − 1 µs: the safety margin → kept
      (4L, 4L, base - 3000L * 1000000, "click"), // still open → no emission
      (5L, 5L, base - 5000L * 1000000, "click"), // matched → inner row only
      (6L, 5L, base - 4900L * 1000000, "purchase"),
      // watermark sentinels: BOTH sides' max event time exactly at base
      // (a µs lower on either side would ms-floor that side's stats and
      // shift the min-of-sides watermark down a full millisecond);
      // equal times never join (p > c is strict), so nothing matches
      (7L, 9L, base, "click"),
      (8L, 9L, base, "purchase"),
      (10L, 10L, wmUs - windowUs - 2L, "click"), // 2 µs inside: first evictable
      (11L, 11L, wmUs - windowUs - 1000000L, "click"), // 1 s inside → null row
      (12L, 12L, wmUs - windowUs - 1000001L, "click"),
      (13L, 13L, wmUs - windowUs - 2000000L, "click"),
      (14L, 14L, wmUs - windowUs - 1000L, "click"), // 1 ms inside: first evictable
      (15L, 15L, wmUs - windowUs - 1001L, "click"),
      (16L, 16L, wmUs - windowUs - 999L, "click")) // 999 µs: still kept
    val df = events.toDF("event_id", "user_id", "t_us", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("t_us")).as("ts_ts"), col("event_type"))
    val dir = tempDir("graft_ssj_once").toString
    stage(df.filter(col("event_id") <= 6), dir, "b1")

    def split(d: org.apache.spark.sql.DataFrame) =
      (d.filter(col("event_type") === "click"),
        d.filter(col("event_type") === "purchase"))
    val (sc, sp) = split(spark.readStream.schema(df.schema).parquet(s"$dir/*"))
    spark.catalog.dropTempView("ssj_once_out")
    val q = Correlate.clickPurchase(sc, sp, joinType = "left_outer").writeStream
      .outputMode("append").format("memory").queryName("ssj_once_out").start()
    try {
      q.processAllAvailable()
      stage(df.filter(col("event_id") > 6), dir, "b2")
      q.processAllAvailable()
      val rows = spark.table("ssj_once_out").collect()
        .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .toSeq
      val counts = rows.groupBy(identity).view.mapValues(_.size).toMap
      // exactly-once: no emitted row may appear twice
      assert(counts.values.forall(_ == 1), s"duplicate emissions: $counts")
      // The eviction boundary the oracle restates: emitted iff
      // c + window + 1 ms ≤ wm. The state-value watermark Spark derives
      // from the join condition is computed in MILLISECONDS with a
      // whole-ms strict-inequality margin, and eviction compares ≤
      // against it. Measured here: clicks with c + window down to
      // wm − 999 µs stay in state; wm − 1000 µs is the first to prove
      // out.
      val expected = Set(
        (1L, -1L), // proven unmatched
        (11L, -1L), (12L, -1L), (13L, -1L),
        (14L, -1L), (15L, -1L),
        (5L, 6L)) // the inner match (and no null twin for click 5)
      assert(rows.toSet == expected,
        s"emitted ${rows.toSet}, expected $expected")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups with bounded state") {
    val dir = tempDir("graft_wmdedup").toString
    val ev = Tables.events(spark, sf).select(col("event_id"), col("ts_ts"))
    ev.union(ev).write.mode("overwrite").parquet(dir) // every event doubled
    val q = spark.readStream.schema(ev.schema).parquet(dir)
      .withWatermark("ts_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("wmdedup_out").start()
    try {
      q.processAllAvailable()
      // duplicates arrive in the same micro-batch — well inside the
      // watermark window — so the dedup is exact here, with state that
      // (unlike plain dropDuplicates) evicts once the watermark passes
      assert(spark.table("wmdedup_out").count() == ev.count())
    } finally q.stop()
  }

  test("streaming dedup and stream-static dim join") {
    val dir = tempDir("graft_stream3").toString
    // duplicate every event once → dropDuplicates must halve it
    val evs = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    evs.union(evs).write.mode("overwrite").parquet(dir)
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))

    val q = spark.readStream
      .schema("event_id LONG, user_id LONG, value DOUBLE")
      .parquet(dir)
      .dropDuplicates("event_id")
      .join(dim, col("user_id") === col("c_custkey")) // stream-static join
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("dedup_join_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_join_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = evs.dropDuplicates("event_id")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch && streamed.values.sum == evs.count())
    } finally q.stop()
  }

  test("streaming ingest: late-arriving TSV files flow through the cast kernels") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_stream_ingest")
    java.nio.file.Files.writeString(dir.resolve("part1.tsv"),
      "n\td\n1\t2024-01-01\n2\t2024-01-02\n")
    val typed = graft.ingest.IngestPipeline.convertStream(spark, dir.toString)
    assert(typed.isStreaming)
    assert(typed.schema.map(_.dataType) == Seq(LongType, DateType))
    val q = typed.writeStream.outputMode("append")
      .format("memory").queryName("ingest_stream_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ingest_stream_out").count() == 2)
      // a file that arrives later is picked up and typed the same way
      java.nio.file.Files.writeString(dir.resolve("part2.tsv"),
        "n\td\nBAD\tnot-a-date\n4\t2024-01-04\n")
      q.processAllAvailable()
      val rows = spark.table("ingest_stream_out").orderBy("n").collect()
      assert(rows.length == 4)
      assert(rows.count(_.isNullAt(0)) == 1) // BAD → null, never an error
      assert(rows.map(r => if (r.isNullAt(0)) -1 else r.getLong(0)).toSet == Set(-1, 1, 2, 4))
    } finally q.stop()
  }

  test("streaming ingest e2e: parquet sink + checkpoint resume, exactly-once vs batch") {
    val root = tempDir("graft_stream_e2e")
    val inDir = java.nio.file.Files.createDirectory(root.resolve("in"))
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    java.nio.file.Files.writeString(inDir.resolve("a.tsv"),
      "id\tscore\td\n1\t1.5\t2024-01-01\n2\t2.5\t2024-01-02\n")

    // the restart contract: infer once, then PIN the schema for every
    // (re)start — re-inference over the grown directory could demote
    // score to string (file b's BAD cell) and corrupt the typed sink
    val delim = graft.ingest.IngestPipeline.detectDelimiter(spark, inDir.toString)
    val schema = graft.ingest.IngestPipeline.inferSchema(
      graft.ingest.IngestPipeline.readRaw(spark, inDir.toString, delim), fullScan = false)

    def startQuery() = graft.ingest.IngestPipeline
      .convertStream(spark, inDir.toString, schema = Some(schema))
      .writeStream.outputMode("append")
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()

    // first run: file a only
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // second file lands while no query runs; the restarted query picks it
    // up from the checkpoint WITHOUT reprocessing file a (exactly-once)
    java.nio.file.Files.writeString(inDir.resolve("b.tsv"),
      "id\tscore\td\n3\tBAD\t2024-01-03\n4\t4.5\tnot-a-date\n")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(outDir)
    // batch twin over the SAME pinned schema and the same union of files
    val batch = graft.ingest.IngestPipeline.applySchema(
      graft.ingest.IngestPipeline.readRaw(spark, inDir.toString, delim), schema)
    assert(streamed.schema.map(f => (f.name, f.dataType)) ==
      batch.schema.map(f => (f.name, f.dataType)))
    // identical rows: 4 total (no duplicates from the restart), with the
    // same null-on-failure cells as the batch kernels produce
    val s = streamed.orderBy("id").collect()
    val b = batch.orderBy("id").collect()
    assert(s.length == 4, s"expected 4 rows, got ${s.length} (duplicate reprocessing?)")
    assert(s.toSeq == b.toSeq, s"stream=${s.toSeq}\nbatch=${b.toSeq}")
    assert(s.count(_.isNullAt(1)) == 1 && s.count(_.isNullAt(2)) == 1)
  }

  test("streaming curation: stateful dedup + quality filter matches the batch form") {
    import graft.queries.TextAnalysis
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val good = "the data of the table and a row of the query to scan " * 3 // 36 words
    val short = "the data"                                  // fails n_words >= 30
    input.addData(Seq(
      (1L, good), (2L, good + "extra"), (3L, short), (4L, good)): _*) // 4 dups 1
    val curated = input.toDF().toDF("doc_id", "text")
      .dropDuplicates("text") // stateful exact-dedup, streaming twin of the window
      .select(col("doc_id"),
        graft.queries.TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langPred(col("text")).as("pred"))
      .filter(col("quality") >= 0.75)
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curation_out").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("curation_out").orderBy("doc_id").collect()
      // doc 4 deduped against doc 1 (first arrival wins), doc 3 filtered
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L),
        rows.map(_.getLong(0)).mkString(","))
      assert(rows.forall(_.getString(2) == "en_like"))
      // identical signals to the batch expressions on the same texts
      val batch = Seq((1L, good), (2L, good + "extra")).toDF("doc_id", "text")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rows.foreach(r => assert(r.getDouble(1) == batch(r.getLong(0))))
    } finally q.stop()
  }

  test("streaming sink through the graft writer: foreachBatch append, read-back parity") {
    // the writer is a batch DSv2 surface; foreachBatch is the standard
    // bridge that gives a stream access to ANY batch sink — each
    // micro-batch appends its partition files, and the reader sees
    // only committed files (dot-prefixed temps are hidden)
    val src = tempDir("graft_sink_src").toString
    val out = tempDir("graft_sink_out").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val (b1, b2) = {
      val all = ev.orderBy("event_id").collect()
      all.splitAt(all.length / 2)
    }
    val schema = ev.schema
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(b1.toSeq.asJava, schema).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.format("graft").mode("append").save(out)
      }
      .start()
    try {
      q.processAllAvailable()
      spark.createDataFrame(b2.toSeq.asJava, schema).write.mode("append").parquet(src)
      q.processAllAvailable()
      val back = spark.read.format("graft").load(out)
      assert(back.count() == ev.count())
      val a = ev.orderBy("event_id").collect()
      val b = back.select(ev.columns.map(col): _*).orderBy("event_id").collect()
      a.zip(b).foreach { case (x, y) => assert(x == y, s"\n  src: $x\n  rt:  $y") }
    } finally q.stop()
  }

  test("streaming exact dedup: in-watermark replays drop, batch-distinct parity, late replays accounted") {
    // The streaming twin of q_dedup_exact's at-least-once delivery
    // problem: upstream replays re-deliver rows; the stream must emit
    // each key once while bounding state by the watermark. Semantics
    // pinned here: (a) replays whose original is WITHIN the watermark
    // window dedup exactly like batch DISTINCT; (b) replays older than
    // the watermark are accounted explicitly rather than assumed away.
    val srcDir = tempDir("graft_sdd_src").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts_ts"), col("event_type"))
    val rows = ev.orderBy("ts_ts").collect()
    val (b1, b2) = rows.splitAt(rows.length * 2 / 3)
    val schema = ev.schema
    // batch 1 carries IN-BATCH duplicates of its own last five rows
    val inBatchDups = b1.takeRight(5)
    // batch 2 carries (i) fresh duplicates of batch-1 rows stamped in the
    // last 24 h of batch 1 (inside the 2-day watermark at delivery time)
    // and (ii) replays of batch 1's five EARLIEST rows (days below it)
    val maxB1 = b1.last.getTimestamp(2).getTime
    val recentDups = b1.filter(_.getTimestamp(2).getTime > maxB1 - 24 * 3600 * 1000L).take(5)
    assert(recentDups.length == 5, "fixture needs rows near batch 1's max event time")
    val lateReplays = b1.take(5)
    stage(spark.createDataFrame(
      java.util.Arrays.asList((b1 ++ inBatchDups): _*), schema), srcDir, "b1")
    val deduped = spark.readStream.schema(schema).parquet(s"$srcDir/*")
      .withWatermark("ts_ts", "2 days")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream
      .outputMode("append").format("memory").queryName("sdd_out").start()
    try {
      q.processAllAvailable()
      stage(spark.createDataFrame(
        java.util.Arrays.asList((b2 ++ recentDups ++ lateReplays): _*), schema),
        srcDir, "b2")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sdd_out").collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    val onTimeKeys = rows.map(_.getLong(0)).toSet
    val lateKeys = lateReplays.map(_.getLong(0)).toSet
    // (a) every on-time key emits; in-batch and in-watermark replays
    // collapse to ONE emission per key — exactly batch DISTINCT
    onTimeKeys.diff(lateKeys).foreach { k =>
      assert(got.getOrElse(k, 0) == 1, s"key $k emitted ${got.getOrElse(k, 0)}x, want 1")
    }
    // (b) replays below the watermark: their keys' state is already
    // evicted, so the outcome is version-defined — this Spark FILTERS
    // input older than the watermark (replay vanishes, count stays 1);
    // a re-emission (count 2) is the other legal outcome a downstream
    // idempotent sink must absorb. Pinned so an upgrade surfaces any
    // semantic change.
    val lateCounts = lateKeys.map(k => got.getOrElse(k, 0))
    assert(lateCounts.forall(c => c == 1 || c == 2),
      s"late replay emission counts out of range: $lateCounts")
    val reEmitted = lateCounts.count(_ == 2)
    info(s"late replays re-emitted: $reEmitted of ${lateKeys.size}")
    // batch-distinct parity over the on-time universe
    assert(got.keySet == onTimeKeys, "emitted key set must equal the distinct batch keys")
  }

  test("streaming n-gram counting matches the batch count table exactly") {
    // The streaming twin of q_ngram_counts' aggregation core: the same
    // explode → groupBy count over a file stream in complete mode must
    // reproduce the batch count table bit-for-bit once all files are
    // processed — partial aggregation and state merge cannot lose or
    // double-count grams across micro-batches.
    val dir = tempDir("graft_ngram_stream").toString
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val rows = docs.collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    spark.createDataFrame(java.util.Arrays.asList(b1: _*), docs.schema)
      .write.mode("overwrite").parquet(dir)
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(graft.functions.WordNgrams.grams(col("text"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
    val q = grams(spark.readStream.schema(docs.schema).parquet(dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ngram_stream_out").start()
    try {
      q.processAllAvailable()
      spark.createDataFrame(java.util.Arrays.asList(b2: _*), docs.schema)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ngram_stream_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = grams(docs).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"missing=${(batch.keySet -- streamed.keySet).take(3)} " +
        s"extra=${(streamed.keySet -- batch.keySet).take(3)} " +
        s"diff=${batch.collect { case (k, v) if streamed.get(k).exists(_ != v) => k }.take(3)}")
  }

  test("streaming SCD2 matches the window-form batch query and its typed twin") {
    import graft.streaming.Scd2
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .as[Scd2.Ev](org.apache.spark.sql.Encoders.product[Scd2.Ev])
    // surface 1 ↔ 2: the typed fold equals the oracle-checked window form
    val typed = Scd2.scd2Batch(evs).collect()
      .map(v => (v.user_id, v.version, v.attr_value, v.valid_from,
        if (v.valid_to == Long.MaxValue) null else v.valid_to, v.n_events)).toSet
    val windowed = graft.queries.Events.qScd2Build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4), r.getLong(6))).toSet
    assert(windowed.nonEmpty && typed == windowed,
      s"typed fold diverges from window form: missing=${(windowed -- typed).take(3)} extra=${(typed -- windowed).take(3)}")
    // surface 3: the stream over a ts-ordered 2-batch feed emits exactly
    // the batch form's CLOSED versions (open tails stay in state)
    val dir = tempDir("graft_scd2_stream").toString
    val rows = evs.orderBy("ts_us", "event_id").collect()
    val (b1, b2) = rows.splitAt(rows.length * 2 / 3)
    import spark.implicits._
    stage(b1.toSeq.toDS(), dir, "b1")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Scd2.Ev].schema)
      .parquet(s"$dir/*").as[Scd2.Ev]
    val q = Scd2.scd2Stream(stream).writeStream
      .outputMode("append").format("memory").queryName("scd2_stream_out").start()
    try {
      q.processAllAvailable()
      stage(b2.toSeq.toDS(), dir, "b2")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("scd2_stream_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val batchClosed = Scd2.scd2Batch(evs).collect()
      .filter(_.valid_to != Long.MaxValue)
      .map(v => (v.user_id, v.version, v.attr_value, v.valid_from,
        v.valid_to, v.n_events)).toSet
    assert(batchClosed.nonEmpty && streamed == batchClosed,
      s"stream/batch closed-version mismatch: missing=${(batchClosed -- streamed).take(3)} extra=${(streamed -- batchClosed).take(3)}")
  }

  test("registry streaming queries are rerunnable and deterministic in one session") {
    // Bench invokes each registry fn three times in the same session —
    // the memory-sink queryName and temp-view reuse must not collide,
    // and the two-batch feed must reproduce the identical result set.
    // (q_stream_sessions is the representative: same harness as the
    // other three, heaviest state.)
    def run(): Seq[Seq[Any]] =
      graft.queries.Streaming.qStreamSessions(spark, sf).collect()
        .map(_.toSeq.toSeq).toSeq
    val first = run()
    val second = run()
    assert(first.nonEmpty && first == second,
      s"rerun diverged: sizes ${first.size}/${second.size}")
  }

  test("transformWithState CDC: non-strict timer boundary, re-open, bounded state") {
    // Pin the three facts q_stream_cdc's oracle encodes, on a fixture
    // where every timing is controlled to the millisecond:
    //  1. timers fire NON-strictly (expiry == watermark emits) — the
    //     boundary where transformWithState differs from GroupState;
    //  2. a key that flushes and then re-opens emits one snapshot per
    //     quiescence, the second carrying the key's global argmax;
    //  3. flushed keys LEAVE the store: end state rows = held keys.
    import graft.streaming.LatestState
    val t0 = 1700000000000000L // µs
    def ev(uid: Long, offSec: Long, id: Long) =
      (uid, t0 + offSec * 1000000L, id, s"e$id", id.toDouble)
    // b1: A quiesces (t0 ≤ wm1 = t0+20s−10s), B holds (t0+20s > wm1)
    val b1 = Seq(ev(1, 0, 10), ev(2, 20, 11))
    // b2: A re-opens at +30s; C lands EXACTLY at wmF = max(+50s) − 10s;
    // D at +50s stays inside the horizon
    val b2 = Seq(ev(1, 30, 12), ev(3, 40, 13), ev(4, 50, 14))
    def frame(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.toDF("user_id", "ts_us", "event_id", "event_type", "value")
        .withColumn("ts_ts", timestamp_micros(col("ts_us")))

    val dir = tempDir("graft_tws").toString
    stage(frame(b1), dir, "b1")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = scala.util.Try(spark.conf.get(providerKey)).toOption
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val enc = org.apache.spark.sql.Encoders.product[LatestState.Change]
      val stream = spark.readStream.schema(enc.schema).parquet(s"$dir/*")
        .withWatermark("ts_ts", "10 seconds").as[LatestState.Change](enc)
      val q = LatestState.latestStream(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_cdc_out").start()
      try {
        q.processAllAvailable()
        stage(frame(b2), dir, "b2")
        q.processAllAvailable()
        val got = spark.table("tws_cdc_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val want = Set(
          (1L, t0, 10L),                      // A's first quiescence
          (1L, t0 + 30000000L, 12L),          // A re-opened, global argmax
          (2L, t0 + 20000000L, 11L),          // B flushed at end
          (3L, t0 + 40000000L, 13L))          // C: expiry == wmF, non-strict
        assert(got == want,
          s"missing=${(want -- got)} extra=${(got -- want)}")
        // D (inside the horizon) is the only key left in the store
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows == 1, s"state rows $stateRows != 1 held key")
      } finally q.stop()
    } finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming attribution: split-invariant, interleaved ties, " +
    "state is one touch per user") {
    // Purchases credit the latest PRECEDING non-purchase under the
    // (ts, event_id) total order — including a purchase and its touch
    // in the SAME micro-batch (replay order), a purchase arriving as
    // its batch's first row (credit carried from the previous batch's
    // state), and a purchase with no touch at all ('direct'). The
    // result must not depend on where the feed splits.
    import graft.streaming.Attribution
    val t0 = 1800000000000000L
    def ev(uid: Long, off: Long, id: Long, tpe: String) =
      (uid, t0 + off * 1000000L, id, tpe)
    val rows = Seq(
      ev(1, 0, 1, "purchase"),  // no touch yet → direct
      ev(1, 1, 2, "click"),
      ev(1, 2, 3, "purchase"),  // click
      ev(1, 2, 4, "purchase"),  // same ts as id=3: still click (id 2 < 3,4)
      ev(2, 0, 5, "view"),
      ev(2, 5, 6, "purchase"),  // view
      ev(2, 6, 7, "signup"),
      ev(2, 7, 8, "purchase"))  // signup, not view
    val want = Set((1L, 1L, "direct"), (3L, 1L, "click"), (4L, 1L, "click"),
      (6L, 2L, "view"), (8L, 2L, "signup"))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = scala.util.Try(spark.conf.get(providerKey)).toOption
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      for (splitAfter <- Seq(1, 4, 6)) { // adversarial feed splits
        val (b1, b2) = rows.splitAt(splitAfter)
        def frame(rs: Seq[(Long, Long, Long, String)]) =
          rs.toDF("user_id", "ts_us", "event_id", "event_type")
        val dir = tempDir(s"graft_attr$splitAfter").toString
        stage(frame(b1), dir, "b1")
        val enc = org.apache.spark.sql.Encoders.product[Attribution.Touch]
        val q = Attribution.creditStream(
            spark.readStream.schema(enc.schema).parquet(s"$dir/*")
              .as[Attribution.Touch](enc))
          .writeStream.outputMode("append").format("memory")
          .queryName(s"attr_out$splitAfter").start()
        try {
          q.processAllAvailable()
          stage(frame(b2), dir, "b2")
          q.processAllAvailable()
          val got = spark.table(s"attr_out$splitAfter").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
          assert(got == want, s"split@$splitAfter: " +
            s"missing=${want -- got} extra=${got -- want}")
          // state: exactly one touch row per user that has any touch
          val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
          assert(stateRows == 2, s"state rows $stateRows != 2 users")
        } finally q.stop()
      }
    } finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("session split core handles gaps and singletons") {
    val gap = Sessionize.DefaultGapUs
    val out = Sessionize.split(1L, Seq(0L, 10L, gap + 20L, gap + 30L, 3 * gap + 100L), gap)
    assert(out == Seq(
      Sessionize.Session(1L, 0L, 10L, 2),
      Sessionize.Session(1L, gap + 20L, gap + 30L, 2),
      Sessionize.Session(1L, 3 * gap + 100L, 3 * gap + 100L, 1)))
  }
}
