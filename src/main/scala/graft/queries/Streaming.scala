package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.streaming.{Attribution, Correlate, LatestState, Scd2, Sessionize}

/** Streaming surfaces driven END-TO-END through the driver's DuckDB
  * hash gate (SURVEY.md §2.D; the reference's incremental consumers
  * re-expressed as Structured Streaming state machines).
  *
  * Each query stages the sf table as a two-batch file feed (a
  * deterministic time/key split), runs the REAL `readStream` →
  * stateful-transform → memory-sink lifecycle to completion, and
  * returns the sink table. The oracle can state the result in plain
  * SQL because the stateful folds are batch-boundary-invariant — the
  * append-mode streams emit exactly the CLOSED sessions/versions (the
  * open tail per key stays in GroupState by design, so the oracle
  * excludes each key's last island), and the complete-mode aggregation
  * must reproduce the batch count table bit-for-bit. StreamingSpec
  * pins the boundary-invariance itself across adversarial splits;
  * these entries make a state-management regression hash-fail on the
  * driver's board instead of only spec-failing.
  *
  * Scale: state is one tiny case class per user (sessions/SCD2) or a
  * bounded gram count map partitioned by the groupBy key — the
  * canonical keyed-state shape at 100 TB: state store partitioned by
  * key, no driver involvement. The 1-row min/max collects below are
  * feed STAGING (choosing the split point), not operator logic.
  */
object Streaming {

  /** Shuffle partitions for the streaming lifecycles, sized to the FEED
    * rather than inherited from the batch session (32 on the bench).
    * A streaming query's state-store instance count is pinned to the
    * shuffle-partition count at first start, so an sf-scale feed with a
    * few thousand keys under 32 partitions × 2 join sides pays pure
    * fixed machinery cost per micro-batch (store init/commit ×64 for a
    * 33-match corpus — the round-11 bench's most expensive entry). At
    * 100 TB the same knob goes UP with key cardinality/rate; the point
    * is it's a feed-rate decision, not the batch default. */
  private def streamShufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8")

  /** Run `build(stream)` over `dir`-staged parquet fed in two batches
    * (chunk1, then chunk2 appended mid-stream), block until all data is
    * processed, and return the memory-sink table. The sink name doubles
    * as the temp-view name; re-runs (bench best-of-N) drop and rebuild
    * it. `chunks` builds the two-batch split lazily — evaluated only
    * when the keyed feed cache for (name, dirKey) is cold (see
    * [[runTwoBatchFeed]]). */
  private def runTwoBatchStream(s: SparkSession, name: String,
                                dirKey: String,
                                chunks: () => (DataFrame, DataFrame),
                                schema: StructType,
                                build: DataFrame => DataFrame,
                                outputMode: String,
                                stateShape: String = "churny",
                                noDataBatches: Boolean = true): DataFrame = {
    s.catalog.dropTempView(name)
    runTwoBatchFeed(s, name, dirKey, chunks, schema, stateShape,
      noDataBatches)(stream =>
      build(stream).writeStream.outputMode(outputMode)
        .format("memory").queryName(name)
        .start())
    s.table(name)
  }

  /** Per-shape state-store provider selection (round-17 verdict #9:
    * the 10×/100× A/B's conclusion was prose — now it's the default).
    * The measured rule (SCALE.md state-store A/B, both scales):
    * RocksDB wins ONLY where keyed state is the full key set and
    * lives forever (the NoTimeout sessionization halves its wall and
    * bounds native memory at 150k keys); churn-heavy shapes (interval
    * joins: 3.7× slower at 100×) and bounded/mid-size state stay on
    * the heap-backed default. Precedence: the SPARK_GRAFT_STATE_STORE
    * env override (`env`) > the shape default. `requiresRocksdb`
    * (transformWithState: timers need the multi-column-family store)
    * is not overridable — any other provider fails the query. */
  private[graft] def resolveStateProvider(stateShape: String,
      env: Option[String]): String = {
    require(Set("churny", "fullKeyset", "requiresRocksdb")(stateShape),
      s"unknown state shape '$stateShape'")
    env.foreach(v => require(Set("hdfs", "rocksdb")(v),
      s"state-store override must be hdfs|rocksdb, got '$v'"))
    if (stateShape == "requiresRocksdb") "rocksdb"
    else env.getOrElse(if (stateShape == "fullKeyset") "rocksdb" else "hdfs")
  }

  /** Materialize a two-batch parquet feed split ONCE per (entry,
    * corpus) into a keyed [[Scratch.cacheDir]] and return its path —
    * the parquet twin of [[ensureFeedChunks]] (round-20 optimization,
    * guide §1.4 measured: every timed run of every parquet-fed stream
    * entry paid ~0.8 s of feed PRODUCTION — the midpoint split agg +
    * two corpus-sized chunk writes — before the streaming operator
    * under test ran at all; numbers in OPTIMIZATION_r20.md §5).
    * Producing the feed input is environment setup by the same
    * round-12 argument that moved the ingest feeds
    * onto [[ensureFeedChunks]]: the operator under test CONSUMES a
    * file feed, it does not write one. `chunks` — the entry's split
    * definition, including its midpoint collect — is evaluated only
    * when the cache is cold (first run of a JVM); later runs hard-link
    * the identical staged bytes, so results cannot differ. Idempotent
    * via the `_STAGED` marker; reaped at JVM exit like every cache
    * dir. */
  /** JVM-local per-cache-dir build locks: the marker check and the
    * chunk writes below it are check-then-act, so two threads
    * first-running the same entry concurrently could both build into
    * one cache dir and a later run could hard-link a torn chunk
    * (round-20 advisory). One lock object per key serializes the cold
    * build; warm hits never touch it after the first volatile read. */
  private val chunkBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def buildOnce(key: String)(isBuilt: => Boolean)(build: => Unit): Unit =
    if (!isBuilt)
      chunkBuildLocks.computeIfAbsent(key, _ => new Object).synchronized {
        if (!isBuilt) build
      }

  private def ensureParquetChunks(s: SparkSession, name: String,
      dirKey: String,
      chunks: () => (DataFrame, DataFrame)): org.apache.hadoop.fs.Path = {
    val key = dirKey.replaceAll("[^A-Za-z0-9._-]", "_")
    val cache = Scratch.cacheDir(s, s"pfeed_${name}_$key")
    val cfs = Scratch.fs(s, cache)
    val marker = new org.apache.hadoop.fs.Path(cache, "_STAGED")
    buildOnce(cache.toString)(cfs.exists(marker)) {
      val (c1, c2) = chunks()
      c1.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(cache, "b1").toString)
      c2.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(cache, "b2").toString)
      cfs.create(marker, true).close()
    }
    cache
  }

  /** Stage one cached chunk into the watched feed dir: hard-link on the
    * local-FS fast path (O(#files) metadata ops), FileUtil.copy on any
    * remote scheme — always into a SIBLING tmp dir first, then one
    * filesystem-atomic rename into view (the listing-atomicity
    * discipline documented on [[runTwoBatchFeed]]). */
  private def stageChunkFromCache(s: SparkSession,
      cache: org.apache.hadoop.fs.Path, feed: org.apache.hadoop.fs.Path,
      ffs: org.apache.hadoop.fs.FileSystem, name: String,
      sub: String): Unit = {
    val tmpRoot = Scratch.freshDir(s, s"stage_$name")
    try {
      val tmp = new org.apache.hadoop.fs.Path(tmpRoot, sub)
      (Scratch.asLocal(s, cache), Scratch.asLocal(s, tmp)) match {
        case (Some(lsrc), Some(ltmp)) => linkDir(lsrc.resolve(sub), ltmp)
        case _ => org.apache.hadoop.fs.FileUtil.copy(
          Scratch.fs(s, cache), new org.apache.hadoop.fs.Path(cache, sub),
          ffs, tmp, false, s.sessionState.newHadoopConf()): Unit
      }
      require(ffs.rename(tmp, new org.apache.hadoop.fs.Path(feed, sub)),
        s"atomic feed staging failed: $tmp -> $feed/$sub")
    } finally Scratch.delete(s, tmpRoot)
  }

  /** The staging + lifecycle half of [[runTwoBatchStream]], factored so
    * sinks other than the driver-memory table (foreachBatch file sinks)
    * can ride the same two-batch feed: stage chunk1, `start` the query,
    * drain, stage chunk2, drain again, stop, clean up the feed dir.
    * Chunks come from the keyed cache ([[ensureParquetChunks]] — built
    * on the JVM's first run of the entry, hard-linked in thereafter). */
  private def runTwoBatchFeed(s: SparkSession, name: String,
                              dirKey: String,
                              chunks: () => (DataFrame, DataFrame),
                              schema: StructType,
                              stateShape: String = "churny",
                              noDataBatches: Boolean = true)(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val cache = ensureParquetChunks(s, name, dirKey, chunks)
    // The feed lives under the shared [[Scratch]] root (round-18 verdict
    // task 1: driver-local createTempDirectory was cluster-false — on a
    // real deployment the feed must sit on a filesystem every executor
    // sees), and all physical IO below goes through its Hadoop
    // FileSystem, so the same code runs against file:/hdfs:.
    val dir = Scratch.freshDir(s, s"feed_$name")
    val dirFs = Scratch.fs(s, dir)
    // Everything from the chunk1 staging onward sits inside the cleanup
    // try: a failure ANYWHERE (the staging itself, stream resolution at
    // start(), a mid-stream error) must not leak the corpus-sized feed
    // dir — bench reruns this fn 3x per query.
    try {
      // Chunk staging must be ATOMIC with respect to the source's file
      // listing: the stream keeps triggering between the two
      // processAllAvailable calls, and a multi-file chunk that lands
      // mid-listing gets split across micro-batches — the partial
      // first batch advances the watermark past the not-yet-visible
      // files and the "third batch" arrives as late data (observed at
      // 100x: the bounded form's event-time timeouts then sit behind
      // the watermark and the query dies). So each chunk is staged
      // OUTSIDE the watched directory, then renamed into view in one
      // filesystem-atomic move (Hadoop rename — atomic on local FS and
      // HDFS, the scratch-root contract): a listing sees ALL of a chunk
      // or NONE of it. The staging dir must be a SIBLING, not an
      // underscore-prefixed child: Spark's hidden-name filter skips
      // `_`-children during recursive listing but EXEMPTS glob-matched
      // root paths, so `$dir/*` matches `_staging_b2` itself and a
      // trigger firing mid-write lists its part files, which the move
      // then invalidates (observed round-12: FAILED_READ_FILE on
      // q_stream_interval_join_outer's chunk2 under full-verify load).
      def stage(sub: String): Unit =
        stageChunkFromCache(s, cache, dir, dirFs, name, sub)
      stage("b1")
      // State-store provider per the MEASURED selection rule
      // ([[resolveStateProvider]]): the heap-backed default for churny
      // shapes, RocksDB (state on local disk, bounded heap — the
      // setting that survives billions of keys) for full-keyset/
      // NoTimeout shapes and transformWithState. Set for the stream's
      // lifetime, restored after stop() like the shuffle knob below.
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      // the two RocksDB memory-cap confs are restored alongside the
      // provider (round-18 advisory: restoring only providerClass left
      // them set on the shared session, leaking into later queries)
      val rocksdbKeys = Seq(
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      val priorProvider = scala.util.Try(s.conf.get(providerKey)).toOption
      val priorRocksdb = rocksdbKeys.map(k =>
        k -> scala.util.Try(s.conf.get(k)).toOption)
      val chosen = resolveStateProvider(stateShape,
        sys.env.get("SPARK_GRAFT_STATE_STORE"))
      if (chosen == "rocksdb") {
        s.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // Cap RocksDB's NATIVE memory (block cache + memtables, shared
        // across all state store instances in the executor): unbounded,
        // the native allocation competes with the JVM heap in one
        // process and OOM'd the round-9 100x sweep on the 8 GiB
        // harness. A real cluster sizes this against
        // spark.executor.memoryOverhead; 512 MiB fits this box.
        s.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
        s.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
          sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_MB", "512"))
        // Changelog checkpointing (round 21, guide §5): each commit
        // uploads the batch's CHANGELOG instead of a full RocksDB
        // snapshot — snapshot materialization moves to background
        // maintenance. This is the documented production setting for
        // RocksDB stores (commit latency stops scaling with total state
        // size, which is the whole point at 100 TB); locally it removes
        // the per-batch snapshot sync from every transformWithState
        // trigger. Same results: the changelog replays to the identical
        // store content (spec + oracle gates unchanged). Env-overridable
        // like the memory cap.
        s.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_CHANGELOG", "true"))
      } else s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      // Feed-sized shuffle partitions (see streamShufflePartitions):
      // the value in force when the stream execution thread clones the
      // session pins the state-store count for the query's lifetime.
      // start() returns before that clone happens, so the session value
      // is only restored after stop(), when the lifecycle is over.
      val priorShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions)
      // Round 21 (guide §5 / verdict task 2 — trigger-count audit): a
      // watermark advance schedules one extra NO-DATA micro-batch whose
      // only job is eager state eviction — a full state-store
      // init/commit round per lifecycle (the round-20 breakdown in
      // OPTIMIZATION_r20.md measured it at ~1.2 s of a 7 s interval-join
      // trigger total).
      // Entries whose OUTPUT is emission-on-data only (inner/semi
      // interval joins, complete-mode aggregation) opt out: eviction
      // then rides the next data batch, which at any scale is strictly
      // less commit work for byte-identical output. Entries whose
      // emissions FIRE on the watermark (outer join nulls, event-time
      // timers, bounded-session timeouts) keep the default. The conf is
      // session-scoped like the shuffle knob: the stream's cloned
      // session captures it at start(), restored after stop().
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val priorNoData = scala.util.Try(s.conf.get(noDataKey)).toOption
      if (!noDataBatches) s.conf.set(noDataKey, "false")
      try {
        val q = start(s.readStream.schema(schema).parquet(s"$dir/*"))
        try {
          q.processAllAvailable()
          stage("b2")
          q.processAllAvailable()
        } finally q.stop()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", priorShuffle)
        priorNoData match {
          case Some(v) => s.conf.set(noDataKey, v)
          case None => s.conf.unset(noDataKey)
        }
        priorProvider match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
        priorRocksdb.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      }
    } finally {
      // the sink retains the rows; the staged feed is dead weight
      Scratch.delete(s, dir)
    }
  }

  /** Lifecycle FLOOR harness — NOT a registry entry. Runs the exact
    * two-batch machinery every streaming entry pays (temp-dir staging,
    * atomic chunk moves, `start`, two `processAllAvailable` drains,
    * memory sink, `stop`) over a near-empty feed, so the fixed
    * per-entry cost can be measured and SUBTRACTED when reading
    * cross-round per-entry swings in the 17-entry stream family
    * (~24 % of the bench total is mostly this floor). Two shapes:
    * `stateless` (pass-through select, append) isolates the pure
    * lifecycle; `stateful` (groupBy count, complete) adds one
    * state-store round — their difference prices store init/commit.
    * [[graft.Bench]] times both shapes in its own session
    * (`stream_floor` in BENCH_DETAIL.json); floor model in BASELINE.md. */
  def streamNoopFloor(s: SparkSession, stateful: Boolean): DataFrame = {
    val chunk = s.range(0, 4).select(col("id").cast("long").as("k"))
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    if (stateful)
      runTwoBatchStream(s, "stream_noop_stateful", "floor",
        () => (chunk, chunk), schema,
        st => st.groupBy(col("k")).agg(count(lit(1)).as("n")), "complete")
    else
      runTwoBatchStream(s, "stream_noop_stateless", "floor",
        () => (chunk, chunk), schema,
        st => st.select(col("k")), "append")
  }

  /** Midpoint of a long column — the two-batch split point. 1-row
    * collect: staging, bounded, not part of the streamed operator. */
  private def midpoint(df: DataFrame, c: String): Long = {
    val r = df.agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
    require(!r.isNullAt(0),
      s"streaming feed staging: source table is empty (no $c values to split on)")
    r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
  }

  /** Streaming sessionization (flatMapGroupsWithState, NoTimeout):
    * closed sessions emit as 30-minute gaps are observed; each user's
    * open tail stays in state, so the result is every session EXCEPT
    * the user's last — the same set for ANY time-ordered feed split
    * (the fold is boundary-invariant; StreamingSpec pins that). */
  def qStreamSessions(s: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
    val enc = Encoders.product[Sessionize.Ev]
    runTwoBatchStream(s, "q_stream_sessions", dir,
      () => { val mid = midpoint(evs, "ts_us")
        (evs.filter(col("ts_us") <= mid), evs.filter(col("ts_us") > mid)) },
      enc.schema,
      df => Sessionize.sessionizeStream(df.as[Sessionize.Ev](enc),
        timeoutMs = 0).toDF(),
      "append",
      // NoTimeout = every user ever stays in state — the one shape the
      // A/B measured RocksDB winning at BOTH 10x and 100x
      stateShape = "fullKeyset")
      .orderBy("user_id", "start_us")
  }

  private val qStreamSessionsOracle =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), s AS (
      |  SELECT user_id, tus,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM g
      |), a AS (
      |  SELECT user_id, session_seq, MIN(tus) AS start_us,
      |    MAX(tus) AS end_us, COUNT(*) AS n_events
      |  FROM s GROUP BY user_id, session_seq
      |), m AS (
      |  SELECT user_id, session_seq, start_us, end_us, n_events,
      |    MAX(session_seq) OVER (PARTITION BY user_id) AS max_seq
      |  FROM a)
      |SELECT user_id, start_us, end_us, n_events
      |FROM m WHERE session_seq < max_seq
      |ORDER BY user_id, start_us""".stripMargin

  /** BOUNDED-state streaming sessionization — the production form:
    * EventTimeTimeout + a zero-delay watermark on the event-time column.
    * Keys whose open session falls behind the watermark flush and LEAVE
    * the state store, so state holds only gap-horizon-active users, not
    * the all-time key set (q_stream_sessions' NoTimeout form keeps every
    * user forever — fine for the boundary-invariance oracle, wrong at
    * 100 TB). The emitted set is deterministic for the time-ordered
    * two-batch feed (see Sessionize.sessionizeStreamBounded's contract):
    * every gap-closed session, plus each user's LAST session iff its
    * ms-floored end + gap is strictly below the ms-floored global max
    * event time (the final watermark). StreamingSpec additionally pins
    * that the end-of-run state row count equals the not-yet-flushed key
    * count — the bounded-state evidence itself. */
  def qStreamSessionsBounded(s: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("ts_ts"))
    val enc = Encoders.product[Sessionize.EvT]
    runTwoBatchStream(s, "q_stream_sessions_bounded", dir,
      () => { val mid = midpoint(evs, "ts_us")
        (evs.filter(col("ts_us") <= mid), evs.filter(col("ts_us") > mid)) },
      enc.schema,
      df => Sessionize.sessionizeStreamBounded(
        df.withWatermark("ts_ts", "0 seconds").as[Sessionize.EvT](enc)).toDF(),
      "append")
      .orderBy("user_id", "start_us")
  }

  private val qStreamSessionsBoundedOracle =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), s AS (
      |  SELECT user_id, tus,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM g
      |), a AS (
      |  SELECT user_id, session_seq, MIN(tus) AS start_us,
      |    MAX(tus) AS end_us, COUNT(*) AS n_events
      |  FROM s GROUP BY user_id, session_seq
      |), m AS (
      |  SELECT user_id, session_seq, start_us, end_us, n_events,
      |    MAX(session_seq) OVER (PARTITION BY user_id) AS max_seq
      |  FROM a),
      |wm AS (SELECT MAX(epoch_us(ts)) // 1000 AS w_ms FROM events)
      |SELECT user_id, start_us, end_us, n_events
      |FROM m, wm
      |WHERE session_seq < max_seq
      |   OR end_us // 1000 + 1800000 < w_ms
      |ORDER BY user_id, start_us""".stripMargin

  /** Streaming SCD Type-2 (flatMapGroupsWithState): closed versions
    * emit as the per-user attribute changes; the open (is_current)
    * version stays in GroupState, so the result is the window-form
    * build minus each user's open row. */
  def qStreamScd2(s: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
    val enc = Encoders.product[Scd2.Ev]
    runTwoBatchStream(s, "q_stream_scd2", dir,
      () => { val mid = midpoint(evs, "ts_us")
        (evs.filter(col("ts_us") <= mid), evs.filter(col("ts_us") > mid)) },
      enc.schema,
      df => Scd2.scd2Stream(df.as[Scd2.Ev](enc)).toDF(),
      "append")
      .orderBy("user_id", "version")
  }

  private val qStreamScd2Oracle =
    """WITH flagged AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |    CASE WHEN lag(event_type, 1) OVER w IS NOT NULL
      |           AND lag(event_type, 1) OVER w <> event_type
      |      THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |versioned AS (
      |  SELECT user_id, event_type, ts_us,
      |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS version
      |  FROM flagged),
      |islands AS (
      |  SELECT user_id, version,
      |    MIN(event_type) AS attr_value,
      |    MIN(ts_us) AS valid_from,
      |    COUNT(*) AS n_events
      |  FROM versioned GROUP BY user_id, version),
      |vers AS (
      |  SELECT user_id, CAST(version AS BIGINT) AS version, attr_value,
      |    valid_from,
      |    lead(valid_from, 1) OVER (PARTITION BY user_id ORDER BY version)
      |      AS valid_to,
      |    n_events
      |  FROM islands)
      |SELECT user_id, version, attr_value, valid_from, valid_to, n_events
      |FROM vers WHERE valid_to IS NOT NULL
      |ORDER BY user_id, version""".stripMargin

  /** Watermarked stream-stream interval join (attribution: each click
    * paired with the same user's purchases within the next hour) run
    * END-TO-END as two batches — the state-heaviest streaming operator
    * on the board. Append-mode INNER interval joins are
    * split-invariant for a time-ordered feed: every match eventually
    * emits, and the watermark eviction only drops click state whose
    * match window closed BEFORE the split point — purchases that could
    * match it sit in the first batch by construction (and later-batch
    * clicks can never need earlier-batch purchases, because the join
    * requires the purchase to be the LATER event). So the final sink
    * equals the batch interval join, plain SQL for the oracle, while
    * Spark exercises the real two-sided state lifecycle: both sides
    * shuffled on user_id into the state store, state bounded by
    * rate × window via the two-sided time condition (Correlate.scala's
    * 100 TB story), matches emitted across the batch boundary. */
  def qStreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts_ts"),
        col("event_type"), expr("ts div 1000").as("ts_us"))
    val feed = ev.drop("ts_us")
    def split(df: DataFrame) =
      (df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"))
    runTwoBatchStream(s, "q_stream_interval_join", dir,
      () => { val mid = midpoint(ev, "ts_us")
        (ev.filter(col("ts_us") <= mid).drop("ts_us"),
          ev.filter(col("ts_us") > mid).drop("ts_us")) },
      feed.schema,
      df => { val (c, p) = split(df); Correlate.clickPurchase(c, p) },
      "append",
      // inner matches emit on data only; the watermark's no-data batch
      // is pure state eviction here — skip it (round 21, see
      // runTwoBatchFeed)
      noDataBatches = false)
      .orderBy("click_id", "purchase_id")
  }

  // Oracle joins on µs-TRUNCATED event times (epoch_us), not the raw
  // ts: the streamed side compares ts_ts, which Tables.events floors to
  // µs, so under a ns-grained physical encoding a sub-µs delta or an
  // exact window-boundary pair must resolve identically on both sides
  // of the gate (round-11 advice).
  private val qStreamIntervalJoinOracle =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  epoch_us(p.ts) // 1000000 - epoch_us(c.ts) // 1000000 AS delta_sec
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) > epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      |ORDER BY click_id, purchase_id""".stripMargin

  /** LEFT-SEMI watermarked interval join — "did this impression convert
    * at all": each click emits AT MOST ONCE, on its first in-window
    * purchase (Spark's semi-join state tracks matched clicks to
    * suppress re-emission). Split-invariant for the time-ordered feed
    * by the same argument as the inner entry — every match eventually
    * forms, dedup-on-emit is order-independent — so the final sink
    * equals the batch EXISTS, while Spark exercises the matched-key
    * suppression state the inner form doesn't have. */
  def qStreamSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts_ts"),
        col("event_type"), expr("ts div 1000").as("ts_us"))
    val feed = ev.drop("ts_us")
    def split(df: DataFrame) =
      (df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"))
    runTwoBatchStream(s, "q_stream_semi_join", dir,
      () => { val mid = midpoint(ev, "ts_us")
        (ev.filter(col("ts_us") <= mid).drop("ts_us"),
          ev.filter(col("ts_us") > mid).drop("ts_us")) },
      feed.schema,
      df => { val (c, p) = split(df)
        Correlate.clickPurchase(c, p, joinType = "left_semi") },
      "append",
      // semi emissions are data-driven (first match emits immediately);
      // the no-data batch only evicts state — skip it (round 21)
      noDataBatches = false)
      .orderBy("click_id")
  }

  private val qStreamSemiJoinOracle =
    """SELECT c.user_id, c.event_id AS click_id
      |FROM events c
      |WHERE c.event_type = 'click' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |    AND epoch_us(p.ts) > epoch_us(c.ts)
      |    AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000)
      |ORDER BY click_id""".stripMargin

  /** LEFT-OUTER watermarked interval join — the half of
    * [[graft.streaming.Correlate.clickPurchase]] that exists BECAUSE of
    * watermarks: a never-converted click may only emit its null row once
    * the watermark proves no purchase can still arrive for its window.
    * End-to-end over the two-batch feed the final sink is deterministic:
    * every inner match (split-invariant, as the inner entry argues), plus
    * a null row for each matchless click whose match window closed
    * strictly below the FINAL watermark — clicks whose window was still
    * open when the feed ended stay in state, unemitted, exactly as they
    * would on a live stream. The final watermark is
    * `min(max click time, max purchase time) − 10 s` at Spark's
    * ms-floored event-time-stats precision, which the oracle restates in
    * plain SQL, so a state-eviction regression (emitting too early, or
    * never) hash-fails on the driver's board. */
  def qStreamIntervalJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts_ts"),
        col("event_type"), expr("ts div 1000").as("ts_us"))
    val feed = ev.drop("ts_us")
    def split(df: DataFrame) =
      (df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"))
    runTwoBatchStream(s, "q_stream_interval_join_outer", dir,
      () => { val mid = midpoint(ev, "ts_us")
        (ev.filter(col("ts_us") <= mid).drop("ts_us"),
          ev.filter(col("ts_us") > mid).drop("ts_us")) },
      feed.schema,
      df => { val (c, p) = split(df)
        Correlate.clickPurchase(c, p, joinType = "left_outer") },
      "append")
      .orderBy("click_id", "purchase_id")
  }

  // Watermark restated in SQL: event-time stats are ms-FLOORED
  // (EventTimeWatermarkExec tracks µs/1000), the query-wide watermark is
  // the min across the two sides' nodes minus the 10 s delay. A click's
  // state is evicted (and its null row emitted) once
  // c + 3600 s + 1 ms ≤ wm: the state-value watermark Spark derives
  // from the join condition is millisecond-granular with a whole-ms
  // strict-inequality margin, and eviction compares ≤ against it.
  // StreamingSpec's planted µs-boundary probes pin the engine to this
  // exact predicate.
  private val qStreamIntervalJoinOuterOracle =
    """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS tus
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id, epoch_us(ts) AS tus
      |      FROM events WHERE event_type = 'purchase'),
      |wm AS (SELECT (LEAST((SELECT MAX(tus) FROM c),
      |                     (SELECT MAX(tus) FROM p)) // 1000 - 10000) * 1000
      |         AS w_us),
      |m AS (
      |  SELECT c.user_id, c.event_id AS click_id, c.tus AS ctus,
      |         p.event_id AS purchase_id, p.tus AS ptus
      |  FROM c LEFT JOIN p
      |    ON c.user_id = p.user_id AND p.tus > c.tus
      |   AND p.tus <= c.tus + 3600000000)
      |SELECT user_id, click_id, purchase_id,
      |  ptus // 1000000 - ctus // 1000000 AS delta_sec
      |FROM m WHERE purchase_id IS NOT NULL
      |UNION ALL
      |SELECT m.user_id, m.click_id, CAST(NULL AS BIGINT) AS purchase_id,
      |  CAST(NULL AS BIGINT) AS delta_sec
      |FROM m, wm
      |WHERE m.purchase_id IS NULL AND m.ctus + 3600000000 + 1000 <= wm.w_us
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Watermarked tumbling-window aggregation over the two-batch feed —
    * the windowed-state shape (window() keys in the state store +
    * EventTimeWatermark) that q_events_tumble runs in batch. Complete
    * mode must reproduce the batch hourly table exactly: window state
    * merged across the batch boundary, nothing lost or double-counted.
    * (countDistinct is not legal on streams, so the streamed columns
    * are the count + the exact-decimal value sum; the batch twin keeps
    * the distinct-users column.) */
  def qStreamTumble(s: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(s, dir)
      .select(col("ts_ts"), col("event_type"), col("value"),
        expr("ts div 1000").as("ts_us"))
    val feed = evs.drop("ts_us")
    runTwoBatchStream(s, "q_stream_tumble", dir,
      () => { val mid = midpoint(evs, "ts_us")
        (evs.filter(col("ts_us") <= mid).drop("ts_us"),
          evs.filter(col("ts_us") > mid).drop("ts_us")) },
      feed.schema,
      df => df.withWatermark("ts_ts", "10 minutes")
        .groupBy(window(col("ts_ts"), "1 hour").getField("start").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          QueryUtil.dsum(col("value")).as("sum_value")),
      "complete",
      // complete mode retains all window state and re-emits the full
      // table every batch — a no-data batch re-emits the identical
      // table; skip the extra commit round (round 21)
      noDataBatches = false)
      .orderBy("hour", "event_type")
  }

  private val qStreamTumbleOracle =
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
       |  COUNT(*) AS n_events, ${QueryUtil.dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Streaming n-gram counting (complete-mode stateful aggregation):
    * partial aggregation + state merge across micro-batches must
    * reproduce the batch bigram count table exactly — nothing lost or
    * double-counted at the batch boundary.
    *
    * Sink caveat: the MEMORY sink here collects the full count table to
    * the driver each trigger — fine as the sf-scale state-merge gate
    * (the aggregation STATE stays partitioned on executors), but a
    * driver-memory ceiling at 100 TB corpus vocabularies. The at-scale
    * form is [[qStreamNgramsSink]]: same aggregation, foreachBatch
    * writing the table to files — nothing vocabulary-sized ever reaches
    * the driver. */
  def qStreamNgrams(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    runTwoBatchStream(s, "q_stream_ngrams", dir,
      () => { val mid = midpoint(docs, "doc_id")
        (docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid)) },
      docs.schema,
      df => df.select(
          explode(graft.functions.WordNgrams.grams(col("text"), 2)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n_occurrences")),
      "complete")
      .orderBy("gram")
  }

  /** The at-scale sink form of [[qStreamNgrams]]: the same complete-mode
    * streaming aggregation, but the sink is a foreachBatch parquet
    * OVERWRITE — each trigger the executors write the current count
    * table straight to files, so no vocabulary-sized collection ever
    * lands on the driver (the production shape for a 100 TB corpus; at
    * that scale the overwrite also becomes update-mode merge-on-read or
    * an idempotent-by-batch-id upsert, same sink discipline). The gate
    * re-reads the final files: state merge AND the sink path must
    * together reproduce the batch bigram table bit-for-bit. The staged
    * output is deleted after an eager localCheckpoint (the re-read table
    * is vocab-sized — the same footprint the memory-sink twin retains). */
  def qStreamNgramsSink(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val out = Scratch.freshDir(s, "ngrams_sink_out")
    try {
      runTwoBatchFeed(s, "q_stream_ngrams_sink", dir,
        () => { val mid = midpoint(docs, "doc_id")
          (docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid)) },
        docs.schema) { stream =>
        stream.select(
            explode(graft.functions.WordNgrams.grams(col("text"), 2)).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("n_occurrences"))
          .writeStream.outputMode("complete")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("overwrite").parquet(out.toString)
          }
          .start()
      }
      s.read.parquet(out.toString).localCheckpoint(true).orderBy("gram")
    } finally Scratch.delete(s, out)
  }

  /** Streaming exact dedup (dropDuplicates on a stream): the canonical
    * seen-keys state shape every streaming ingestion pipeline runs.
    * Each micro-batch emits only keys never seen before, so the final
    * appended set is exactly the batch DISTINCT — deterministic no
    * matter which physical row reaches the state store first, because
    * only the key column flows. (The watermarked bounded-state variant
    * is spec-pinned in StreamingSpec; this unbounded-state form is the
    * hash-gateable one.) */
  def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
    runTwoBatchStream(s, "q_stream_dedup", dir,
      () => { val mid = midpoint(evs, "ts_us")
        (evs.filter(col("ts_us") <= mid), evs.filter(col("ts_us") > mid)) },
      evs.schema,
      df => df.select(col("user_id")).dropDuplicates("user_id"),
      "append")
      .orderBy("user_id")
  }

  private val qStreamDedupOracle =
    """SELECT DISTINCT user_id FROM events ORDER BY user_id""".stripMargin

  /** STREAMING near-dup admission — the realtime twin of
    * [[graft.queries.Dedup.qDedupIncrementalNear]]'s nightly job: the
    * corpus MinHash band index and gram sets are STATIC relations
    * (built once, localCheckpoint standing in for the persisted
    * parquet index), and the incoming document stream probes them with
    * stream-static broadcast joins. The stream side computes its band
    * keys PER ROW ([[graft.queries.Dedup.minhashBandsPerRow]] — the 32
    * permutation minima as one fold over the row's bigram hashes), so
    * the probe is STATELESS map-side work except the candidate-pair
    * `dropDuplicates` (state = one key per surviving candidate pair,
    * bounded by candidate volume, the same unbounded-dedup contract as
    * q_stream_dedup; the watermarked bounded form would age pairs out).
    * Candidates verify by exact bigram Jaccard against the broadcast
    * corpus gram sets — identical semantics, identical oracle, and a
    * hash gate that the streamed pair set equals the nightly batch
    * job's. At 100 TB: index broadcasts once per micro-batch (or
    * becomes a shuffled join keyed on (band,bucket) with the SAME
    * query text); per-event cost is O(grams + bands), no corpus
    * rescan ever. */
  def qStreamDedupNear(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") < 300).select(col("doc_id"), col("text"))
    val corpusIndex = corpus
      .select(col("doc_id").as("corpus_id"),
        posexplode(graft.queries.Dedup.minhashBandsPerRow(col("text")))
          .as(Seq("band", "bucket")))
      .localCheckpoint()
    val corpusGrams = corpus
      .select(col("doc_id").as("corpus_id"),
        graft.queries.Dedup.docBigrams(col("text")).as("c_grams"))
      .localCheckpoint()
    // derived replay offset: identical to the shared nightly oracle's
    // MAX(doc_id)+1 arithmetic (see Dedup.docReplayOffset)
    // chunk construction (replay-offset agg + midpoint) runs only when
    // the keyed feed cache is cold — it is feed production, not probe
    def batch = {
      val replays = corpus.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(graft.queries.Dedup.docReplayOffset(docs))).as("doc_id"),
          concat(col("text"), lit(" qq7")).as("text"))
      docs.filter(col("doc_id") >= 300)
        .select(col("doc_id"), col("text"))
        .unionByName(replays)
    }
    runTwoBatchStream(s, "q_stream_dedup_near", dir,
      () => { val b = batch; val mid = midpoint(b, "doc_id")
        (b.filter(col("doc_id") <= mid), b.filter(col("doc_id") > mid)) },
      docs.select(col("doc_id"), col("text")).schema,
      df => df
        .select(col("doc_id").as("batch_id"), col("text"),
          posexplode(graft.queries.Dedup.minhashBandsPerRow(col("text")))
            .as(Seq("band", "bucket")))
        .join(broadcast(corpusIndex), Seq("band", "bucket"))
        .select(col("batch_id"), col("corpus_id"), col("text"))
        .dropDuplicates("batch_id", "corpus_id")
        .withColumn("b_grams", graft.queries.Dedup.docBigrams(col("text")))
        .join(broadcast(corpusGrams), "corpus_id")
        .select(col("batch_id"), col("corpus_id"),
          graft.queries.Dedup.jaccardRounded(col("b_grams"), col("c_grams"))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.5),
      "append")
      .orderBy("batch_id", "corpus_id")
  }

  /** STREAMING semantic-dedup admission — the embedding-space twin of
    * [[qStreamDedupNear]] and the realtime form of
    * [[graft.queries.Dedup.qDedupEmbedIncremental]]'s nightly probe:
    * the corpus' random-hyperplane LSH band index and normalized
    * vectors are STATIC relations (built once from the persisted-index
    * stand-in, plan constants sized from the CORPUS), and the incoming
    * vector stream probes them with stream-static broadcast joins. Per
    * event: normalize, sign against the fixed plane matrix (map-side,
    * no state), probe the broadcast index on (band, bucket), then
    * verify survivors by exact cosine ≥ τ against the broadcast corpus
    * vectors — stateless except the candidate-pair `dropDuplicates`
    * (bounded by candidate volume, the q_stream_dedup_near contract).
    * Identical expressions to the nightly batch job ⇒ identical
    * doubles ⇒ the same brute-force batch×corpus DuckDB oracle gates
    * this entry hash-exactly. At 100 TB: the index broadcasts once per
    * micro-batch (or shuffles on (band,bucket) with the same query
    * text); per-event cost is O(dims·bands) — no corpus rescan, no
    * index rebuild, ever. */
  def qStreamDedupEmbed(s: SparkSession, dir: String, thr: Long = 300,
      threshold: Double = 0.95, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.{LshSignature, VectorOps}
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    // feed staging: derived replay offset + corpus-sized plan constants
    // (1-row/1-long driver aggs, the documented bounded pattern)
    val replayOffset = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val nCorpus = math.max(emb.filter(col("vec_id") < thr).count(), 2L)
    val bits = math.min(15, math.max(10,
      math.ceil(math.log(nCorpus.toDouble) / math.log(2)).toInt - 1))
    val corpus = emb.filter(col("vec_id") < thr)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("vec"))
    val corpusVecs = corpus
      .select(col("vec_id").as("corpus_id"),
        VectorOps.normalized(col("vec")).as("c_nvec"))
      .localCheckpoint()
    val corpusIndex = corpusVecs
      .select(col("corpus_id"),
        posexplode(LshSignature.signature(col("c_nvec"), dims, bits = bits))
          .as(Seq("band", "bucket")))
      .localCheckpoint()
    val replays = corpus.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + lit(replayOffset)).as("vec_id"),
        transform(col("vec"), x => x + lit(0.02)).as("vec"))
    val batch = emb.filter(col("vec_id") >= thr)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("vec"))
      .unionByName(replays)
    runTwoBatchStream(s, "q_stream_dedup_embed", dir,
      () => { val mid = midpoint(batch, "vec_id")
        (batch.filter(col("vec_id") <= mid), batch.filter(col("vec_id") > mid)) },
      batch.schema,
      df => df
        .select(col("vec_id").as("batch_id"),
          VectorOps.normalized(col("vec")).as("b_nvec"))
        .select(col("batch_id"), col("b_nvec"),
          posexplode(LshSignature.signature(col("b_nvec"), dims, bits = bits))
            .as(Seq("band", "bucket")))
        .join(broadcast(corpusIndex), Seq("band", "bucket"))
        .select(col("batch_id"), col("corpus_id"), col("b_nvec"))
        .dropDuplicates("batch_id", "corpus_id")
        .join(broadcast(corpusVecs), "corpus_id")
        .select(col("batch_id"), col("corpus_id"),
          VectorOps.dotD(col("b_nvec"), col("c_nvec")).as("cosine"))
        .filter(col("cosine") >= threshold),
      "append")
      .orderBy("batch_id", "corpus_id")
  }

  private val qStreamNgramsOracle =
    """WITH g AS (
      |  SELECT unnest(list_transform(
      |    range(1, len(string_split_regex(trim(text), '\s+'))),
      |    i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
      |         string_split_regex(trim(text), '\s+')[i+1])) AS gram
      |  FROM documents)
      |SELECT gram, COUNT(*) AS n_occurrences
      |FROM g GROUP BY gram ORDER BY gram""".stripMargin

  /** Stream-static broadcast enrichment — the canonical streaming
    * dimension lookup: an event stream joined to a STATIC customer dim
    * inside the micro-batch plan. Stateless by construction (no
    * watermark, no state store — the static side is re-planned each
    * micro-batch, and broadcast keeps it a map-side hash lookup with
    * zero shuffle on the stream), so the sink is trivially
    * split-invariant and the oracle is the plain batch join. At 100 TB
    * this is the shape for rate-limited enrichment: the dim broadcasts
    * once per micro-batch to every executor; a dim too big to
    * broadcast switches to a shuffle join keyed on user_id with the
    * SAME query text. */
  def qStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val dim = Tables.customer(s, dir).select(col("c_custkey"),
      col("c_mktsegment").as("segment"), col("c_nationkey").as("nationkey"))
    runTwoBatchStream(s, "q_stream_enrich", dir,
      () => { val mid = midpoint(evs, "event_id")
        (evs.filter(col("event_id") <= mid), evs.filter(col("event_id") > mid)) },
      evs.schema,
      df => df.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("segment"),
          col("nationkey"), col("value")),
      "append")
      .orderBy("event_id")
  }

  private val qStreamEnrichOracle =
    """SELECT event_id, user_id, c_mktsegment AS segment,
      |  c_nationkey AS nationkey, value
      |FROM events JOIN customer ON user_id = c_custkey
      |ORDER BY event_id""".stripMargin

  /** Streaming tabular→parquet ingest run END-TO-END: the reference's
    * conversion pipeline as an incremental file-watch service
    * (`IngestPipeline.convertStream`), fed the staged lineitem TSV in
    * two batches and hash-gated against the SAME oracle as the batch
    * q_ingest_typed — incremental conversion must equal the one-shot
    * conversion, with file boundaries invisible in the typed output.
    * The schema pins from batch 1 (the restart contract convertStream's
    * scaladoc documents); batch 2 flows through the pinned casts with
    * no re-inference. Stateless map-only stream: no state store, no
    * watermark — the scale cost is the file-listing tick, and each
    * micro-batch is the same no-shuffle cast projection as the batch
    * path. The gated lifecycle drains through the PRODUCTION parquet
    * file sink with a checkpoint (round 20: the memory sink it used
    * before was corpus-sized on the driver and broke the gate at the
    * 60M-row 100× feed — driver maxResultSize), so driver state stays
    * bounded at any decade; the sink's exactly-once restart contract
    * is pinned by StreamingSpec's "streaming ingest e2e" case. */
  /** Bundle of the per-format feed-staging + stream-building lambdas
    * shared by [[streamIngestLifecycle]] and the bench warmup path
    * [[prewarmIngestFeeds]]. */
  private final case class IngestFeed(name: String, stagedPath: String,
      readStaged: String => DataFrame,
      splitKey: Unit => org.apache.spark.sql.Column,
      writeChunk: (DataFrame, String) => Unit,
      buildStream: (String, String) => DataFrame)

  private def tsvFeed(s: SparkSession, dir: String): IngestFeed =
    IngestFeed("q_stream_ingest",
      stagedPath = Ingest.ensureStaged(s, dir),
      readStaged = p => s.read.option("header", "true").option("sep", "\t")
        .option("inferSchema", "false").option("escape", "\"").csv(p),
      splitKey = r => col("l_orderkey").cast("long"),
      writeChunk = (chunk, out) => chunk.write.mode("overwrite")
        .option("header", "true").option("sep", "\t").csv(out),
      buildStream = (glob, b1) => {
        val pinned = graft.ingest.IngestPipeline.inferSchema(
          graft.ingest.IngestPipeline.readRaw(s, b1, '\t'), fullScan = false)
        graft.ingest.IngestPipeline.convertStream(s, glob,
          delimiter = Some('\t'), schema = Some(pinned))
      })

  private def jsonlFeed(s: SparkSession, dir: String): IngestFeed =
    IngestFeed("q_stream_ingest_jsonl",
      stagedPath = Ingest.ensureStagedJsonl(s, dir),
      readStaged = p => s.read.text(p),
      splitKey = r => get_json_object(col("value"), "$.o_orderkey").cast("long"),
      writeChunk = (chunk, out) => chunk.write.mode("overwrite").text(out),
      buildStream = (glob, b1) => {
        val keys = graft.ingest.JsonlIngest.discoverKeys(s, b1)
        val pinned = graft.ingest.IngestPipeline.inferSchema(
          graft.ingest.JsonlIngest.readRaw(s, b1, keys), fullScan = false)
        graft.ingest.JsonlIngest.convertStream(s, glob, schema = Some(pinned))
      })

  def qStreamIngest(s: SparkSession, dir: String): DataFrame =
    streamIngestLifecycle(s, tsvFeed(s, dir))

  /** The JSONL twin: `JsonlIngest.convertStream` over the staged NDJSON
    * orders feed, hash-gated against q_ingest_jsonl's oracle. Key
    * discovery + types pin from batch 1; batch 2's raw token lines flow
    * through the pinned `from_json` + cast projection. */
  def qStreamIngestJsonl(s: SparkSession, dir: String): DataFrame =
    streamIngestLifecycle(s, jsonlFeed(s, dir))

  /** Bench warmup hook: build the chunked feed caches for both
    * streaming-ingest entries OUTSIDE any timed span. Producing the
    * feed input (a Spark CSV/JSONL write of the staged corpus split at
    * its key midpoint) is environment setup, not the incremental
    * conversion being measured — without this, the first timed run of
    * each entry paid a corpus-sized filesystem write and the bench's
    * most expensive line was measuring `/tmp` throughput, not the
    * operator (round-12 A/B: 9.4 s vs 5.4 s across identical runs). */
  def prewarmIngestFeeds(s: SparkSession, dir: String): Unit = {
    ensureFeedChunks(s, tsvFeed(s, dir))
    ensureFeedChunks(s, jsonlFeed(s, dir))
  }

  /** Shared two-batch lifecycle for the streaming INGEST entries, whose
    * feed is text files (CSV/JSONL) rather than the parquet chunks
    * runTwoBatchFeed stages: split the staged corpus at the key
    * midpoint, atomically move chunk subdirs into the watched dir
    * (same sibling-staging discipline — a listing sees all of a chunk
    * or none), pin the schema from batch 1, drain both batches through
    * the memory sink, and return the sink table in total order.
    *
    * The two chunk dirs are MATERIALIZED ONCE per (entry, corpus) into
    * a keyed cache dir — like `Ingest.ensureStaged`, producing the feed
    * input is environment setup, not the operator under test (the bench
    * builds them in its warmup via [[prewarmIngestFeeds]]) — and each
    * run HARD-LINKS them into a fresh watched dir: O(#files) metadata
    * ops instead of an O(bytes) copy, so per-run staging cost is
    * negligible at any corpus size and the timed span measures the
    * incremental conversion, not `/tmp` throughput. */
  /** Materialize the two-batch feed chunks for `feedCfg` once per
    * (entry, corpus) into a keyed cache dir and return its path: split
    * the staged corpus at the key midpoint and write each half with the
    * entry's chunk writer. Idempotent via the `_STAGED` marker. */
  private def ensureFeedChunks(s: SparkSession,
      feedCfg: IngestFeed): org.apache.hadoop.fs.Path = {
    val key = feedCfg.stagedPath.replaceAll("[^A-Za-z0-9._-]", "_")
    val cache = Scratch.cacheDir(s, s"feed_${feedCfg.name}_$key")
    val cfs = Scratch.fs(s, cache)
    val marker = new org.apache.hadoop.fs.Path(cache, "_STAGED")
    buildOnce(cache.toString)(cfs.exists(marker)) {
      val keyed = feedCfg.readStaged(feedCfg.stagedPath)
        .withColumn("_k", feedCfg.splitKey(()))
      val mid = midpoint(keyed, "_k")
      cfs.mkdirs(cache): Unit
      feedCfg.writeChunk(keyed.filter(col("_k") <= mid).drop("_k"),
        new org.apache.hadoop.fs.Path(cache, "b1").toString)
      feedCfg.writeChunk(keyed.filter(col("_k") > mid).drop("_k"),
        new org.apache.hadoop.fs.Path(cache, "b2").toString)
      cfs.create(marker, true).close()
    }
    cache
  }

  /** Hard-link staging is the LOCAL-filesystem fast path (O(#files)
    * metadata ops per bench run instead of an O(bytes) copy); on a
    * remote scratch root the Hadoop FileSystem has no link primitive,
    * so callers fall back to FileUtil.copy — still outside the watched
    * dir, still renamed into view atomically. Shared by the ingest-feed
    * lifecycle and the cached parquet chunk staging. */
  private def linkDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t): Unit
      else
        try java.nio.file.Files.createLink(t, p): Unit
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        }
    } finally walk.close()
  }

  private def streamIngestLifecycle(s: SparkSession, feedCfg: IngestFeed): DataFrame = {
    val name = feedCfg.name
    val cache = ensureFeedChunks(s, feedCfg)
    val feed = Scratch.freshDir(s, s"feed_$name")
    val ffs = Scratch.fs(s, feed)
    try {
      def stage(sub: String): Unit = {
        val tmpRoot = Scratch.freshDir(s, s"stage_$name")
        try {
          val tmp = new org.apache.hadoop.fs.Path(tmpRoot, sub)
          (Scratch.asLocal(s, cache), Scratch.asLocal(s, tmp)) match {
            case (Some(lsrc), Some(ltmp)) => linkDir(lsrc.resolve(sub), ltmp)
            case _ => org.apache.hadoop.fs.FileUtil.copy(
              Scratch.fs(s, cache), new org.apache.hadoop.fs.Path(cache, sub),
              ffs, tmp, false, s.sessionState.newHadoopConf()): Unit
          }
          require(ffs.rename(tmp, new org.apache.hadoop.fs.Path(feed, sub)),
            s"atomic feed staging failed: $tmp -> $feed/$sub")
        } finally Scratch.delete(s, tmpRoot)
      }
      stage("b1")
      val stream = feedCfg.buildStream(s"$feed/*",
        new org.apache.hadoop.fs.Path(feed, "b1").toString)
      // Drain through the PRODUCTION parquet file sink (exactly-once
      // via the checkpoint + _spark_metadata log), not the memory sink:
      // the memory sink serializes every task's rows onto the driver,
      // which is cluster-false and breaks the gate at the 60M-row 100×
      // feed (driver maxResultSize exceeded) — the file sink keeps
      // driver state bounded at any corpus size. The sink dir is a
      // Scratch freshDir NOT deleted here: the returned DataFrame reads
      // from it lazily (Verify/Bench consume it after this returns), so
      // its lifetime is the session's and the shutdown reaper owns it.
      val sink = Scratch.freshDir(s, s"sink_$name")
      val data = new org.apache.hadoop.fs.Path(sink, "data").toString
      val q = stream.writeStream.outputMode("append")
        .format("parquet").option("path", data)
        .option("checkpointLocation",
          new org.apache.hadoop.fs.Path(sink, "_cp").toString)
        .start()
      try {
        q.processAllAvailable()
        stage("b2")
        q.processAllAvailable()
      } finally q.stop()
      val t = s.read.parquet(data)
      t.orderBy(t.columns.map(col): _*)
    } finally Scratch.delete(s, feed)
  }

  /** Streaming CDC materialization on Spark 4's `transformWithState`
    * ([[graft.streaming.LatestState]]): per-user latest change held in
    * ValueState, flushed by an event-time TIMER once the watermark
    * passes the key's last event — the bounded-state form (flushed keys
    * leave the store; StreamingSpec pins the state-row count and the
    * timer boundary). The result is the full quiescent-point CHANGELOG
    * the sink accumulates — a key that goes quiet, flushes, then speaks
    * again contributes one snapshot per quiescence — so the oracle
    * restates the two-flush state machine exactly, mirroring the feed
    * construction the way the synthetic-feed oracles do (the midpoint
    * split is `min + (max−min)/2` over µs event times, computable from
    * the table):
    *
    *  - flush 1 (after batch 1, watermark = batch-1 max − 10 s): each
    *    user's batch-1 argmax row, iff its ms-floored time ≤ that
    *    watermark (transformWithState timers fire NON-strictly,
    *    expiry ≤ watermark — measured; GroupState timeouts fire on
    *    strict <, so the two APIs' boundary semantics differ);
    *  - flush 2 (end of feed, watermark = global max − 10 s): the
    *    user's global argmax row, iff it ≤ that watermark AND the user
    *    re-opened (has batch-2 events) or never flushed. Users inside
    *    the final horizon keep their state, unemitted.
    *
    * transformWithState requires the multi-column-family RocksDB state
    * store (timers live in their own column family), which is also the
    * at-scale provider — forced here, restored after the lifecycle. */
  def qStreamCdc(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"),
      col("event_type"), col("value"), col("ts_ts"))
    val enc = Encoders.product[LatestState.Change]
    runTwoBatchStream(s, "q_stream_cdc", dir,
        () => { val mid = midpoint(ev, "ts_us")
          (ev.filter(col("ts_us") <= mid), ev.filter(col("ts_us") > mid)) },
        enc.schema,
        df => LatestState.latestStream(
          df.withWatermark("ts_ts", "10 seconds").as[LatestState.Change](enc)).toDF(),
        "append",
        stateShape = "requiresRocksdb")
      .orderBy("user_id", "as_of_us")
  }

  private val qStreamCdcOracle =
    """WITH m AS (SELECT MIN(epoch_us(ts)) +
      |    (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2 AS mid FROM events),
      |b1 AS (SELECT * FROM events, m WHERE epoch_us(ts) <= mid),
      |wm1 AS (SELECT MAX(epoch_us(ts)) // 1000 - 10000 AS w FROM b1),
      |wmf AS (SELECT MAX(epoch_us(ts)) // 1000 - 10000 AS w FROM events),
      |last1 AS (
      |  SELECT user_id, epoch_us(ts) AS as_of_us, event_id AS last_event_id,
      |    event_type AS last_type, value AS last_value
      |  FROM b1
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1),
      |flush1 AS (
      |  SELECT last1.* FROM last1, wm1 WHERE as_of_us // 1000 <= wm1.w),
      |lastf AS (
      |  SELECT user_id, epoch_us(ts) AS as_of_us, event_id AS last_event_id,
      |    event_type AS last_type, value AS last_value
      |  FROM events
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1),
      |flush2 AS (
      |  SELECT lastf.* FROM lastf, wmf, m
      |  WHERE as_of_us // 1000 <= wmf.w
      |    AND (as_of_us > m.mid  -- re-opened by a batch-2 arrival
      |         OR lastf.user_id NOT IN (SELECT user_id FROM flush1)))
      |SELECT * FROM flush1
      |UNION ALL
      |SELECT * FROM flush2
      |ORDER BY user_id, as_of_us""".stripMargin

  /** Streaming last-touch attribution ([[graft.streaming.Attribution]]):
    * per-user last non-purchase touch in ValueState, every purchase
    * credited immediately — no watermark or timer, because attribution
    * only looks BACKWARD (a purchase's credit is fixed on arrival).
    * Hash-gated against the batch window form over the whole corpus:
    * for the time-split feed, replaying each micro-batch's rows per key
    * in (event-time, event_id) order makes the streamed changelog
    * EQUAL the batch `last(…, ignoreNulls)` window — the same
    * credit for every one of the corpus's purchases, not just
    * watermark-closed ones. RocksDB provider forced as for the other
    * transformWithState lifecycles. */
  def qStreamAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"),
      col("event_type"))
    val enc = Encoders.product[Attribution.Touch]
    runTwoBatchStream(s, "q_stream_attribution", dir,
        () => { val mid = midpoint(ev, "ts_us")
          (ev.filter(col("ts_us") <= mid), ev.filter(col("ts_us") > mid)) },
        enc.schema,
        df => Attribution.creditStream(df.as[Attribution.Touch](enc)).toDF(),
        "append",
        stateShape = "requiresRocksdb")
      .orderBy("event_id")
  }

  private val qStreamAttributionOracle =
    """SELECT event_id, user_id, COALESCE(touch, 'direct') AS channel
      |FROM (
      |  SELECT event_id, user_id, event_type,
      |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |        ORDER BY epoch_us(ts), event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events)
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_attribution" -> (qStreamAttribution _),
    "q_stream_cdc" -> (qStreamCdc _),
    "q_stream_ingest" -> (qStreamIngest _),
    "q_stream_ingest_jsonl" -> (qStreamIngestJsonl _),
    "q_stream_enrich" -> (qStreamEnrich _),
    "q_stream_sessions" -> (qStreamSessions _),
    "q_stream_sessions_bounded" -> (qStreamSessionsBounded _),
    "q_stream_interval_join" -> (qStreamIntervalJoin _),
    "q_stream_interval_join_outer" -> (qStreamIntervalJoinOuter _),
    "q_stream_semi_join" -> (qStreamSemiJoin _),
    "q_stream_tumble" -> (qStreamTumble _),
    "q_stream_scd2" -> (qStreamScd2 _),
    "q_stream_ngrams" -> (qStreamNgrams _),
    "q_stream_ngrams_sink" -> (qStreamNgramsSink _),
    "q_stream_dedup" -> (qStreamDedup _),
    "q_stream_dedup_near" -> (qStreamDedupNear _),
    "q_stream_dedup_embed" -> ((s, d) => qStreamDedupEmbed(s, d))
  )

  def oracleSql: Map[String, String] = Map(
    // incremental conversion must equal one-shot conversion: the stream
    // entries share the batch ingest oracles VERBATIM (textual identity
    // guaranteed by referencing the same map)
    "q_stream_attribution" -> qStreamAttributionOracle,
    "q_stream_cdc" -> qStreamCdcOracle,
    "q_stream_ingest" -> Ingest.oracleSql("q_ingest_typed"),
    "q_stream_ingest_jsonl" -> Ingest.oracleSql("q_ingest_jsonl"),
    "q_stream_enrich" -> qStreamEnrichOracle,
    "q_stream_sessions" -> qStreamSessionsOracle,
    "q_stream_sessions_bounded" -> qStreamSessionsBoundedOracle,
    "q_stream_interval_join" -> qStreamIntervalJoinOracle,
    "q_stream_interval_join_outer" -> qStreamIntervalJoinOuterOracle,
    "q_stream_semi_join" -> qStreamSemiJoinOracle,
    "q_stream_tumble" -> qStreamTumbleOracle,
    "q_stream_scd2" -> qStreamScd2Oracle,
    "q_stream_ngrams" -> qStreamNgramsOracle,
    "q_stream_ngrams_sink" -> qStreamNgramsOracle,
    "q_stream_dedup" -> qStreamDedupOracle,
    "q_stream_dedup_near" -> graft.queries.Dedup.incrementalNearOracle,
    "q_stream_dedup_embed" -> graft.queries.Dedup.embedIncrementalOracle
  )
}
