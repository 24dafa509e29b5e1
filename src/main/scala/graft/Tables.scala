package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Each query receives the scale-factor directory at call time, so the same
  * query definitions run at sf0.001 (smoke), sf0.01 (oracle) and sf0.1
  * (bench) — and, unchanged, against any parquet directory on a real
  * cluster. Parquet scans are the only source; Catalyst handles column
  * pruning + predicate pushdown from the declarative plans built on top.
  */
object Tables {
  /** Analyzed-handle cache, keyed by (session, path): every
    * `spark.read.parquet(path)` call re-runs data-source resolution —
    * a fresh footer read + relation build, measured 30–65 ms per call
    * (round 20, OPTIMIZATION_r20.md §7; a 6-table TPC-H query paid ~0.4 s of it
    * PER RUN before any data moved). The cache returns the same
    * analyzed DataFrame handle for repeated loads of one immutable
    * corpus table in one session — a METADATA cache, exactly what a
    * catalog table gives a production deployment (resolve once, scan
    * per query): no rows, no results, no computed intermediates are
    * retained, and every execution still reads the parquet files.
    * Keyed by session so test sessions with different confs never
    * share handles; corpus tables are immutable per path (the driver
    * testdata contract; sweep corpora write once per path). */
  private val handles =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  // get/putIfAbsent rather than computeIfAbsent: events() resolves its
  // raw table INSIDE its own loader, and nested computeIfAbsent on one
  // ConcurrentHashMap throws "Recursive update" when the inner insert
  // triggers a resize. The benign race (two threads both loading the
  // same immutable handle, first insert wins) is fine — the value is
  // idempotent.
  private def cached(s: SparkSession, key: String)(load: => DataFrame): DataFrame = {
    val k = (s, key)
    val hit = handles.get(k)
    if (hit != null) hit
    else {
      val v = load
      val prev = handles.putIfAbsent(k, v)
      if (prev != null) prev else v
    }
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    cached(s, s"$dir/$name.parquet")(s.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, dir: String): DataFrame = t(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = t(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = t(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = t(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = t(s, dir, "lineitem")
  /** `events.ts` has shipped under two equally standard physical
    * encodings — Parquet TIMESTAMP(NANOS) (which Spark reads as a raw
    * long under `spark.sql.legacy.parquet.nanosAsLong=true`) and plain
    * µs `timestamp` — so the loader dispatches on the LOADED dtype and
    * normalizes to one internal shape: `ts` = epoch-nanosecond long,
    * `ts_ts` = TimestampType. Every downstream query works off that
    * contract, so a testdata re-encode never reaches operator code.
    */
  // the normalized events frame is cached as a handle too: the dtype
  // dispatch + two withColumns re-analyzed a 3-step plan on every one
  // of the ~40 event-family constructions per board run
  def events(s: SparkSession, dir: String): DataFrame =
    cached(s, s"$dir/events.parquet@normalized")(eventsUncached(s, dir))

  private def eventsUncached(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // ns-BIGINT path (TIMESTAMP(NANOS) parquet + nanosAsLong=true,
        // set where every graft session is BUILT — reading a table must
        // not mutate session conf; an externally-built session without
        // the conf fails fast with PARQUET_TYPE_ILLEGAL, naming the fix).
        // `ts div 1000`, not `/ 1000`: Spark's `/` is double division and
        // ns-magnitude longs (~1e18) exceed double's 2^53 exact range —
        // the rounded quotient can differ ±1 µs from exact truncation.
        raw.withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType | TimestampNTZType =>
        // µs-native path: the ns long is exactly representable
        // (µs·1000 ≪ 2^63). The NTZ→LTZ cast is interpreted in the
        // session timezone — value-preserving ONLY because every graft
        // session pins spark.sql.session.timeZone=UTC; the cast is
        // explicit so the dependency is visible here.
        val tsTs = col("ts").cast(TimestampType)
        raw.withColumn("ts_ts", tsTs)
          .withColumn("ts", unix_micros(tsTs) * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other " +
            "(expected ns BIGINT, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")
}
