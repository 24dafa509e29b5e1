package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ingest.{IngestPipeline, JsonlIngest}

/** q_ingest_typed — the reference's whole reason to exist (O1–O13): a
  * delimited text file round-trips through delimiter detection, sampled
  * schema inference, and the typed cast kernel into a typed DataFrame.
  *
  * Driver data ships as parquet, so the query first materializes a TSV
  * projection of `lineitem` (strings only, reference-style formatting),
  * then runs the real pipeline on it. No oracle (the driver records a
  * rows-only check); semantics are unit-tested against the reference's
  * own fixtures in IngestPipelineSpec/CastKernelSpec.
  */
object Ingest {

  /** Stage the TSV once per sf dir and return its path — materializing
    * the input is test-harness work, not part of the conversion
    * pipeline being measured, so Bench warms it up before timing. */
  /** The reference-style stringified lineitem projection every staged
    * TSV is built from by [[ensureStaged]]; SCALE.md's round-13
    * split-parallelism rows were measured on the same projection. */
  def stagedTsvProjection(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey").cast("string"),
        col("l_partkey").cast("string"),
        col("l_quantity").cast("string"),
        col("l_extendedprice").cast("string"),
        col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("l_shipdate"))

  def ensureStaged(s: SparkSession, dir: String): String = {
    // key the staging dir on the sanitized path itself — hashCode could
    // collide across distinct sf dirs and silently reuse the wrong TSV.
    // The cache lives under the shared Scratch root (round-18 verdict
    // task 1: java.io.tmpdir was driver-local, cluster-false) and its
    // existence check goes through the root's Hadoop FileSystem.
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val tsvDir = Scratch.cacheDir(s, s"ingest_tsv_$key")
    if (!Scratch.fs(s, tsvDir)
        .exists(new org.apache.hadoop.fs.Path(tsvDir, "_SUCCESS"))) {
      stagedTsvProjection(s, dir)
        .write.mode("overwrite")
        .option("header", "true").option("sep", "\t")
        .csv(tsvDir.toString)
    }
    tsvDir.toString
  }

  def qIngestTyped(s: SparkSession, dir: String): DataFrame =
    IngestPipeline.convert(s, ensureStaged(s, dir))

  /** Stage a deterministic JSONL projection of `orders` once per sf dir:
    * BIGINT and DOUBLE columns as native JSON NUMBER tokens (their
    * literal spelling is what the ladder must re-type), the status as a
    * JSON string, the date as the reference's second-precision text
    * format, and `o_custkey` DROPPED from every 7th order (to_json omits
    * null fields) so missing-key null-padding is exercised end-to-end. */
  def ensureStagedJsonl(s: SparkSession, dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val jsonDirP = Scratch.cacheDir(s, s"ingest_jsonl_$key")
    val jsonDir = jsonDirP.toString
    if (!Scratch.fs(s, jsonDirP)
        .exists(new org.apache.hadoop.fs.Path(jsonDirP, "_SUCCESS"))) {
      Tables.orders(s, dir)
        .select(to_json(struct(
          col("o_orderkey"),
          when(col("o_custkey") % 7 =!= 0, col("o_custkey")).as("o_custkey"),
          col("o_totalprice"),
          col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate")))
          .as("value"))
        .write.mode("overwrite").text(jsonDir)
    }
    jsonDir
  }

  /** q_ingest_jsonl — the JSONL twin of q_ingest_typed: NDJSON staged
    * from `orders` round-trips through key discovery, the same
    * type-decision ladder, and the same cast kernels
    * (ingest/JsonlIngest.scala). Number tokens must re-type to
    * BIGINT/DOUBLE, the text date to a second-precision timestamp, and
    * the dropped key to NULL — all hash-checked against the source
    * columns below. */
  def qIngestJsonl(s: SparkSession, dir: String): DataFrame =
    JsonlIngest.convert(s, ensureStagedJsonl(s, dir))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The registry form appends a total-order sort so the driver's
    // order-sensitive hash gate can compare the typed output against
    // the DuckDB oracle below (the reference's own verification method,
    // SURVEY §5.1: re-read the produced parquet and diff it against the
    // expected typed values). The conversion itself stays input-ordered
    // (O12) — that contract is pinned by ConvertMainSpec's order assert,
    // not here.
    // localCheckpoint before the sort: orderBy range-partitions, and
    // its boundary-sampling pass would otherwise re-execute the whole
    // parse+cast subtree a second time (measured 1.24 s → 3.0 s at
    // sf0.1); sampling the materialized partitions keeps one
    // conversion pass. Bench unpersists checkpointed RDDs between runs.
    "q_ingest_typed" -> ((s, dir) => {
      val typed = qIngestTyped(s, dir).localCheckpoint()
      typed.orderBy(typed.columns.map(col): _*)
    }),
    // Same localCheckpoint-before-sort rationale as q_ingest_typed: one
    // conversion pass, then a total-order sort for the hash gate.
    "q_ingest_jsonl" -> ((s, dir) => {
      val typed = qIngestJsonl(s, dir).localCheckpoint()
      typed.orderBy(typed.columns.map(col): _*)
    })
  )

  /** The staged TSV is a deterministic projection of `lineitem`, so the
    * expected typed values are the source columns themselves: the
    * string round-trip is exact for BIGINT/DOUBLE (shortest-repr
    * format, exact parse) and truncates timestamps to seconds (the
    * staged `yyyy-MM-dd HH:mm:ss` format — hence date_trunc). NULLS
    * FIRST matches Spark's ascending-sort default. */
  def oracleSql: Map[String, String] = Map(
    "q_ingest_typed" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice,
        |       l_returnflag, date_trunc('second', l_shipdate) AS l_shipdate
        |FROM lineitem
        |ORDER BY l_orderkey NULLS FIRST, l_partkey NULLS FIRST,
        |         l_quantity NULLS FIRST, l_extendedprice NULLS FIRST,
        |         l_returnflag NULLS FIRST, l_shipdate NULLS FIRST""".stripMargin,
    // The staged JSONL is a deterministic projection of `orders`: number
    // tokens round-trip exactly (shortest-repr double format, exact
    // parse), the staged second-precision date text truncates the
    // timestamp, and the %7 key drop resurfaces as NULL.
    "q_ingest_jsonl" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END
        |         AS o_custkey,
        |       o_totalprice, o_orderstatus,
        |       date_trunc('second', o_orderdate) AS o_orderdate
        |FROM orders
        |ORDER BY o_orderkey NULLS FIRST, o_custkey NULLS FIRST,
        |         o_totalprice NULLS FIRST, o_orderstatus NULLS FIRST,
        |         o_orderdate NULLS FIRST""".stripMargin
  )
}
