package graft.ingest

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.GraftDataSource

/** JSON-lines ingest through the SAME inference ladder and typed reader
  * as the delimited-text pipeline — the modern "tabular" a training-data
  * pipeline actually receives. The reference converts only delimited
  * text (/root/reference/src/conversion.rs); this extends its contract
  * to NDJSON with unchanged typing semantics:
  *
  *  - key discovery replaces the header row: the column set and order
  *    come from the first-seen order of top-level keys across a bounded
  *    sample of lines (the reference's header read is the 1-line
  *    degenerate case of this);
  *  - every top-level value is captured as its RAW TOKEN TEXT (numbers
  *    keep their literal spelling, nested objects/arrays keep their JSON
  *    text), so the type-decision ladder (O3–O5) and cast kernels (O11)
  *    apply verbatim — a `"123"` string and a `123` number land in the
  *    same Int64 column exactly as the reference's CSV cells would;
  *  - malformed lines null-pad instead of aborting (PERMISSIVE parity
  *    with the reference's analyse.rs:41-106 row handling);
  *  - missing keys are nulls, like the reference's short-row padding.
  *
  * Scale: key discovery reads at most 1,000 lines on the driver and the
  * inference sample is bounded the same way (MAX_LIGNES_INFERENCE,
  * schema.rs:11); the conversion itself is one typed `format("graft")`
  * scan (the JSON half of the one ingest tokenizer, byte-range splits
  * like the delimited path) — no shuffle anywhere, the same shape as
  * the delimited path.
  */
object JsonlIngest {

  /** Top-level keys of one JSON object line, in document order.
    * Malformed lines contribute no keys (they null-pad at read time). */
  private[ingest] def topLevelKeys(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val p = new JsonFactory().createParser(line)
      try {
        if (p.nextToken() == JsonToken.START_OBJECT) {
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            if (!out.contains(p.currentName())) out += p.currentName()
            p.nextToken()
            p.skipChildren() // a nested value's keys are not columns
          }
        }
      } finally p.close()
    } catch { case _: java.io.IOException => }
    out.toSeq
  }

  /** Key discovery over a bounded sample of lines: union of top-level
    * keys in first-seen order (first line's order wins for shared keys,
    * later lines append their novel keys) — the JSONL analogue of the
    * reference's header-row read. The sample is the first `sampleRows`
    * record lines in file-name order (`GraftDataSource.firstLines`), the
    * lines format routing and the reader see first: one driver read, no
    * Spark job. */
  def discoverKeys(spark: SparkSession, path: String, sampleRows: Int = 1000): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    GraftDataSource.firstLines(spark.sessionState.newHadoopConf(), path, sampleRows)
      .foreach(topLevelKeys(_).foreach(seen += _))
    require(seen.nonEmpty, s"no JSON object keys found in the first $sampleRows lines of $path")
    seen.toSeq
  }

  /** FULL key discovery — the `--inferer-schema-complet` analogue for
    * COLUMNS, not just types: keys that first appear past the sample
    * (or only in later files of a directory) join the schema. Order is
    * deterministic: the sampled first-seen keys keep their positions,
    * novel keys append ALPHABETICALLY (a distributed scan has no
    * meaningful "first seen"). The collect is bounded by the DISTINCT
    * top-level key count — a schema vocabulary, never row-scaled. */
  def discoverKeysFull(spark: SparkSession, path: String,
                       sampleRows: Int = 1000): Seq[String] = {
    val sampled = discoverKeys(spark, path, sampleRows)
    import spark.implicits._
    val all = spark.read.text(path).as[String]
      .mapPartitions(it => it.flatMap(topLevelKeys))
      .distinct().collect()
    sampled ++ (all.toSet -- sampled).toSeq.sorted
  }

  /** Raw all-string read through the graft source's JSON tokenizer
    * (`GraftPartitionReader.jsonFields`): every top-level value as its
    * raw token text (numbers and booleans keep their literal spelling;
    * nested objects/arrays their JSON), which is exactly the "cell
    * text" contract the ladder expects. Missing keys and JSON null are
    * null, and a malformed line is an all-null row. */
  def readRaw(spark: SparkSession, path: String, keys: Seq[String]): DataFrame =
    spark.read.format("graft").schema(IngestPipeline.allString(keys)).load(path)

  /** Full pipeline: JSONL file/directory → typed DataFrame, typing rules
    * identical to `IngestPipeline.convert`: one typed graft read with the
    * inferred schema. `fullScan` widens BOTH halves of inference, like
    * the reference's flag: type decisions see every line, and key
    * discovery sees every line's keys. */
  def convert(spark: SparkSession, path: String, fullScan: Boolean = false,
              sampleRows: Int = 1000): DataFrame = {
    val keys =
      if (fullScan) discoverKeysFull(spark, path, sampleRows)
      else discoverKeys(spark, path, sampleRows)
    spark.read.format("graft")
      .schema(IngestPipeline.inferSchema(readRaw(spark, path, keys), fullScan)).load(path)
  }

  /** Content sniff for the CLI's and the graft source's format routing:
    * the input is JSONL when its first line (`GraftDataSource.firstLine`)
    * parses as a JSON object with at least one key — O2's one-line
    * pre-pass, a format probe instead of a comma count. */
  def looksLikeJsonl(spark: SparkSession, path: String): Boolean = {
    val first = GraftDataSource.firstLine(spark.sessionState.newHadoopConf(), path)
    first.dropWhile(_.isWhitespace).startsWith("{") && topLevelKeys(first).nonEmpty
  }

  /** Streaming form, mirroring `IngestPipeline.convertStream`: keys and
    * types pin ONCE from the files already present, then new files flow
    * through the same typed graft reader continuously. The same RESTART
    * CONTRACT applies — pass the first run's schema when resuming from a
    * checkpoint (see convertStream's scaladoc). */
  def convertStream(spark: SparkSession, path: String,
                    schema: Option[StructType] = None,
                    sampleRows: Int = 1000): DataFrame = {
    val pinned = schema.getOrElse {
      val keys = discoverKeys(spark, path, sampleRows)
      IngestPipeline.inferSchema(readRaw(spark, path, keys), fullScan = false)
    }
    spark.readStream.format("graft").schema(pinned).load(path)
  }
}
