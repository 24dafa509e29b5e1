package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CellParse
import graft.ingest.{IngestPipeline, ScalarParse}

/** `spark.read.format("graft").load(path)` — the conversion pipeline as
  * a first-class DataSourceV2 source: delimiter detection + reference
  * schema inference happen at planning time (TableProvider.inferSchema),
  * and the typed conversion happens inside the source's partition
  * readers, so a user gets reference-typed rows from ONE read with no
  * intermediate all-string frame.
  *
  * The scan is a plain typed scan. It takes column pruning
  * (SupportsPushDownRequiredColumns: unprojected columns are never
  * converted) and reports file bytes (SupportsReportStatistics, so a
  * small graft read can broadcast). Filters, limits, top-N and
  * aggregates are Spark's own operators above it.
  *
  * It is the one tokenizer of the ingest path: the all-string reads,
  * the streams and the CLI all read through it. A path (file, directory
  * or glob) is listed by [[GraftDataSource.dataFiles]]; a line empty
  * after `String.trim` is not a record, each delimited file's first
  * non-blank line is its header, and a file's leading U+FEFF is dropped.
  *
  * Scale behavior: uncompressed files larger than Spark's file-source
  * split size (`FilePartition.maxSplitBytes`: `maxPartitionBytes`,
  * `openCostInBytes`, default parallelism) split into Spark's split
  * count of equal byte ranges, aligned to the next newline (Hadoop
  * LineRecordReader convention — see GraftRangeLineSource), so one
  * giant TSV reads as wide as the cluster; smaller files are one
  * partition each and a directory of N part files reads ≥N-wide. gzip members are undividable streams and
  * honestly stay file-per-partition.
  *
  * Each cell converts through the SAME static kernels the pipeline's
  * cast expressions call ([[graft.functions.CellParse]]: null tokens,
  * the one trim rule, s-unit truncation, u64 policy), called on the
  * token's `UTF8String` — GraftSourceSpec pins row-for-row equality
  * against `IngestPipeline.convert`, and IngestPathsSpec pins the
  * reader, the CLI, the stream and the JSONL route against each other.
  *
  * Options: `sep` (override detection), `fullScan` (full-file
  * inference).
  */
class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft source requires a path: spark.read.format(\"graft\").load(path)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // the same content sniff and all-string read as the CLI
    val fullScan = options.getBoolean("fullScan", false)
    IngestPipeline.inferSchema(IngestPipeline.readRawAny(SparkSession.active,
      pathOf(options), fullScan, GraftDataSource.sepOption(options))._1, fullScan)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true

  private class GraftTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
    override def name(): String = s"graft(${pathOf(options)})"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
    override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
      val spark = SparkSession.active
      val path = pathOf(options)
      val jsonl = graft.ingest.JsonlIngest.looksLikeJsonl(spark, path)
      val delim =
        if (jsonl) '\t' // unused by the JSON tokenizer
        else GraftDataSource.sepOption(options)
          .getOrElse(IngestPipeline.detectDelimiter(spark, path))
      new GraftScanBuilder(schema, path, delim, jsonl)
    }
    /** `df.write.format("graft")` — the reader's inverse (GraftWriter).
      * The write schema comes from the QUERY (supportsExternalMetadata
      * routes df.schema here), so a fresh output path never runs
      * read-side inference. `sep` defaults to tab — the reference's
      * canonical delimiter; `compression=gzip` emits .gz files. */
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val sep = GraftDataSource.sepOption(options).getOrElse('\t')
      val gzip = Option(options.get("compression")).exists {
        case c if c.equalsIgnoreCase("gzip") => true
        case c if c.equalsIgnoreCase("none") => false
        case c => throw new IllegalArgumentException(
          s"graft option 'compression' must be gzip or none, got '$c'")
      }
      // embedded CR/LF can't ride a line-oriented format: default is
      // fail-fast; "strip" replaces runs with one space (lossy, for
      // corpora whose documents legitimately contain newlines)
      val stripNewlines = Option(options.get("newline")).exists {
        case c if c.equalsIgnoreCase("strip") => true
        case c if c.equalsIgnoreCase("error") => false
        case c => throw new IllegalArgumentException(
          s"graft option 'newline' must be error or strip, got '$c'")
      }
      // format=jsonl writes NDJSON instead of delimited text — the
      // reader's JSONL half round-trips it (and JSON escapes carry
      // embedded newlines the delimited form must reject or strip)
      val jsonlOut = Option(options.get("format")).exists {
        case c if c.equalsIgnoreCase("jsonl") => true
        case c if c.equalsIgnoreCase("delimited") => false
        case c => throw new IllegalArgumentException(
          s"graft option 'format' must be delimited or jsonl, got '$c'")
      }
      new GraftWriteBuilder(pathOf(options), sep, info.schema(), gzip,
        stripNewlines, info.queryId(), jsonlOut)
    }
  }

  /** The plain typed scan: column pruning and file-byte statistics are
    * all it takes from the planner (see the class doc). */
  private class GraftScanBuilder(full: StructType, path: String, delim: Char,
                                 jsonl: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
      with Scan with Batch
      with SupportsReportStatistics {

    private var required: StructType = full

    override def pruneColumns(requiredSchema: StructType): Unit =
      // preserve our field metadata (ts unit / unsigned): prune by name
      required = StructType(requiredSchema.fieldNames.flatMap(n =>
        full.fields.find(_.name == n)))

    override def build(): Scan = this
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"graft $path sep='$delim' ReadSchema: ${required.catalogString}"

    override def planInputPartitions(): Array[InputPartition] = {
      val spark = SparkSession.active
      val statuses = GraftDataSource.dataFiles(spark.sessionState.newHadoopConf(), path)
      // Byte-range splits: a single giant uncompressed file must not
      // serialize onto one core. The split size is Spark's own
      // file-source rule, with offsets aligned to the next newline
      // reader-side (see GraftRangeLineSource). The reference's
      // conversion path is line-based and quote-unaware
      // (conversion.rs:197-223), so newline-aligned offsets preserve its
      // semantics. gzip members are honestly unsplittable streams and
      // stay file-per-partition. Partitions keep the listing's (file
      // name, offset) order: the input order ConvertMain writes.
      val maxBytes = FilePartition.maxSplitBytes(spark,
        Seq(PartitionDirectory(InternalRow.empty, statuses.toArray)))
      statuses.flatMap { st =>
        val f = st.getPath.toString
        if (f.endsWith(".gz") || st.getLen <= maxBytes)
          Seq(GraftFilePartition(f, full, required, delim, jsonl = jsonl))
        else GraftDataSource.balancedRanges(st.getLen, maxBytes).map { case (off, len) =>
          GraftFilePartition(f, full, required, delim, off, len, jsonl = jsonl)
        }
      }.map(p => p: InputPartition).toArray
    }

    /** Input-byte statistics from the filesystem (a metadata-only
      * listing), so Catalyst can pick broadcast joins for small graft
      * reads the same way it does for parquet. Typed rows are narrower
      * than their delimited text, so file size is a safe (over-)
      * estimate of scan size. */
    override def estimateStatistics(): Statistics = new Statistics {
      private val bytes: Long =
        try GraftDataSource.dataFiles(
          SparkSession.active.sessionState.newHadoopConf(), path).map(_.getLen).sum
        catch { case _: Exception => Long.MaxValue }
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

    override def createReaderFactory(): PartitionReaderFactory =
      // built on the driver: capture the SESSION Hadoop configuration
      // (spark.hadoop.* + session overrides) and ship it to executors,
      // like Spark's own file sources — object-store credentials and
      // custom filesystems then apply to graft reads
      new GraftReaderFactory(new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))

    /** `spark.readStream.format("graft").load(dir)` — the incremental
      * twin of the batch scan: each micro-batch converts exactly the
      * delimited files that appeared since the last offset, through the
      * SAME reader (same kernels, same pruned columns). Offsets are the
      * sorted seen-file list, so a batch is the set difference of two
      * listings: deterministic for append-only feed dirs (the
      * file-source contract; writers should stage+rename like
      * Streaming.runTwoBatchFeed does). */
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new GraftMicroBatchStream(path, full, required, delim,
        new org.apache.spark.util.SerializableConfiguration(
          SparkSession.active.sessionState.newHadoopConf()), jsonl)
  }
}

/** Streaming offset: the sorted list of data files already emitted.
  * JSON is a plain string array, so checkpoint recovery round-trips
  * through deserializeOffset. A production-hardened form would compact
  * this into a file log like Spark's FileStreamSource; the
  * offset-as-listing form keeps the exactly-once set-difference
  * semantics explicit and is bounded by feed-dir file count. */
private[sources] case class GraftFilesOffset(files: Seq[String])
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = GraftFilesOffset.mapper.writeValueAsString(files.toArray)
}

private[sources] object GraftFilesOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def fromJson(json: String): GraftFilesOffset =
    GraftFilesOffset(mapper.readValue(json, classOf[Array[String]]).toSeq)
}

private class GraftMicroBatchStream(path: String, full: StructType,
    required: StructType, delim: Char,
    conf: org.apache.spark.util.SerializableConfiguration,
    jsonl: Boolean = false)
  extends MicroBatchStream {

  private def listFiles(): Seq[String] =
    GraftDataSource.dataFiles(conf.value, path).map(_.getPath.toString)

  override def initialOffset(): streaming.Offset = GraftFilesOffset(Nil)
  override def latestOffset(): streaming.Offset = GraftFilesOffset(listFiles())
  override def deserializeOffset(json: String): streaming.Offset =
    GraftFilesOffset.fromJson(json)

  override def planInputPartitions(start: streaming.Offset,
                                   end: streaming.Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[GraftFilesOffset].files.toSet
    end.asInstanceOf[GraftFilesOffset].files.filterNot(seen)
      .map(f => GraftFilePartition(f, full, required, delim,
        jsonl = jsonl): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(conf)
  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

private class GraftReaderFactory(conf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftFilePartition], conf.value)
}

object GraftDataSource {
  /** Spark's hidden-file convention: '_' (markers like _SUCCESS) and
    * '.' (sidecars like .crc, editor droppings) are metadata, not data. */
  def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** The data files a read covers, sorted by path: the one listing
    * behind every graft read, batch or stream, and [[firstLine]]. `path`
    * is a file, a directory (its files) or a glob (each match; a matched
    * directory gives its files). Hidden names are skipped, except a file
    * named outright. */
  def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val glob = path.exists("{}[]*?\\".contains(_))
    Option(fs.globStatus(p)).toSeq.flatten.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).filter(c => c.isFile && isDataFile(c.getPath.getName)).toSeq
      else if (glob && !isDataFile(st.getPath.getName)) Nil
      else Seq(st)
    }.sortBy(_.getPath.toString)
  }

  /** `len` bytes cut into Spark's split count, `ceil(len / maxBytes)`,
    * of equal (offset, length) ranges: lengths differ by at most one
    * byte, so no split is a remainder sliver and the slowest task of a
    * one-stage conversion carries no more than its share. */
  private[graft] def balancedRanges(len: Long, maxBytes: Long): Seq[(Long, Long)] = {
    val n = (len + maxBytes - 1) / maxBytes
    val (base, longer) = (len / n, len % n)
    (0L until n).map(i => (i * base + math.min(i, longer), base + (if (i < longer) 1L else 0L)))
  }

  /** The first non-blank line of the data files, a leading U+FEFF
    * dropped: a delimited input's header and every input's format and
    * delimiter probe. One buffered driver read, not a Spark job; an input
    * with no data file or no such line fails naming the path. */
  def firstLine(conf: Configuration, path: String): String = {
    val files = dataFiles(conf, path)
    require(files.nonEmpty, s"no data file at $path")
    files.iterator.map { st =>
      val in = GraftLineSource.open(st.getPath.getFileSystem(conf), st.getPath.toString)
      try in.nextLine() finally in.close()
    }.find(_ != null).getOrElse(
      throw new IllegalArgumentException(s"no data line in $path"))
  }

  /** The `sep` option must be exactly one character — silently taking
    * `head` would read a literally-typed "\\t" as '\\'. */
  def sepOption(options: CaseInsensitiveStringMap): Option[Char] =
    Option(options.get("sep")).map { s =>
      require(s.length == 1,
        s"graft option 'sep' must be a single character, got ${s.length}: '$s'")
      s.head
    }
}

/** Serializable per-file split: the FULL inferred schema (for token
  * positions), the pruned schema to emit, the delimiter, and the byte
  * range (`length` -1 = to EOF). */
case class GraftFilePartition(file: String, full: StructType,
                              required: StructType, delim: Char,
                              start: Long = 0L,
                              length: Long = -1L,
                              jsonl: Boolean = false)
  extends InputPartition

/** Line reader + per-value conversion through the reference kernels:
  * one row per line, and only the pruned columns are converted.
  *
  * `hadoopConf` arrives from the driver via the reader factory's
  * SerializableConfiguration (Configuration itself isn't
  * serializable), so session `spark.hadoop.*` settings — object-store
  * credentials, custom filesystems — apply executor-side. */
class GraftPartitionReader(p: GraftFilePartition, hadoopConf: Configuration)
  extends PartitionReader[InternalRow] {

  // Line source: whole-stream (gzip, or an unsplit file) or a
  // byte-range slice of an uncompressed file (see GraftLineSource.open).
  // The header — a delimited file's first non-blank line — lives in the
  // split containing offset 0 only.
  private val in = GraftLineSource.open(
    new Path(p.file).getFileSystem(hadoopConf), p.file, p.start, p.length)
  if (p.start == 0L && !p.jsonl) in.nextLine() // header (JSONL has none)

  // JSON tokenizer: top-level key -> token position in the FULL schema
  private val jsonIdx: Map[String, Int] =
    if (p.jsonl) p.full.fieldNames.zipWithIndex.toMap else Map.empty

  // pruned field -> (token position in the FULL schema, converter)
  private val fields: Array[(Int, UTF8String => Any)] =
    p.required.fields.map(f => (p.full.fieldIndex(f.name), converter(f)))

  private def converter(f: StructField): UTF8String => Any = f.dataType match {
    case BooleanType => v => CellParse.parseBool(v) match {
      case -1 => null
      case b => Boolean.box(b == 1)
    }
    case LongType =>
      val unsigned = IngestPipeline.isUnsigned(f)
      val out = new UTF8String.LongWrapper
      v => if (CellParse.parseLong(v, unsigned, out)) Long.box(out.value) else null
    case _: DecimalType => v => CellParse.parseU64Decimal(v)
    case DoubleType => v =>
      val d = CellParse.parseDouble(v)
      if (d.isNaN) null else Double.box(d)
    case DateType => v =>
      val d = CellParse.parseDateYmd(v)
      if (d == CellParse.NoDate) null else Int.box(d)
    case TimestampNTZType =>
      val seconds = IngestPipeline.tsUnitOf(f) == ScalarParse.TsSecond
      v => {
        val us = CellParse.parseTimestampMicros(v, seconds)
        if (us == CellParse.NoTimestamp) null else Long.box(us)
      }
    case _ => v => v
  }

  private var current: InternalRow = _

  /** Read a record line, tokenize it (the RFC-4180 split for delimited files,
    * the JSON tokenizer for JSONL partitions), convert the pruned fields
    * and emit the row. A count-only scan (no fields) never splits the
    * line at all. */
  override def next(): Boolean = {
    // both line sources end a line at LF, CR or CRLF, like the
    // reference's csv reader and Spark's CSV source
    val line = in.nextLine()
    if (line == null) { current = null; return false }
    if (fields.isEmpty) { current = GraftPartitionReader.emptyRow; return true }
    val tokens =
      if (p.jsonl) GraftPartitionReader.jsonFields(line, jsonIdx, p.full.length)
      else GraftPartitionReader.splitFields(line, p.delim)
    val row = new GenericInternalRow(fields.length)
    var j = 0
    while (j < fields.length) {
      val (idx, conv) = fields(j)
      val v = if (idx < tokens.length) UTF8String.fromString(tokens(idx)) else null
      row.update(j, if (v == null || CellParse.isNullToken(v)) null else conv(v))
      j += 1
    }
    current = row
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Line-at-a-time source, so the reader's row loop is agnostic to
  * whether it is draining a whole stream or a byte range of one.
  * [[nextLine]] applies the record rules every graft read shares. */
private[sources] abstract class GraftLineSource(atFileStart: Boolean) {
  protected def readLine(): String
  def close(): Unit

  private var first = atFileStart

  /** The next record line, or null at the end: a line that is empty
    * after `String.trim` is not a record (Spark's CSV source skips the
    * same lines), and a file's first line drops a leading U+FEFF, as
    * Hadoop's LineRecordReader does. */
  def nextLine(): String = {
    var line = readLine()
    if (first && line != null) {
      first = false
      if (line.startsWith("\uFEFF")) line = line.substring(1)
    }
    while (line != null && line.forall(_ <= ' ')) line = readLine()
    line
  }
}

private[sources] object GraftLineSource {
  /** A whole-stream source for gzip or an unsplit file (`length` -1),
    * else a byte-range source over `[start, start + length)`. */
  def open(fs: org.apache.hadoop.fs.FileSystem, file: String,
           start: Long = 0L, length: Long = -1L): GraftLineSource =
    if (file.endsWith(".gz") || (start == 0L && length < 0L)) {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        GraftPartitionReader.maybeDecompress(file, fs.open(new Path(file))), "UTF-8"))
      new GraftLineSource(atFileStart = true) {
        override protected def readLine(): String = r.readLine()
        override def close(): Unit = r.close()
      }
    } else new GraftRangeLineSource(fs.open(new Path(file)), start,
      if (length < 0L) Long.MaxValue else start + length)
}

/** Byte-range line reader over an uncompressed file. Uses Hadoop's
  * LineReader because it reports BYTES consumed per line (a
  * BufferedReader counts chars, which diverges from byte offsets on
  * multi-byte UTF-8) — split boundaries must be byte-exact against
  * planInputPartitions' offsets. Boundary contract: a line whose first
  * byte sits at offset o belongs to the split with start < o ≤ end
  * (first split additionally owns offset 0), so contiguous splits
  * partition the file's lines exactly. */
private[sources] final class GraftRangeLineSource(
    in: org.apache.hadoop.fs.FSDataInputStream, start: Long, end: Long)
  extends GraftLineSource(atFileStart = start == 0L) {
  in.seek(start)
  private val reader = new org.apache.hadoop.util.LineReader(in)
  private val text = new org.apache.hadoop.io.Text()
  private var pos = start
  // a non-first split lands mid-line: discard through the first
  // newline (the previous split read this line in full)
  if (start > 0L) pos += reader.readLine(text)

  override protected def readLine(): String = {
    if (pos > end) return null
    val n = reader.readLine(text)
    if (n == 0) null
    else {
      pos += n
      org.apache.hadoop.io.Text.decode(text.getBytes, 0, text.getLength)
    }
  }
  override def close(): Unit = reader.close()
}

object GraftPartitionReader {
  /** Shared zero-column row for count-only scans. */
  val emptyRow: InternalRow = new GenericInternalRow(0)

  // thread-safe factory (Jackson's documented contract); parsers are
  // per-call
  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** JSONL tokenizer — the JSON twin of [[splitFields]]: one object
    * line → raw value texts aligned to the FULL schema's positions.
    * Scalars keep their literal spelling (numbers/booleans as written),
    * nested objects/arrays capture their raw substring via token
    * offsets WITHOUT materializing their children, JSON null and
    * missing keys stay null, and a malformed line null-pads the whole
    * row (PERMISSIVE parity with the delimited path's short rows).
    * Column pruning pays off here exactly like token skipping in the
    * delimited split: values of unprojected keys are skipped, not
    * captured. */
  def jsonFields(line: String, idx: collection.Map[String, Int],
                 n: Int): Array[String] = {
    val out = new Array[String](n)
    try {
      val p = jsonFactory.createParser(line)
      try {
        if (p.nextToken() == com.fasterxml.jackson.core.JsonToken.START_OBJECT) {
          var t = p.nextToken()
          while (t == com.fasterxml.jackson.core.JsonToken.FIELD_NAME) {
            val pos = idx.getOrElse(p.currentName(), -1)
            p.nextToken() match {
              case com.fasterxml.jackson.core.JsonToken.START_OBJECT |
                   com.fasterxml.jackson.core.JsonToken.START_ARRAY =>
                val start = p.currentTokenLocation().getCharOffset
                p.skipChildren()
                val end = p.currentLocation().getCharOffset
                if (pos >= 0) out(pos) = line.substring(start.toInt, end.toInt)
              case com.fasterxml.jackson.core.JsonToken.VALUE_NULL => ()
              case _ => if (pos >= 0) out(pos) = p.getText
            }
            t = p.nextToken()
          }
        }
      } finally p.close()
    } catch {
      case _: java.io.IOException =>
        java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], null)
    }
    out
  }

  /** Compressed delimited input, by extension (how Spark's own text
    * sources pick a codec). gzip is the one big-corpus staple with a
    * JDK-native codec; a gzip member is one undividable stream, so the
    * existing file-per-partition split stays the honest unit — exactly
    * why Spark too treats .gz as unsplittable. */
  def maybeDecompress(file: String, raw: java.io.InputStream): java.io.InputStream =
    if (file.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw, 1 << 16)
    else raw

  /** RFC-4180-style field split: fields optionally double-quoted, `""`
    * escapes a quote inside a quoted field — the same single-LINE
    * grammar the reference's csv crate applies per block line (embedded
    * newlines are out of scope there too; conversion.rs feeds it line
    * blocks). Unquoted fields pass through verbatim. */
  def splitFields(line: String, delim: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder()
    var i = 0
    var inQuotes = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQuotes = false
        } else cur.append(c)
      } else if (c == '"' && cur.length() == 0) inQuotes = true
      else if (c == delim) { out += cur.toString; cur.setLength(0) }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.toArray
  }
}
