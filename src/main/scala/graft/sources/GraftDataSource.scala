package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, JoinedRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CellParse
import graft.ingest.{CastKernel, IngestPipeline}

/** `spark.read.format("graft").load(path)` — the conversion pipeline as
  * a first-class DataSourceV2 source: delimiter detection + reference
  * schema inference happen at planning time (TableProvider.inferSchema),
  * and the typed conversion happens inside the source's partition
  * readers, so a user gets reference-typed rows from ONE read with no
  * intermediate all-string frame. A user schema (`.schema(...)`) may use
  * exactly the types inference produces; any other type fails at scan
  * planning, naming the column.
  *
  * The scan is a plain typed scan. It takes column pruning
  * (SupportsPushDownRequiredColumns: unprojected columns are never
  * converted) and reports file bytes (SupportsReportStatistics, so a
  * small graft read can broadcast). Filters, limits, top-N and
  * aggregates are Spark's own operators above it.
  *
  * It is the one tokenizer and the one typed build of the ingest path:
  * the all-string reads, the typed reads, the streams and the CLI all
  * read through it. A path (file, directory or glob) is listed by
  * [[GraftDataSource.dataFiles]]; a line empty after `String.trim` is not
  * a record, each delimited file's first non-blank line is its header,
  * and a file's leading U+FEFF is dropped.
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
  * Each row of tokens types through `CastKernel.castTo` of every read
  * field, evaluated as one `UnsafeProjection` (null tokens, the one trim
  * rule, s-unit truncation and the u64 policy all live in
  * [[graft.functions.CellParse]]); IngestPathsSpec pins the reader, the
  * CLI, the stream and the JSONL route against each other.
  *
  * One metadata column, `_graft_failed: array<int>`, holds the schema
  * positions of the row's cells that were present, were not a null
  * token and failed their cast; it is null when there are none (the
  * reference's per-column error atomics, analyse.rs:15-23, as a per-row
  * column Spark counts, like `_corrupt_record`). Only a query that
  * selects it pays for it, and such a scan types every field.
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
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns {
    override def name(): String = s"graft(${pathOf(options)})"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
    override def metadataColumns(): Array[MetadataColumn] = Array(GraftDataSource.FailedColumn)
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

    // the typed build, planned here on the driver: an unsupported field
    // type fails scan planning
    private val casts = GraftDataSource.castExprs(full)
    private var required: StructType = full
    private var failed = false

    override def pruneColumns(requiredSchema: StructType): Unit = {
      failed = requiredSchema.fieldNames.contains(GraftDataSource.FailedField.name) &&
        !full.fieldNames.contains(GraftDataSource.FailedField.name)
      // preserve our field metadata (ts unit / unsigned): prune by name;
      // the failure column covers the whole row, so a scan reading it
      // types and returns every field
      required = if (failed) full else StructType(requiredSchema.fieldNames.flatMap(n =>
        full.fields.find(_.name == n)))
    }

    override def build(): Scan = this
    override def readSchema(): StructType =
      if (failed) required.add(GraftDataSource.FailedField) else required
    override def toBatch: Batch = this
    override def description(): String =
      s"graft $path sep='$delim' ReadSchema: ${readSchema().catalogString}"

    private def split(file: String, start: Long = 0L, length: Long = -1L): InputPartition =
      GraftFilePartition(file, full, required, delim, start, length, jsonl, casts, failed)

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
        if (f.endsWith(".gz") || st.getLen <= maxBytes) Seq(split(f))
        else GraftDataSource.balancedRanges(st.getLen, maxBytes).map { case (off, len) =>
          split(f, off, len)
        }
      }.toArray
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
      new GraftMicroBatchStream(path, split(_), new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))
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

private class GraftMicroBatchStream(path: String, split: String => InputPartition,
    conf: org.apache.spark.util.SerializableConfiguration)
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
    end.asInstanceOf[GraftFilesOffset].files.filterNot(seen).map(split).toArray
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

  /** The first `n` record lines of the data files, in file-name order,
    * under the reader's record rules ([[isRecord]], a file's leading
    * U+FEFF dropped): the JSONL key sample. Buffered driver reads, not a
    * Spark job; an input with no data file fails naming the path. */
  def firstLines(conf: Configuration, path: String, n: Int): Seq[String] = {
    val files = dataFiles(conf, path)
    require(files.nonEmpty, s"no data file at $path")
    files.foldLeft(Vector.empty[String]) { (lines, st) =>
      if (lines.length >= n) lines
      else {
        val in = GraftLineSource.open(st.getPath.getFileSystem(conf), st.getPath.toString)
        try lines ++ Iterator.continually(in.nextLine()).takeWhile(_ != null).take(n - lines.length)
        finally in.close()
      }
    }
  }

  /** The first record line: a delimited input's header and every input's
    * format and delimiter probe. An input with no such line fails naming
    * the path. */
  def firstLine(conf: Configuration, path: String): String =
    firstLines(conf, path, 1).headOption.getOrElse(
      throw new IllegalArgumentException(s"no data line in $path"))

  /** A line is a record unless it is empty after `String.trim` (Spark's
    * CSV source skips the same lines). */
  def isRecord(line: String): Boolean = !line.forall(_ <= ' ')

  /** The `_graft_failed` metadata column (see the class doc). */
  val FailedField: StructField =
    StructField("_graft_failed", ArrayType(IntegerType, containsNull = false))

  private[sources] object FailedColumn extends MetadataColumn {
    override def name(): String = FailedField.name
    override def dataType(): DataType = FailedField.dataType
  }

  /** The typed build of `full`'s rows: per field, `CastKernel.castTo`
    * over its token, the string at the field's position in a row of
    * tokens. Throws on a type `castTo` does not take. */
  private[sources] def castExprs(full: StructType): Seq[Expression] =
    full.fields.toSeq.zipWithIndex.map { case (f, i) =>
      ColumnBridge.expression(CastKernel.castTo(
        ColumnBridge.column(BoundReference(i, StringType, nullable = true)), f))
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

/** Serializable per-file split: the FULL schema (for token positions),
  * the pruned schema to emit, the delimiter, the byte range (`length` -1
  * = to EOF), the typed build of the full schema ([[GraftDataSource.castExprs]])
  * and whether to append the failure column. */
case class GraftFilePartition(file: String, full: StructType,
                              required: StructType, delim: Char,
                              start: Long, length: Long, jsonl: Boolean,
                              casts: Seq[Expression], failed: Boolean)
  extends InputPartition

/** Line reader + typed build: one row per record line, and only the
  * pruned columns are typed (every column when the failure column is
  * read).
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

  // the typed fields' token positions, the row of tokens (slot = position
  // in the FULL schema) and their casts as one projection
  private val typedAt: Array[Int] = p.required.fieldNames.map(p.full.fieldIndex)
  private val tokens = new GenericInternalRow(p.full.length)
  private val typed = UnsafeProjection.create(typedAt.toSeq.map(p.casts))
  private val failedRow = new GenericInternalRow(1)
  private val withFailed = new JoinedRow()
  private val failedAt = new Array[Int](typedAt.length)

  private var current: InternalRow = _

  /** Read a record line, tokenize it (the RFC-4180 split for delimited files,
    * the JSON tokenizer for JSONL partitions), type the read fields and
    * emit the row. A count-only scan (no fields, no failure column)
    * never splits the line at all. */
  override def next(): Boolean = {
    // both line sources end a line at LF, CR or CRLF, like the
    // reference's csv reader and Spark's CSV source
    val line = in.nextLine()
    if (line == null) { current = null; return false }
    if (typedAt.nonEmpty) {
      val toks =
        if (p.jsonl) GraftPartitionReader.jsonFields(line, jsonIdx, p.full.length)
        else GraftPartitionReader.splitFields(line, p.delim)
      typedAt.foreach(i => tokens.update(i, if (i < toks.length) UTF8String.fromString(toks(i)) else null))
    }
    val row = typed(tokens)
    current = if (p.failed) withFailed(row, failures(row)) else row
    true
  }

  /** The failure column of typed `row`: the positions of the cells whose
    * cast is null though their token is present and not a null token. */
  private def failures(row: InternalRow): InternalRow = {
    var n = 0
    var k = 0
    while (k < typedAt.length) {
      if (row.isNullAt(k)) {
        val t = tokens.getUTF8String(typedAt(k))
        if (t != null && !CellParse.isNullToken(t)) { failedAt(n) = typedAt(k); n += 1 }
      }
      k += 1
    }
    failedRow.update(0,
      if (n == 0) null else UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(failedAt, n)))
    failedRow
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

  /** The next record line ([[GraftDataSource.isRecord]]), or null at the
    * end; a file's first line drops a leading U+FEFF, as Hadoop's
    * LineRecordReader does. */
  def nextLine(): String = {
    var line = readLine()
    if (first && line != null) {
      first = false
      if (line.startsWith("\uFEFF")) line = line.substring(1)
    }
    while (line != null && !GraftDataSource.isRecord(line)) line = readLine()
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
