package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources
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
  * Scale behavior: uncompressed files larger than
  * `spark.sql.files.maxPartitionBytes` split into byte ranges aligned
  * to the next newline (Hadoop LineRecordReader convention — see
  * GraftRangeLineSource), so one giant TSV reads as wide as the
  * cluster; smaller files are one partition each and a directory of N
  * part files reads ≥N-wide. gzip members are undividable streams and
  * honestly stay file-per-partition. Column
  * pruning is pushed into the reader (SupportsPushDownRequiredColumns):
  * unprojected columns are never parsed, mirroring what the parquet
  * path gets from Catalyst for free.
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
    val spark = SparkSession.active
    val path = pathOf(options)
    // a JSON-object first line routes the source through the JSONL
    // reader (same content sniff as the CLI); the inference ladder and
    // every pushdown surface are shared with the delimited path
    val raw =
      if (graft.ingest.JsonlIngest.looksLikeJsonl(spark, path))
        graft.ingest.JsonlIngest.readRaw(spark, path,
          if (options.getBoolean("fullScan", false))
            graft.ingest.JsonlIngest.discoverKeysFull(spark, path)
          else graft.ingest.JsonlIngest.discoverKeys(spark, path))
      else IngestPipeline.readRaw(spark, path,
        GraftDataSource.sepOption(options)
          .getOrElse(IngestPipeline.detectDelimiter(spark, path)))
    IngestPipeline.inferSchema(raw, options.getBoolean("fullScan", false))
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

  private class GraftScanBuilder(full: StructType, path: String, delim: Char,
                                 jsonl: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters with SupportsPushDownLimit
      with SupportsPushDownTopN
      with SupportsPushDownAggregates
      with Scan with Batch
      with SupportsReportStatistics
      with SupportsRuntimeFiltering {

    private var required: StructType = full
    private var pushed: Array[sources.Filter] = Array.empty
    private var limit: Int = -1
    private var topN: Array[GraftSortKey] = Array.empty
    private var agg: Option[GraftAggSpec] = None
    private var aggSchema: StructType = _

    /** Aggregate pushdown, PARTIAL (supportCompletePushDown stays
      * false): each partition folds its file into per-group partial
      * states during the parse and emits those instead of rows; Spark's
      * final aggregate merges partitions above. `count(*)` over a huge
      * delimited corpus ships one row per (partition × group) and never
      * materializes a single record row; min/max/sum parse only the
      * aggregated column. Grouping states flush to the output every 64k
      * distinct keys — partials are mergeable, so bounded memory costs
      * nothing but a few extra rows into the final agg (the same
      * contract as Spark's own partial-aggregation fallback). AVG
      * arrives pre-rewritten as SUM+COUNT by Spark, and COUNT(DISTINCT)
      * is rejected (not partial-mergeable). */
    override def pushAggregation(aggregation: Aggregation): Boolean = {
      import org.apache.spark.sql.connector.expressions.NamedReference
      import org.apache.spark.sql.connector.expressions.aggregate._
      def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
        e match {
          case nr: NamedReference if nr.fieldNames.length == 1 =>
            full.fields.find(_.name == nr.fieldNames.head)
          case _ => None
        }
      val groupFields = aggregation.groupByExpressions.map(colOf)
      if (groupFields.exists(_.isEmpty)) return false
      val funcs = aggregation.aggregateExpressions.map {
        case _: CountStar =>
          Some((GraftAggFunc("count_star", ""), StructField("count(*)", LongType)))
        case c: Count if !c.isDistinct =>
          colOf(c.column).map(f =>
            (GraftAggFunc("count", f.name), StructField(s"count(${f.name})", LongType)))
        case m: Min =>
          colOf(m.column).map(f =>
            (GraftAggFunc("min", f.name), StructField(s"min(${f.name})", f.dataType)))
        case m: Max =>
          colOf(m.column).map(f =>
            (GraftAggFunc("max", f.name), StructField(s"max(${f.name})", f.dataType)))
        case s: Sum if !s.isDistinct =>
          colOf(s.column).collect {
            case f if f.dataType == LongType =>
              (GraftAggFunc("sum_long", f.name), StructField(s"sum(${f.name})", LongType))
            case f if f.dataType == DoubleType =>
              (GraftAggFunc("sum_double", f.name), StructField(s"sum(${f.name})", DoubleType))
          }
        case _ => None
      }
      if (funcs.exists(_.isEmpty) || funcs.isEmpty) return false
      val gf = groupFields.map(_.get)
      agg = Some(GraftAggSpec(gf.map(_.name), funcs.map(_.get._1)))
      // scan output contract: group-by columns first, then aggregates
      aggSchema = StructType(gf ++ funcs.map(_.get._2))
      true
    }

    /** LIMIT reaches the reader: each partition stops parsing after
      * `limit` surviving rows instead of scanning its file to EOF —
      * `df.limit(n)` over a huge delimited file reads ~n lines per
      * partition, not the corpus. Partial pushdown (the default): Spark
      * keeps the global limit above, the source just stops early. */
    override def pushLimit(l: Int): Boolean = { limit = l; true }

    /** Both pushdowns are PARTIAL: the source trims per partition,
      * Spark's global limit / TakeOrderedAndProject still runs above.
      * (Explicit override required: both parent traits default it.) */
    override def isPartiallyPushed(): Boolean = true

    /** ORDER BY ... LIMIT n reaches the reader as a bounded heap: each
      * partition returns only its own top-n rows (memory O(n), full
      * scan but no full materialization), and Spark's global
      * TakeOrderedAndProject merges partitions — `orderBy(x).limit(n)`
      * over a huge delimited corpus ships n rows per file, not the
      * corpus. Only direct single-column keys are pushed; anything
      * else stays with Spark (partial pushdown keeps it correct). */
    override def pushTopN(orders: Array[
        org.apache.spark.sql.connector.expressions.SortOrder],
        l: Int): Boolean = {
      import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
      val keys = orders.flatMap { o =>
        o.expression() match {
          case nr: NamedReference if nr.fieldNames.length == 1 &&
              full.fieldNames.contains(nr.fieldNames.head) =>
            Some(GraftSortKey(nr.fieldNames.head,
              o.direction() == SortDirection.ASCENDING,
              o.nullOrdering() == NullOrdering.NULLS_FIRST))
          case _ => None
        }
      }
      if (keys.length == orders.length && keys.nonEmpty) {
        topN = keys; limit = l; true
      } else false
    }

    override def pruneColumns(requiredSchema: StructType): Unit =
      // preserve our field metadata (ts unit / unsigned): prune by name
      required = StructType(requiredSchema.fieldNames.flatMap(n =>
        full.fields.find(_.name == n)))

    /** Accept every filter the reader can evaluate exactly (it runs the
      * same converters, so pushed evaluation ≡ post-scan evaluation);
      * the rest stay residual for Spark. Accepted filters are REMOVED
      * from the post-scan plan — their columns may then be pruned away
      * entirely, which is the point: a filtered graft read parses only
      * filter + projected columns and materializes only survivors. */
    override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
      val (ok, residual) = filters.partition(GraftFilterEval.supported(full, _))
      pushed = ok
      residual
    }
    override def pushedFilters(): Array[sources.Filter] = pushed

    /** Runtime (dynamic-pruning) filters: a broadcast join above this
      * scan may deliver its build-side key set at execution time; rows
      * failing it are dropped during the parse, before projection —
      * the delimited-text analogue of parquet's dynamic partition
      * pruning. Any column can receive one (per-file split means no
      * file-level pruning, so the win is parse/materialize avoidance).
      * Evaluation reuses the same kernels as planning-time pushdown,
      * so semantics are identical; unsupported predicates are ignored
      * (runtime filters are redundant with the join above). Plain-limit
      * scans skip the merge — a pushed LIMIT means no join sits
      * directly above, so a late filter must not change what the first
      * n surviving rows are. */
    override def filterAttributes():
        Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      // only the scan's OUTPUT columns — Spark resolves these against
      // the pruned projection (a runtime join key is always projected).
      // An aggregated scan emits partial states, not rows: no runtime
      // filtering (no join sits between the scan and its final agg).
      if (agg.isDefined) Array.empty
      else required.fieldNames.map(
        org.apache.spark.sql.connector.expressions.Expressions.column)

    override def filter(filters: Array[sources.Filter]): Unit = {
      val ok = filters.filter(GraftFilterEval.supported(full, _))
      if (limit < 0 || topN.nonEmpty) pushed = pushed ++ ok
    }

    override def build(): Scan = this
    override def readSchema(): StructType =
      if (agg.isDefined) aggSchema else required
    override def toBatch: Batch = this
    override def description(): String =
      s"graft $path sep='$delim' PushedFilters: ${pushed.mkString("[", ", ", "]")}" +
        (if (topN.nonEmpty)
          s" PushedTopN: ORDER BY ${topN.map(_.describe).mkString(", ")} LIMIT $limit"
        else if (limit >= 0) s" PushedLimit: $limit"
        else "") +
        agg.map(a =>
          s" PushedAggregates: ${a.funcs.map(_.describe).mkString("[", ", ", "]")}" +
            (if (a.groupBy.nonEmpty)
              s" GroupBy: ${a.groupBy.mkString("[", ", ", "]")}"
            else "")).getOrElse("")

    override def planInputPartitions(): Array[InputPartition] = {
      val spark = SparkSession.active
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val statuses =
        if (fs.getFileStatus(root).isDirectory)
          fs.listStatus(root)
            .filter(s => s.isFile && GraftDataSource.isDataFile(s.getPath.getName))
            .sortBy(_.getPath.toString)
        else Array(fs.getFileStatus(root))
      // Byte-range splits: a single giant uncompressed file must not
      // serialize onto one core. The split unit is
      // spark.sql.files.maxPartitionBytes — the same knob Spark's own
      // file sources use — with offsets aligned to the next newline
      // reader-side (Hadoop LineRecordReader convention, see
      // GraftRangeLineSource). The reference's conversion path is
      // line-based and quote-unaware (conversion.rs:197-223), so
      // newline-aligned offsets preserve its semantics. gzip members
      // are honestly unsplittable streams and stay file-per-partition.
      val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
      statuses.flatMap { st =>
        val f = st.getPath.toString
        if (f.endsWith(".gz") || st.getLen <= maxBytes)
          Seq(GraftFilePartition(f, full, required, delim, pushed, limit, topN, agg,
            jsonl = jsonl))
        else {
          val nSplits = ((st.getLen + maxBytes - 1) / maxBytes).toInt
          (0 until nSplits).map { i =>
            val off = i.toLong * maxBytes
            GraftFilePartition(f, full, required, delim, pushed, limit, topN, agg,
              off, math.min(maxBytes, st.getLen - off), jsonl = jsonl)
          }
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
        try {
          val conf = SparkSession.active.sessionState.newHadoopConf()
          val root = new Path(path)
          val fs = root.getFileSystem(conf)
          val st = fs.getFileStatus(root)
          if (st.isDirectory)
            fs.listStatus(root)
              .filter(s => s.isFile && GraftDataSource.isDataFile(s.getPath.getName))
              .map(_.getLen).sum
          else st.getLen
        } catch { case _: Exception => Long.MaxValue }
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
      * SAME reader (same kernels, same pushed filters and pruned
      * columns — Spark's V2 pushdown rules run for streaming relations
      * too). Offsets are the sorted seen-file list, so a batch is the
      * set difference of two listings: deterministic for append-only
      * feed dirs (the file-source contract; writers should stage+rename
      * like Streaming.runTwoBatchFeed does). Limit/TopN/aggregate
      * pushdown are batch-only surfaces and never reach this path. */
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new GraftMicroBatchStream(path, full, required, delim, pushed,
        new org.apache.spark.util.SerializableConfiguration(
          SparkSession.active.sessionState.newHadoopConf()), jsonl)
  }
}

/** Streaming offset: the sorted list of data files already emitted.
  * JSON is a plain string array (escaped), so checkpoint recovery
  * round-trips through deserializeOffset. A production-hardened form
  * would compact this into a file log like Spark's FileStreamSource;
  * the offset-as-listing form keeps the exactly-once set-difference
  * semantics explicit and is bounded by feed-dir file count. */
private[sources] case class GraftFilesOffset(files: Seq[String])
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.map(f => "\"" + f.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\"").mkString("[", ",", "]")
}

private[sources] object GraftFilesOffset {
  /** Minimal parser for the array-of-strings json() emits. */
  def fromJson(json: String): GraftFilesOffset = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder()
    var i = 0
    var inStr = false
    while (i < json.length) {
      val c = json.charAt(i)
      if (!inStr) { if (c == '"') { inStr = true; cur.setLength(0) } }
      else c match {
        case '"' => inStr = false; out += cur.toString
        case '\\' =>
          i += 1
          json.charAt(i) match {
            case 'u' => cur.append(Integer.parseInt(json.substring(i + 1, i + 5), 16).toChar); i += 4
            case e => cur.append(e)
          }
        case _ => cur.append(c)
      }
      i += 1
    }
    GraftFilesOffset(out.toSeq)
  }
}

private class GraftMicroBatchStream(path: String, full: StructType,
    required: StructType, delim: Char, filters: Array[sources.Filter],
    conf: org.apache.spark.util.SerializableConfiguration,
    jsonl: Boolean = false)
  extends MicroBatchStream {

  private def listFiles(): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf.value)
    val st = fs.getFileStatus(root)
    (if (st.isDirectory)
      fs.listStatus(root)
        .filter(s => s.isFile && GraftDataSource.isDataFile(s.getPath.getName))
        .map(_.getPath.toString)
    else Array(path)).sorted.toSeq
  }

  override def initialOffset(): streaming.Offset = GraftFilesOffset(Nil)
  override def latestOffset(): streaming.Offset = GraftFilesOffset(listFiles())
  override def deserializeOffset(json: String): streaming.Offset =
    GraftFilesOffset.fromJson(json)

  override def planInputPartitions(start: streaming.Offset,
                                   end: streaming.Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[GraftFilesOffset].files.toSet
    end.asInstanceOf[GraftFilesOffset].files.filterNot(seen)
      .map(f => GraftFilePartition(f, full, required, delim, filters,
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
  * positions), the pruned schema to emit, the delimiter, and the
  * filters accepted for reader-side evaluation. */
/** One pushed sort key: column, direction, null placement. */
case class GraftSortKey(col: String, asc: Boolean, nullsFirst: Boolean) {
  def describe: String =
    s"$col ${if (asc) "ASC" else "DESC"} ${if (nullsFirst) "NULLS FIRST" else "NULLS LAST"}"
}

/** One pushed aggregate function over one column ("" = count(*)). */
case class GraftAggFunc(kind: String, col: String) {
  def describe: String = kind match {
    case "count_star" => "COUNT(*)"
    case "count" => s"COUNT($col)"
    case "min" => s"MIN($col)"
    case "max" => s"MAX($col)"
    case _ => s"SUM($col)"
  }
}

/** A pushed partial aggregation: group-by columns + functions, in the
  * scan-output order Spark expects (groups first, then aggregates). */
case class GraftAggSpec(groupBy: Array[String], funcs: Array[GraftAggFunc])

case class GraftFilePartition(file: String, full: StructType,
                              required: StructType, delim: Char,
                              filters: Array[sources.Filter] = Array.empty,
                              limit: Int = -1,
                              topN: Array[GraftSortKey] = Array.empty,
                              agg: Option[GraftAggSpec] = None,
                              start: Long = 0L,
                              length: Long = -1L,
                              jsonl: Boolean = false)
  extends InputPartition

/** Line reader + per-value conversion through the reference kernels.
  * Only required columns are parsed.
  *
  * `hadoopConf` arrives from the driver via the reader factory's
  * SerializableConfiguration (Configuration itself isn't
  * serializable), so session `spark.hadoop.*` settings — object-store
  * credentials, custom filesystems — apply executor-side. The no-conf
  * constructor (defaults only) remains for direct library use. */
class GraftPartitionReader(p: GraftFilePartition,
                           hadoopConf: org.apache.hadoop.conf.Configuration)
  extends PartitionReader[InternalRow] {

  def this(p: GraftFilePartition) =
    this(p, new org.apache.hadoop.conf.Configuration())

  private val fs = new Path(p.file).getFileSystem(hadoopConf)
  // Line source: whole-stream (gzip, or an unsplit file) or a
  // byte-range slice of an uncompressed file. A split reader at
  // start > 0 discards the partial line it lands inside, and EVERY
  // split reads through the line straddling its end (which the next
  // split then discards) — the Hadoop LineRecordReader convention, so
  // contiguous splits see each line exactly once. The header lives in
  // the split containing offset 0 only.
  private val in: GraftLineSource =
    if (p.file.endsWith(".gz") || (p.start == 0L && p.length < 0L))
      new GraftStreamLineSource(new java.io.BufferedReader(
        new java.io.InputStreamReader(
          GraftPartitionReader.maybeDecompress(p.file, fs.open(new Path(p.file))),
          "UTF-8")))
    else
      new GraftRangeLineSource(fs.open(new Path(p.file)), p.start,
        if (p.length < 0L) Long.MaxValue else p.start + p.length)
  if (p.start == 0L && !p.jsonl) in.readLine() // header (JSONL has none)

  // Filter-referenced columns convert FIRST (they may not be projected
  // at all once a pushed filter's column is pruned); projected columns
  // convert only for rows that survive, so a selective pushed filter
  // skips most of the parse work — the pushdown's payoff.
  // JSON tokenizer: top-level key -> token position in the FULL schema
  private val jsonIdx: Map[String, Int] =
    if (p.jsonl) p.full.fieldNames.zipWithIndex.toMap else Map.empty

  private val filterRefs: Array[String] =
    p.filters.flatMap(_.references).distinct
  private val evalFields: Array[(Int, UTF8String => Any)] =
    filterRefs.map { n =>
      val f = p.full.fields.find(_.name == n).get
      (p.full.fieldIndex(n), converter(f))
    }
  private val evalPos: Map[String, Int] = filterRefs.zipWithIndex.toMap

  // required field -> Left(position among evalFields: value already
  // converted for the filter) or Right(token position, converter).
  // In aggregate mode `required` holds the agg OUTPUT schema, not file
  // columns — the row path is bypassed entirely.
  private val fields: Array[Either[Int, (Int, UTF8String => Any)]] =
    if (p.agg.isDefined) Array.empty
    else p.required.fields.map { f =>
      evalPos.get(f.name).map(i => Left(i): Either[Int, (Int, UTF8String => Any)])
        .getOrElse(Right((p.full.fieldIndex(f.name), converter(f))))
    }

  // pushed aggregation: converters for group-by and aggregated columns
  private val aggGroupFields: Array[(Int, UTF8String => Any)] =
    p.agg.map(_.groupBy.map { n =>
      val f = p.full.fields.find(_.name == n).get
      (p.full.fieldIndex(n), converter(f))
    }).getOrElse(Array.empty)
  private val aggInputFields: Array[(Int, UTF8String => Any)] =
    p.agg.map(_.funcs.map { fn =>
      if (fn.col.isEmpty) null
      else {
        val f = p.full.fields.find(_.name == fn.col).get
        (p.full.fieldIndex(fn.col), converter(f))
      }
    }).getOrElse(Array.empty)

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
  private var emitted: Long = 0L
  private var topIter: Iterator[InternalRow] = _

  // pushed topN: converters for the sort-key columns
  private val sortFields: Array[(Int, UTF8String => Any)] =
    p.topN.map { k =>
      val f = p.full.fields.find(_.name == k.col).get
      (p.full.fieldIndex(k.col), converter(f))
    }
  private val topNMode = sortFields.nonEmpty && p.limit >= 0

  /** One line -> raw field texts at FULL-schema positions: the
    * RFC-4180 split for delimited files, the JSON tokenizer for JSONL
    * partitions. Shared by the row, top-N, and aggregate paths. */
  private def tokenize(line: String): Array[String] =
    if (p.jsonl) GraftPartitionReader.jsonFields(line, jsonIdx, p.full.length)
    else GraftPartitionReader.splitFields(line, p.delim)

  private def convertToken(tokens: Array[String], idx: Int,
                           conv: UTF8String => Any): Any = {
    val v = if (idx < tokens.length) UTF8String.fromString(tokens(idx)) else null
    if (v == null || CellParse.isNullToken(v)) null else conv(v)
  }

  // count(*)-style scans (no projected columns, no filters) need only
  // the LINE, never its fields — skip the quote-aware split entirely
  private val needsTokens =
    fields.nonEmpty || evalFields.nonEmpty || sortFields.nonEmpty ||
      aggGroupFields.nonEmpty || aggInputFields.exists(_ != null)

  /** Advance to the next filter-surviving line: (projected row, sort
    * key or null). Null at EOF. */
  private def readSurviving(): (InternalRow, Array[Any]) = {
    while (true) {
      val raw = in.readLine()
      if (raw == null) return null
      if (!needsTokens) return (GraftPartitionReader.emptyRow, null)
      // readLine strips \n but keeps a CRLF file's \r — drop it, like
      // the reference's csv reader (and Spark's CSV source) do
      val line = if (raw.nonEmpty && raw.last == '\r') raw.dropRight(1) else raw
      val tokens = tokenize(line)
      val evalVals = new Array[Any](evalFields.length)
      var i = 0
      while (i < evalFields.length) {
        val (idx, conv) = evalFields(i)
        evalVals(i) = convertToken(tokens, idx, conv)
        i += 1
      }
      val pass = p.filters.forall(f =>
        GraftFilterEval.eval(f, p.full, n => evalVals(evalPos(n))).contains(true))
      if (pass) {
        val row = new GenericInternalRow(fields.length)
        var j = 0
        while (j < fields.length) {
          row.update(j, fields(j) match {
            case Left(ei) => evalVals(ei)
            case Right((idx, conv)) => convertToken(tokens, idx, conv)
          })
          j += 1
        }
        val key =
          if (sortFields.isEmpty) null
          else sortFields.map { case (idx, conv) => convertToken(tokens, idx, conv) }
        return (row, key)
      }
    }
    null // unreachable
  }

  /** Result-order comparison of two sort keys per the pushed spec.
    * Null placement is already absolute in Spark's SortOrder (NULLS
    * FIRST = first in the result), so only the non-null comparison
    * flips with direction. */
  private def cmpKey(a: Array[Any], b: Array[Any]): Int = {
    var i = 0
    while (i < p.topN.length) {
      val k = p.topN(i)
      val x = a(i); val y = b(i)
      val c =
        if (x == null && y == null) 0
        else if (x == null) { if (k.nullsFirst) -1 else 1 }
        else if (y == null) { if (k.nullsFirst) 1 else -1 }
        else {
          val base = x.asInstanceOf[Comparable[Any]].compareTo(y)
          if (k.asc) base else -base
        }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Bounded-heap top-n over the surviving rows: O(limit) memory, one
    * pass over the file; rows emit in result order (Spark's global
    * TakeOrderedAndProject merges partitions above). */
  private def buildTopN(): Iterator[InternalRow] = {
    val pq = new java.util.PriorityQueue[(Array[Any], InternalRow)](
      math.max(1, p.limit),
      // reversed: the heap head is the WORST kept row, evicted first
      (u, v) => cmpKey(v._1, u._1))
    var rec = readSurviving()
    while (rec != null) {
      val (row, key) = rec
      if (pq.size < p.limit) pq.add((key, row))
      else if (p.limit > 0 && cmpKey(key, pq.peek()._1) < 0) {
        pq.poll(); pq.add((key, row))
      }
      rec = readSurviving()
    }
    val out = new Array[InternalRow](pq.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = pq.poll()._2; i -= 1 }
    out.iterator
  }

  // ── pushed partial aggregation ─────────────────────────────────────
  // Fold the file into per-group states during the parse; emit states,
  // not rows. Group maps flush every 64k distinct keys — partials are
  // mergeable, so bounded memory just hands Spark's final aggregate a
  // few extra rows. A global (no-group) aggregate always emits exactly
  // one partial row, even over an empty / fully-filtered file, so the
  // final SUM-of-partials sees SQL's one-row-per-partition contract.
  private val AggFlushGroups = 1 << 16
  private var aggDone = false
  private var aggPending: Iterator[InternalRow] = Iterator.empty

  private def aggStateNew(): Array[Any] =
    p.agg.get.funcs.map(f =>
      if (f.kind.startsWith("count")) Long.box(0L) else (null: Any))

  private def aggRender(acc: collection.Map[List[Any], Array[Any]]): Iterator[InternalRow] =
    acc.iterator.map { case (key, st) =>
      val row = new GenericInternalRow(key.length + st.length)
      var i = 0
      key.foreach { v => row.update(i, v); i += 1 }
      st.foreach { v => row.update(i, v); i += 1 }
      row
    }

  /** Read (a chunk of) the file into group states; sets aggPending.
    * Returns early on a full group map; resumes from the same stream
    * position on the next call. */
  private def aggFill(): Unit = {
    val spec = p.agg.get
    val acc = scala.collection.mutable.LinkedHashMap.empty[List[Any], Array[Any]]
    var raw = in.readLine()
    while (raw != null) {
      val line = if (raw.nonEmpty && raw.last == '\r') raw.dropRight(1) else raw
      val tokens = if (needsTokens) tokenize(line) else null
      val evalVals = new Array[Any](evalFields.length)
      var i = 0
      while (i < evalFields.length) {
        val (idx, conv) = evalFields(i)
        evalVals(i) = convertToken(tokens, idx, conv)
        i += 1
      }
      val pass = p.filters.forall(f =>
        GraftFilterEval.eval(f, p.full, n => evalVals(evalPos(n))).contains(true))
      if (pass) {
        val key = aggGroupFields.map { case (idx, conv) =>
          convertToken(tokens, idx, conv)
        }.toList
        val st = acc.getOrElseUpdate(key, aggStateNew())
        var j = 0
        while (j < spec.funcs.length) {
          spec.funcs(j).kind match {
            case "count_star" =>
              st(j) = Long.box(st(j).asInstanceOf[Long] + 1L)
            case "count" =>
              val (idx, conv) = aggInputFields(j)
              if (convertToken(tokens, idx, conv) != null)
                st(j) = Long.box(st(j).asInstanceOf[Long] + 1L)
            case "min" =>
              val (idx, conv) = aggInputFields(j)
              val v = convertToken(tokens, idx, conv)
              if (v != null && (st(j) == null ||
                  v.asInstanceOf[Comparable[Any]].compareTo(st(j)) < 0)) st(j) = v
            case "max" =>
              val (idx, conv) = aggInputFields(j)
              val v = convertToken(tokens, idx, conv)
              if (v != null && (st(j) == null ||
                  v.asInstanceOf[Comparable[Any]].compareTo(st(j)) > 0)) st(j) = v
            case "sum_long" =>
              val (idx, conv) = aggInputFields(j)
              val v = convertToken(tokens, idx, conv)
              if (v != null) {
                val base = if (st(j) == null) 0L else st(j).asInstanceOf[Long]
                st(j) = Long.box(base + v.asInstanceOf[Long])
              }
            case "sum_double" =>
              val (idx, conv) = aggInputFields(j)
              val v = convertToken(tokens, idx, conv)
              if (v != null) {
                val base = if (st(j) == null) 0.0 else st(j).asInstanceOf[Double]
                st(j) = Double.box(base + v.asInstanceOf[Double])
              }
          }
          j += 1
        }
        if (spec.groupBy.nonEmpty && acc.size >= AggFlushGroups) {
          aggPending = aggRender(acc)
          return
        }
      }
      raw = in.readLine()
    }
    aggDone = true
    if (spec.groupBy.isEmpty && acc.isEmpty) acc.put(Nil, aggStateNew())
    aggPending = aggRender(acc)
  }

  override def next(): Boolean = {
    if (p.agg.isDefined) {
      while (!aggPending.hasNext && !aggDone) aggFill()
      if (aggPending.hasNext) { current = aggPending.next(); return true }
      current = null; return false
    }
    if (topNMode) {
      if (topIter == null) topIter = buildTopN()
      if (topIter.hasNext) { current = topIter.next(); return true }
      current = null; return false
    }
    // pushed limit: stop reading the file once this partition has
    // produced enough surviving rows (Spark's global limit sits above)
    if (p.limit >= 0 && emitted >= p.limit) { current = null; return false }
    val rec = readSurviving()
    if (rec == null) { current = null; false }
    else { current = rec._1; emitted += 1; true }
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Minimal line-at-a-time abstraction so the reader's parse loops are
  * agnostic to whether they are draining a whole stream or a byte
  * range of one. */
private[sources] trait GraftLineSource {
  def readLine(): String
  def close(): Unit
}

private[sources] final class GraftStreamLineSource(r: java.io.BufferedReader)
  extends GraftLineSource {
  override def readLine(): String = r.readLine()
  override def close(): Unit = r.close()
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
  extends GraftLineSource {
  in.seek(start)
  private val reader = new org.apache.hadoop.util.LineReader(in)
  private val text = new org.apache.hadoop.io.Text()
  private var pos = start
  // a non-first split lands mid-line: discard through the first
  // newline (the previous split read this line in full)
  if (start > 0L) pos += reader.readLine(text)

  override def readLine(): String = {
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
