package graft.ingest

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{GraftDataSource, GraftPartitionReader}

/** The reference's end-to-end conversion pipeline (O1–O13,
  * /root/reference/src/conversion.rs) re-expressed Spark-first:
  *
  *  - delimiter pre-pass: first line only (utils.rs:120-137) — a driver
  *    read of one line, regardless of file size;
  *  - schema inference: bounded 1,000-row sample by default
  *    (schema.rs:11) via `limit(n).collect` (tiny, exact), or a
  *    distributed per-partition stats fold for full-file mode — the
  *    stats monoid is exactly Spark's partial+final aggregation shape;
  *  - conversion: ONE typed `format("graft")` scan with the inferred
  *    schema: the reader tokenizes each line and types its cells through
  *    `CastKernel.castTo` (the reference's typed builders,
  *    analyse.rs:108-313). The graft tokenizer is the only text parser
  *    on the ingest path (the reference's one parser set,
  *    conversion.rs:197-223). The reference's producer/worker/writer
  *    thread topology, block sizing, reorder buffer and backpressure all
  *    collapse into Spark's scan partitioning;
  *  - sink: one ZSTD-5 parquet file of per-split, block-bounded row
  *    groups in split order (`writeParquetSingleFile`: each task encodes
  *    its own, the driver appends them; conversion.rs:159-195).
  *
  * At 100 TB the same plan holds: the scan splits by Spark's file-source
  * split size (`FilePartition.maxSplitBytes`) and each split types its
  * own rows (no shuffle anywhere). A distributed sink is
  * a plain `df.write.options(writerOptions(n)).parquet(dir)`: one file
  * per task instead of the reference's single ordered file (its BTreeMap
  * reorder buffer is a single-writer artifact; order-insensitive
  * verification is the distributed contract — SURVEY §7.4.4).
  */
object IngestPipeline {

  /** O2: count candidate delimiters on the input's first line — one
    * buffered driver read of one line, not a Spark job. */
  def detectDelimiter(spark: SparkSession, path: String): Char =
    ScalarParse.detectDelimiter(
      GraftDataSource.firstLine(spark.sessionState.newHadoopConf(), path))

  /** Raw all-string read through the graft tokenizer: no inference (its
    * rules live in [[inferSchema]]), PERMISSIVE like the reference
    * (analyse.rs:41-106: short rows null-pad, long rows drop extras,
    * `""` escapes a quote) and null tokens already null. The column
    * names come from the header, split on the driver by [[headerNames]]. */
  def readRaw(spark: SparkSession, path: String, delimiter: Char): DataFrame = {
    val header = GraftPartitionReader.splitFields(
      GraftDataSource.firstLine(spark.sessionState.newHadoopConf(), path), delimiter)
    spark.read.format("graft").option("sep", delimiter.toString)
      .schema(allString(headerNames(header, spark.sessionState.conf.caseSensitiveAnalysis)))
      .load(path)
  }

  /** Column names from header cells, by Spark's CSV header rule so names
    * stay what they were: an empty cell is `_c<i>`, and a name repeated
    * (case-insensitively unless the session is case-sensitive) takes its
    * position as a suffix — `a, A, "", a` → `a0, A1, _c2, a3`. */
  private[graft] def headerNames(cells: Seq[String], caseSensitive: Boolean): Seq[String] = {
    def key(c: String) = if (caseSensitive) c else c.toLowerCase(java.util.Locale.ROOT)
    val repeated = cells.filter(_.nonEmpty).groupBy(key).filter(_._2.size > 1).keySet
    cells.zipWithIndex.map { case (c, i) =>
      if (c.isEmpty) s"_c$i" else if (repeated(key(c))) s"$c$i" else c
    }
  }

  /** The all-string frame of any ingest input, and whether it is JSONL:
    * a JSON-object first line routes it through key discovery and the
    * JSON tokenizer; anything else is delimited text split on `sep`, else
    * on the detected delimiter. */
  def readRawAny(spark: SparkSession, path: String, fullScan: Boolean,
                 sep: Option[Char] = None): (DataFrame, Boolean) =
    if (JsonlIngest.looksLikeJsonl(spark, path))
      (JsonlIngest.readRaw(spark, path,
        if (fullScan) JsonlIngest.discoverKeysFull(spark, path)
        else JsonlIngest.discoverKeys(spark, path)), true)
    else (readRaw(spark, path, sep.getOrElse(detectDelimiter(spark, path))), false)

  private[ingest] def allString(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  /** O3–O5: infer per-column types. Default: bounded 1,000-row sample
    * (MAX_LIGNES_INFERENCE, schema.rs:11) collected to the driver — the
    * sample is tiny by construction, so driver-side pure-Scala stats are
    * both exact and cheap. Full-scan mode distributes the same monoid as
    * a per-partition fold + tree reduce (no row ever leaves its
    * partition; only ~15 counters per column shuffle).
    */
  def inferStats(raw: DataFrame, fullScan: Boolean, sampleRows: Int = 1000): Seq[ColStats] = {
    val nCols = raw.columns.length
    if (!fullScan) {
      val sample = raw.limit(sampleRows).collect()
      sample.foldLeft(Seq.fill(nCols)(ColStats.empty)) { (acc, row) =>
        acc.zipWithIndex.map { case (st, i) =>
          val v = row.get(i)
          if (v == null) st else st.observe(v.toString)
        }
      }
    } else {
      raw.rdd
        .mapPartitions { rows =>
          val acc = Array.fill(nCols)(ColStats.empty)
          rows.foreach { row =>
            var i = 0
            while (i < nCols) {
              val v = row.get(i)
              if (v != null) acc(i) = acc(i).observe(v.toString)
              i += 1
            }
          }
          Iterator.single(acc)
        }
        .treeReduce((a, b) => a.zip(b).map { case (x, y) => x.merge(y) }, depth = 2)
        .toSeq
    }
  }

  /** Inferred schema with every field nullable (O6, conversion.rs:249-257)
    * and the reference's timestamp-unit vote kept as field metadata. */
  def inferSchema(raw: DataFrame, fullScan: Boolean): StructType = {
    val stats = inferStats(raw, fullScan)
    StructType(raw.columns.zip(stats).map { case (name, st) =>
      val ref = TypeDecision.decideRef(st)
      val dt = TypeDecision.sparkType(ref, st)
      val mdb = new MetadataBuilder()
      if (dt == TimestampNTZType)
        mdb.putString("graft.timestampUnit", TypeDecision.timestampUnit(st).toString)
      // Spark collapses reference-UInt64 → LongType, which would silently
      // route conversion through the signed kernel (keeping negatives the
      // reference's u64 parse nulls, analyse.rs:146-162). Carry the
      // unsignedness as field metadata so castTo picks toUnsignedLong.
      if (dt == LongType && ref == "UInt64")
        mdb.putBoolean("graft.unsigned", true)
      StructField(name, dt, nullable = true, mdb.build())
    })
  }

  private[graft] def isUnsigned(f: StructField): Boolean =
    f.metadata.contains("graft.unsigned") && f.metadata.getBoolean("graft.unsigned")

  private[graft] def tsUnitOf(f: StructField): ScalarParse.TsUnit =
    if (f.metadata.contains("graft.timestampUnit"))
      f.metadata.getString("graft.timestampUnit") match {
        case "TsSecond" => ScalarParse.TsSecond
        case "TsMicro" => ScalarParse.TsMicro
        case "TsNano" => ScalarParse.TsNano
        case _ => ScalarParse.TsMilli
      }
    else ScalarParse.TsMilli

  /** O10/O11 over an already-read all-string frame: one projection of
    * `CastKernel.castTo` Column casts. The ingest reads type inside the
    * graft reader instead; this form serves frames from elsewhere. */
  def applySchema(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(schema.fields.toSeq.map(f => CastKernel.castTo(col(f.name), f).as(f.name)): _*)

  /** Full pipeline: delimited text file → typed DataFrame, one typed
    * graft read with the inferred schema. */
  def convert(spark: SparkSession, path: String, fullScan: Boolean = false,
              delimiter: Option[Char] = None): DataFrame = {
    val d = delimiter.getOrElse(detectDelimiter(spark, path))
    spark.read.format("graft").option("sep", d.toString)
      .schema(inferSchema(readRaw(spark, path, d), fullScan)).load(path)
  }

  /** Streaming form of the pipeline (beyond the reference, which fully
    * buffers even stdin — main.rs:102-120): schema is inferred ONCE from
    * the files already present (streams can't be sampled retroactively),
    * then new files arriving in the directory flow through the same typed
    * graft reader continuously. Pair with `writeStream.format("parquet")` +
    * checkpointing for an incremental tabular→parquet ingest service.
    *
    * RESTART CONTRACT: pass the first run's `schema` when resuming from
    * a checkpoint. Re-inferring from the (now larger) directory can
    * decide different types — e.g. a later file's bad cell demotes a
    * numeric column to string — and a typed sink written across both
    * runs would then hold irreconcilable parquet types. A real service
    * reads the schema back from its own sink (parquet footers) or a
    * schema registry; StreamingSpec's e2e case pins this behavior. */
  def convertStream(spark: SparkSession, path: String,
                    delimiter: Option[Char] = None,
                    schema: Option[StructType] = None): DataFrame = {
    val d = delimiter.getOrElse(detectDelimiter(spark, path))
    val pinned = schema.getOrElse(inferSchema(readRaw(spark, path, d), fullScan = false))
    spark.readStream.format("graft").option("sep", d.toString).schema(pinned).load(path)
  }

  /** O9: the reference's adaptive block sizing (conversion.rs:52-58) —
    * 250k rows for narrow tables, 150k to 50 columns, 5k beyond — reused
    * here as the parquet row-group row limit, its closest durable
    * artifact (the reference sets max_row_group_size = block size,
    * conversion.rs:169). */
  def rowGroupRows(nCols: Int): Int =
    if (nCols <= 20) 250000 else if (nCols <= 50) 150000 else 5000

  /** O13 writer properties: ZSTD level 5 + row-group rows = block size
    * (conversion.rs:167-170). Passed as per-write options — Spark merges
    * them into the job's Hadoop conf, so no session/global mutation. */
  def writerOptions(nCols: Int): Map[String, String] = Map(
    "compression" -> "zstd",
    "parquet.compression.codec.zstd.level" -> "5",
    "parquet.block.row.count.limit" -> rowGroupRows(nCols).toString)

  /** A single parquet FILE at `out` (not a directory), holding `df`'s
    * rows in partition order. Each task encodes its own part file (its
    * row groups bounded by [[writerOptions]]); the parts' row groups are
    * then appended into one file by byte copy, in task-partition order
    * ([[concatParquet]]: no re-encoding, page indexes kept). That is the
    * order `coalesce(1)` would concatenate partitions in, without
    * funnelling every row through one task. A lone part file is just
    * renamed onto the target. Layout parity with the reference's
    * ArrowWriter output: one file, ZSTD-5, block-bounded row groups. */
  def writeParquetSingleFile(df: DataFrame, out: String): Unit = {
    val tmpDir = out + ".graft-tmp"
    df.write.mode("overwrite").options(writerOptions(df.columns.length)).parquet(tmpDir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val tmpPath = new Path(tmpDir)
    val fs = tmpPath.getFileSystem(conf)
    val parts = partOrder(
      fs.listStatus(tmpPath).map(_.getPath).filter(_.getName.startsWith("part-")).toSeq)
    require(parts.nonEmpty, s"the parquet write to $tmpDir left no part file")
    val single =
      if (parts.length == 1) parts.head
      else {
        val joined = new Path(tmpPath, "_joined.parquet")
        concatParquet(parts, joined, conf)
        joined
      }
    val target = new Path(out)
    if (fs.exists(target)) fs.delete(target, false)
    fs.rename(single, target)
    fs.delete(tmpPath, true)
  }

  private val PartName = """part-(\d+)-.*-c(\d+)(?:\..*)?""".r

  /** Spark's part files (`part-<task>-<job uuid>-c<nnn>.<ext>`) in write
    * order: by numeric task partition id, then by the task's file
    * counter. Name order would put `part-100000` before `part-99999`. */
  private[graft] def partOrder(parts: Seq[Path]): Seq[Path] =
    parts.map { p =>
      p.getName match {
        case PartName(task, file) => ((task.toLong, file.toLong), p)
        case other => throw new IllegalStateException(s"unexpected part file name: $other")
      }
    }.sortBy(_._1).map(_._2)

  /** Append every row group of `parts`, in order, into one new parquet
    * file at `out`: each column chunk is copied as bytes, with its bloom
    * filter, column index and offset index (the offsets rebased), under
    * the first part's key-value metadata (Spark's row schema). The parts
    * must share one parquet schema. */
  private[graft] def concatParquet(parts: Seq[Path], out: Path, conf: Configuration): Unit = {
    val inputs = parts.map(HadoopInputFile.fromPath(_, conf))
    val meta = Using.resource(ParquetFileReader.open(inputs.head))(_.getFooter.getFileMetaData)
    val schema = meta.getSchema
    Using.resource(new ParquetFileWriter(HadoopOutputFile.fromPath(out, conf), schema,
      ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE, 0, null,
      ParquetProperties.builder().build())) { writer =>
      writer.start()
      inputs.foreach { in =>
        Using.resources(ParquetFileReader.open(in), in.newStream()) { (reader, from) =>
          require(reader.getFooter.getFileMetaData.getSchema == schema,
            s"part ${in.getPath} has a different parquet schema than ${inputs.head.getPath}")
          reader.getFooter.getBlocks.asScala.foreach { block =>
            writer.startBlock(block.getRowCount)
            block.getColumns.asScala.foreach { chunk =>
              writer.appendColumnChunk(schema.getColumnDescription(chunk.getPath.toArray),
                from, chunk, reader.readBloomFilter(chunk), reader.readColumnIndex(chunk),
                reader.readOffsetIndex(chunk))
            }
            writer.endBlock()
          }
        }
      }
      writer.end(meta.getKeyValueMetaData)
    }
  }
}
