package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's end-to-end conversion pipeline (O1–O13,
  * /root/reference/src/conversion.rs) re-expressed Spark-first:
  *
  *  - delimiter pre-pass: first line only (utils.rs:120-137) — a driver
  *    read of one line, regardless of file size;
  *  - schema inference: bounded 1,000-row sample by default
  *    (schema.rs:11) via `limit(n).collect` (tiny, exact), or a
  *    distributed per-partition stats fold for full-file mode — the
  *    stats monoid is exactly Spark's partial+final aggregation shape;
  *  - conversion: ONE all-string CSV scan + a `select` of codegen'd cast
  *    expressions (CastKernel). The reference's producer/worker/writer
  *    thread topology, block sizing, reorder buffer and backpressure all
  *    collapse into Spark's scan partitioning + whole-stage codegen;
  *  - sink: ZSTD parquet (the reference writes ZSTD level 5 —
  *    conversion.rs:167-170).
  *
  * At 100 TB the same plan holds: the scan splits by
  * `spark.sql.files.maxPartitionBytes`, casts are per-partition
  * codegen'd projections (no shuffle anywhere), and the sink writes one
  * file per task instead of the reference's single ordered file (its
  * BTreeMap reorder buffer is a single-writer artifact; order-insensitive
  * verification is the distributed contract — SURVEY §7.4.4).
  */
object IngestPipeline {

  /** O2: read the first line of the file, count candidate delimiters.
    * Uses Hadoop FS so it works on any supported filesystem, reading at
    * most one buffered line — not a Spark job. */
  def detectDelimiter(spark: SparkSession, path: String): Char = {
    val p0 = new org.apache.hadoop.fs.Path(path)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a directory of part files delimits like its first data file
    val p = if (fs.getFileStatus(p0).isDirectory)
      fs.listStatus(p0)
        .filter(s => s.isFile && graft.sources.GraftDataSource.isDataFile(s.getPath.getName))
        .map(_.getPath).minBy(_.getName.toString)
    else p0
    val in = graft.sources.GraftPartitionReader.maybeDecompress(
      p.getName, fs.open(p))
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      ScalarParse.detectDelimiter(Option(reader.readLine()).getOrElse(""))
    } finally in.close()
  }

  /** Raw all-string read: header on, no Spark inference (its rules differ
    * from the reference's — SURVEY §4.2), PERMISSIVE so short rows
    * null-pad and bad rows never abort (analyse.rs:41-106 parity). */
  def readRaw(spark: SparkSession, path: String, delimiter: Char): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", delimiter.toString)
      .option("mode", "PERMISSIVE")
      .option("inferSchema", "false")
      // RFC-4180 "" doubling like the reference's csv crate (Spark's
      // default escape is backslash, which the reference does not use)
      .option("escape", "\"")
      .csv(path)

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
      val dt = TypeDecision.decide(st)
      val mdb = new MetadataBuilder()
      if (dt == TimestampNTZType)
        mdb.putString("graft.timestampUnit", TypeDecision.timestampUnit(st).toString)
      // Spark collapses reference-UInt64 → LongType, which would silently
      // route conversion through the signed kernel (keeping negatives the
      // reference's u64 parse nulls, analyse.rs:146-162). Carry the
      // unsignedness as field metadata so castTo picks toUnsignedLong.
      if (dt == LongType && TypeDecision.decideRef(st) == "UInt64")
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

  /** O10/O11: typed conversion — one projection of cast expressions. */
  def applySchema(raw: DataFrame, schema: StructType): DataFrame = {
    val casts: Seq[Column] = schema.fields.toSeq.map { f =>
      CastKernel.castTo(col(f.name), f.dataType, tsUnitOf(f), isUnsigned(f)).as(f.name)
    }
    raw.select(casts: _*)
  }

  /** Full pipeline: delimited text file → typed DataFrame. */
  def convert(spark: SparkSession, path: String, fullScan: Boolean = false,
              delimiter: Option[Char] = None): DataFrame = {
    val d = delimiter.getOrElse(detectDelimiter(spark, path))
    val raw = readRaw(spark, path, d)
    applySchema(raw, inferSchema(raw, fullScan))
  }

  /** Streaming form of the pipeline (beyond the reference, which fully
    * buffers even stdin — main.rs:102-120): schema is inferred ONCE from
    * the files already present (streams can't be sampled retroactively),
    * then new files arriving in the directory flow through the same cast
    * kernels continuously. Pair with `writeStream.format("parquet")` +
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
    val allString = StructType(pinned.fields.map(f =>
      StructField(f.name, org.apache.spark.sql.types.StringType, nullable = true)))
    val rawStream = spark.readStream
      .option("header", "true")
      .option("sep", d.toString)
      .option("mode", "PERMISSIVE")
      .option("escape", "\"")
      .schema(allString)
      .csv(path)
    applySchema(rawStream, pinned)
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

  /** O13: ZSTD parquet sink (reference: ZSTD level 5, conversion.rs:167). */
  def writeParquet(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").options(writerOptions(df.columns.length)).parquet(out)

  /** O16: error accounting. The reference keeps process-global atomics
    * counting parse failures (analyse.rs:15-23) and prints them at the
    * end; the distributed equivalent is one aggregation pass counting,
    * per column, cells that are present (not a null token) yet fail
    * their typed cast — i.e. genuine conversion errors, distinguished
    * from legitimate nulls. Runs as a single job over the same scan.
    */
  def conversionErrorCounts(raw: DataFrame, schema: StructType): Map[String, Long] = {
    val counters = errorCountExprs(schema)
    val row = raw.agg(counters.head, counters.tail: _*).collect()(0)
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }

  /** The per-column genuine-failure counters as aggregate expressions,
    * aliased positionally (`_err_0`, `_err_1`, …) so they can't collide
    * with user column names. Used by the standalone `countErrors`
    * aggregation above (one dedicated pass). ConvertMain instead derives
    * the same counters from its single cast projection via
    * `Dataset.observe`, so the CLI path evaluates each kernel once. */
  def errorCountExprs(schema: StructType): Seq[Column] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = col(f.name)
      val failed = !NullTokens.isNullToken(c) &&
        CastKernel.castTo(c, f.dataType, tsUnitOf(f), isUnsigned(f)).isNull
      sum(when(failed, 1L).otherwise(0L)).as(s"_err_$i")
    }

  /** O12: the reference's deterministic input-ordered single-file output
    * (BTreeMap reorder buffer, conversion.rs:177-189) — a single-writer
    * artifact. For strict parity: move every row into one partition and
    * sort it there by an explicit key. A single-partition exchange needs
    * no range bounds, so unlike `orderBy` it never samples (re-reads) the
    * input first. The distributed default is writeParquet[Partitioned]
    * with order-insensitive verification (SURVEY §7.4.4).
    */
  def writeParquetSingleOrdered(df: DataFrame, out: String, orderCols: Seq[String]): Unit =
    df.repartition(1).sortWithinPartitions(orderCols.map(col): _*)
      .write.mode("overwrite").options(writerOptions(df.columns.length)).parquet(out)

  /** A single parquet FILE at `out` (not a directory): Spark writes a
    * one-task directory, then the lone part file is renamed onto the
    * target path — byte-level layout parity with the reference's
    * ArrowWriter output (one file, ZSTD-5, block-sized row groups).
    * The caller supplies already-ordered data (see ConvertMain). */
  def writeParquetSingleFile(df: DataFrame, out: String): Unit = {
    val tmpDir = out + ".graft-tmp"
    df.coalesce(1).write.mode("overwrite")
      .options(writerOptions(df.columns.length)).parquet(tmpDir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val tmpPath = new org.apache.hadoop.fs.Path(tmpDir)
    val fs = tmpPath.getFileSystem(conf)
    val part = fs.listStatus(tmpPath)
      .map(_.getPath).filter(_.getName.startsWith("part-"))
      .ensuring(_.length == 1, "coalesce(1) must produce exactly one part file")
      .head
    val target = new org.apache.hadoop.fs.Path(out)
    if (fs.exists(target)) fs.delete(target, false)
    fs.rename(part, target)
    fs.delete(tmpPath, true)
  }

  /** Hive-style partitioned sink — beyond the reference's single-file
    * writer, this is the 100 TB layout: one directory per partition
    * value enables partition pruning on read, and each task writes its
    * own file (no single-writer bottleneck, no reorder buffer). */
  def writeParquetPartitioned(df: DataFrame, out: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").options(writerOptions(df.columns.length))
      .partitionBy(cols: _*).parquet(out)
}
