package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.{IngestPipeline, ProgressTicker}

/** O1: the user-facing conversion CLI, mirroring the reference binary's
  * contract (/root/reference/src/main.rs:39-83):
  *
  *   graft-convert [--inferer-schema-complet] ENTREE
  *
  *  - positional input path; `-` streams stdin into a temp file,
  *    deleted once the conversion ends (main.rs:102-120 stages stdin
  *    the same way), and writes `stdin.parquet` in the working directory;
  *  - otherwise the output is `<parent>/<stem>.parquet`
  *    (main.rs:122-137's file_stem derivation);
  *  - `--inferer-schema-complet` switches the 1,000-row inference
  *    sample to a full scan (distributed stats fold);
  *  - no input → help + exit 1; empty stdin → exit 1;
  *  - per-column parse-failure counts print at the end, capped at 10
  *    lines like the reference's column-error display
  *    (analyse.rs:19,63-96), plus a total-errors warning
  *    (conversion.rs:103-110) and a rows/s summary (conversion.rs:112-119).
  *
  * The output is a single input-ordered parquet FILE (not a directory):
  * single-file parity with the reference's ArrowWriter. Each scan split
  * types and encodes its own block-bounded row groups in parallel, and
  * `IngestPipeline.writeParquetSingleFile` appends them in split order.
  * A distributed 100 TB sink keeps the per-task files instead, with the
  * same `IngestPipeline.writerOptions`.
  */
object ConvertMain {

  private[graft] case class Options(input: Option[String], fullScan: Boolean)

  private[graft] def parseArgs(args: Seq[String]): Either[String, Options] = {
    var fullScan = false
    var input: Option[String] = None
    args.foreach {
      case "--inferer-schema-complet" => fullScan = true
      case flag if flag.startsWith("--") => return Left(s"unknown flag: $flag")
      case positional if input.isEmpty => input = Some(positional)
      case extra => return Left(s"unexpected extra argument: $extra")
    }
    Right(Options(input, fullScan))
  }

  /** `<parent>/<stem>.parquet`, exactly main.rs:122-137: the stem strips
    * only the LAST extension; a path with no parent resolves next to
    * the working directory. */
  private[graft] def deriveOutputPath(input: String): String = {
    val p = Paths.get(input)
    val name = p.getFileName.toString
    val dot = name.lastIndexOf('.')
    val stem = if (dot > 0) name.substring(0, dot) else name
    Option(p.getParent) match {
      case Some(parent) => parent.resolve(stem + ".parquet").toString
      case None => stem + ".parquet"
    }
  }

  private[graft] def usage: String =
    """Convert a tabular file (CSV/TSV/JSONL) to Parquet
      |
      |Usage: graft-convert [--inferer-schema-complet] ENTREE
      |
      |  ENTREE                     input path, or '-' for stdin
      |  --inferer-schema-complet   infer the schema from the whole file
      |                             instead of a 1,000-row sample""".stripMargin

  /** Per-column error lines with the reference's display cap of 10
    * (LIMITE_AFFICHAGE_ERREURS_COLONNES, analyse.rs:19): at most 10
    * column lines print, the rest collapse into one masked notice. */
  private[graft] def errorReport(counts: Map[String, Long]): Seq[String] = {
    val bad = counts.filter(_._2 > 0).toSeq.sortBy(_._1)
    val shown = bad.take(10).map { case (c, n) => s"[COLUMN ERRORS] $c: $n parse failures" }
    if (bad.size > 10) shown :+ "[WARN] additional column errors masked (display capped at 10)"
    else shown
  }

  /** Progress denominator when exact record-counting isn't cheap (remote
    * FS, directory of part files): per data file, in file-name order
    * ([[graft.sources.GraftDataSource.dataFiles]]), its bytes after the
    * header ÷ the average bytes/row of its first `sampleLines` records
    * (`GraftDataSource.firstLines`), summed. A file with no data record
    * counts 0 rows; an input where no file has one has no estimate.
    * Never fails the conversion. */
  private[graft] def estimateRowsFromBytes(spark: SparkSession, path: String,
                                           sampleLines: Int = 1000): Option[Long] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      def bytes(line: String) = line.getBytes("UTF-8").length + 1L
      val perFile = graft.sources.GraftDataSource.dataFiles(conf, path).flatMap { st =>
        graft.sources.GraftDataSource.firstLines(conf, st.getPath.toString, sampleLines + 1) match {
          case header +: rows if rows.nonEmpty =>
            val perRow = rows.map(bytes).sum.toDouble / rows.length
            Some(math.max(0L, ((st.getLen - bytes(header)) / perRow).toLong))
          case _ => None
        }
      }
      if (perFile.isEmpty) None else Some(perFile.sum)
    } catch { case _: Exception => None }

  /** Record count from the parquet footer — metadata-only read. */
  private[graft] def footerRowCount(spark: SparkSession, path: String): Long =
    scala.util.Using.resource(
      org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          spark.sparkContext.hadoopConfiguration)))(_.getRecordCount)

  /** Run a conversion; returns (outputPath, rowCount, totalErrors).
    * Factored out of main() so specs can drive it on a test session.
    * `stdinIsTty` is injectable so the TTY guard is testable. */
  def run(spark: SparkSession, opts: Options,
          err: String => Unit = Console.err.println(_),
          stdinIsTty: () => Boolean = () => System.console() != null): (String, Long, Long) = {
    opts.input match {
      case Some("-") =>
        // main.rs:46-49: refuse '-' at an interactive terminal (help +
        // error) instead of hanging on a read that will never complete
        if (stdinIsTty()) {
          err(usage)
          throw new IllegalArgumentException(
            "stdin requested ('-') but no stream is redirected")
        }
        // stream stdin to a staged file (no heap copy, no 2 GiB array
        // cap); the staged copy lives only as long as the conversion
        val tmp = Files.createTempFile("graft_stdin", ".tsv")
        try {
          Files.copy(System.in, tmp, StandardCopyOption.REPLACE_EXISTING)
          if (Files.size(tmp) == 0) throw new IllegalArgumentException("empty stdin")
          err(s"[INFO] stdin written to $tmp")
          convert(spark, tmp.toString, "stdin.parquet", opts.fullScan, err)
        } finally Files.deleteIfExists(tmp)
      case Some(file) =>
        if (!Files.exists(Paths.get(file)))
          throw new IllegalArgumentException(s"input not found: $file")
        convert(spark, file, deriveOutputPath(file), opts.fullScan, err)
      case None => throw new IllegalArgumentException("no input provided")
    }
  }

  /** The progress denominator, as the reference pre-counts lines for its
    * progress bar (conversion.rs:66): a local regular file's data records
    * (through the reader's decompression and record rule), else — a
    * directory of parts, an HDFS/S3 object — a bytes-derived estimate,
    * marked approximate ("/~N"). */
  private[graft] def progressTotal(spark: SparkSession, inputPath: String,
                                   isJsonl: Boolean): (Option[Long], Boolean) = {
    val p = Paths.get(inputPath)
    if (Files.isRegularFile(p)) {
      val records = scala.util.Using.resource(new java.io.BufferedReader(
        new java.io.InputStreamReader(graft.sources.GraftPartitionReader
          .maybeDecompress(inputPath, Files.newInputStream(p)), "UTF-8")))(
        _.lines().filter(graft.sources.GraftDataSource.isRecord(_)).count())
      (Some(if (isJsonl) records else records - 1), false)
    } else (estimateRowsFromBytes(spark, inputPath), true)
  }

  private def convert(spark: SparkSession, inputPath: String, outputPath: String,
                      fullScan: Boolean, err: String => Unit): (String, Long, Long) = {
    val t0 = System.nanoTime()
    // Format routing (beyond the reference, which is delimited-only; see
    // readRawAny): inference samples the all-string frame, and the typed
    // graft read below routes the same way.
    val (raw, isJsonl) = IngestPipeline.readRawAny(spark, inputPath, fullScan)
    val schema = IngestPipeline.inferSchema(raw, fullScan)
    err(s"[OK] schema detected: ${schema.fields.length} columns")
    err(s"[CONF] row-group block = ${IngestPipeline.rowGroupRows(schema.fields.length)} rows")

    val (totalRows, approxTotal) = progressTotal(spark, inputPath, isJsonl)
    val ticker = new ProgressTicker(spark, totalRows, err, approxTotal = approxTotal)
    ticker.start()
    val obs = org.apache.spark.sql.Observation("graft_convert")
    val metrics = try {
      // Plan: typed graft scan with its `_graft_failed` column → observe
      // → parquet write, ONE parallel stage with no exchange, the input
      // scanned exactly once. Each column's error counter counts the rows
      // whose failure column holds its position (the reference's inline
      // atomics, analyse.rs:15-23).
      //
      // Each scan split then encodes its own block-bounded row groups,
      // and the writer appends the parts in task-partition order: the
      // graft scan plans its partitions in (file name, offset) order, so
      // that is input order (single-file parity with the reference's
      // reorder buffer, conversion.rs:159-195, without a one-task tail).
      val failed = col(graft.sources.GraftDataSource.FailedField.name)
      val errExprs =
        schema.fields.indices.map(i => count_if(array_contains(failed, i)).as(s"_err_$i"))
      val typed = spark.read.format("graft").schema(schema).load(inputPath)
        .select(col("*"), failed)
        .observe(obs, count(lit(1)).as("_rows"), errExprs: _*)
        .drop(failed)
      IngestPipeline.writeParquetSingleFile(typed, outputPath)
      obs.get
    } finally ticker.stop()
    // an input with no data row leaves the observation empty (no
    // `_rows` key at all): 0 rows and 0 errors, which the footer check
    // below confirms
    def metric(name: String): Long =
      metrics.get(name).collect { case n: java.lang.Number => n.longValue() }.getOrElse(0L)
    val rows = metric("_rows")

    // Output-side integrity check (metadata only, no data scan): the
    // written file's parquet footer must account for every observed
    // input row — catches a short or torn write that input-side
    // observation alone would miss.
    val written = footerRowCount(spark, outputPath)
    if (written != rows)
      throw new IllegalStateException(
        s"output $outputPath has $written rows in its parquet footer, expected $rows")

    val errorCounts = schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> metric(s"_err_$i")
    }.toMap
    errorReport(errorCounts).foreach(err)
    val totalErrors = errorCounts.values.sum
    if (totalErrors > 0)
      err(s"[WARN] finished with errors: $totalErrors failed values")
    val secs = (System.nanoTime() - t0) / 1e9
    err(f"[SUCCESS] finished in $secs%.2f s (~${secs * 1e6 / math.max(rows, 1)}%.2f us/row, ~${rows / secs}%.0f rows/s)")
    (outputPath, rows, totalErrors)
  }

  def main(args: Array[String]): Unit = {
    // O18 console formatting (utils.rs:12-46): colors only at an
    // interactive terminal; piped/redirected output stays plain
    val color = graft.ingest.ConsoleColor.auto()
    val opts = parseArgs(args.toSeq) match {
      case Left(msg) =>
        Console.err.println(usage)
        Console.err.println(color.error(s"Error: $msg"))
        sys.exit(1)
      case Right(o) if o.input.isEmpty =>
        Console.err.println(usage)
        Console.err.println(color.error("Error: no input provided"))
        sys.exit(1)
      case Right(o) => o
    }
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      Runtime.getRuntime.availableProcessors(), appName = Some("graft-convert"))
    try {
      // run()'s progress/report lines route through the same prefix →
      // helper mapping the reference's call sites apply
      val (out, _, _) = run(spark, opts,
        err = s => Console.err.println(color.line(s)))
      Console.err.println(
        color.success("[SUCCESS] conversion complete: ") + color.path(out))
    } catch {
      case e: Exception =>
        Console.err.println(color.error(s"Error: ${e.getMessage}"))
        sys.exit(1)
    } finally spark.stop()
  }
}
