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
  * casts and encodes its own block-bounded row groups in parallel, and
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

  /** Progress denominator when exact line-counting isn't cheap (remote
    * FS, directory of part files): per data file, in file-name order
    * ([[graft.sources.GraftDataSource.dataFiles]]), its bytes after the
    * header ÷ the average bytes/row of its first `sampleLines` lines,
    * summed. A file with no data line counts 0 rows; an input where no
    * file has one has no estimate. Buffered reads of ≤ `sampleLines`
    * lines per file; never fails the conversion. */
  private[graft] def estimateRowsFromBytes(spark: SparkSession, path: String,
                                           sampleLines: Int = 1000): Option[Long] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      // (header bytes, mean bytes per data row) of one file's head
      def sample(st: org.apache.hadoop.fs.FileStatus): Option[(Long, Double)] = {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          st.getPath.getFileSystem(conf).open(st.getPath), "UTF-8"))
        try {
          Option(in.readLine()).flatMap { header =>
            val headerBytes = header.getBytes("UTF-8").length + 1L
            var n = 0
            var bytes = 0L
            var line = in.readLine()
            while (line != null && n < sampleLines) {
              bytes += line.getBytes("UTF-8").length + 1L
              n += 1
              line = in.readLine()
            }
            if (n == 0) None
            else Some((headerBytes, bytes.toDouble / n))
          }
        } finally in.close()
      }
      val perFile = graft.sources.GraftDataSource.dataFiles(conf, path).flatMap { st =>
        sample(st).map { case (headerBytes, bytesPerRow) =>
          math.max(0L, ((st.getLen - headerBytes) / bytesPerRow).toLong)
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

  private def convert(spark: SparkSession, inputPath: String, outputPath: String,
                      fullScan: Boolean, err: String => Unit): (String, Long, Long) = {
    val t0 = System.nanoTime()
    // Format routing (beyond the reference, which is delimited-only; see
    // readRawAny): everything downstream — inference, fused cast+observe
    // projection, ordered single-file sink, error accounting — is
    // format-agnostic over the all-string frame.
    val (raw, isJsonl) = IngestPipeline.readRawAny(spark, inputPath, fullScan)
    val schema = IngestPipeline.inferSchema(raw, fullScan)
    err(s"[OK] schema detected: ${schema.fields.length} columns")
    err(s"[CONF] row-group block = ${IngestPipeline.rowGroupRows(schema.fields.length)} rows")

    // the reference pre-counts lines for its progress bar total
    // (conversion.rs:66). Local regular file: exact line count. Anything
    // else (directory of parts, HDFS/S3 object): estimate from input
    // bytes ÷ sampled bytes-per-row, so the ticker still shows progress
    // against a denominator everywhere — marked approximate ("/~N").
    val (totalRows, approxTotal) = {
      val p = Paths.get(inputPath)
      if (Files.isRegularFile(p)) {
        // counted through the reader's decompression (a .gz counts its
        // text); JSONL has no header line to discount
        val lines = scala.util.Using.resource(new java.io.BufferedReader(
          new java.io.InputStreamReader(graft.sources.GraftPartitionReader
            .maybeDecompress(inputPath, Files.newInputStream(p)), "UTF-8")))(_.lines().count())
        (Some(if (isJsonl) lines else lines - 1), false)
      } else (estimateRowsFromBytes(spark, inputPath), true)
    }

    val ticker = new ProgressTicker(spark, totalRows, err, approxTotal = approxTotal)
    ticker.start()
    val obs = org.apache.spark.sql.Observation("graft_convert")
    val metrics = try {
      // Plan: all-string graft scan → [cast + observe] → parquet write,
      // ONE parallel stage with no exchange. Every column is cast, and
      // the per-column error counters ride the same projection via
      // Dataset.observe — the distributed twin of the reference's inline
      // atomics (analyse.rs:15-23) — reading the CAST RESULT (null on a
      // non-null non-token input = genuine failure), so each kernel runs
      // once per cell and the input is scanned exactly once.
      //
      // Each scan split then encodes its own block-bounded row groups,
      // and the writer appends the parts in task-partition order: the
      // graft scan plans its partitions in (file name, offset) order, so
      // that is input order (single-file parity with the reference's
      // reorder buffer, conversion.rs:159-195, without a one-task tail).
      val castCols = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        graft.ingest.CastKernel.castTo(col(f.name), f.dataType,
          IngestPipeline.tsUnitOf(f), IngestPipeline.isUnsigned(f)).as(s"_graft_cast_$i")
      }
      val projected = raw.select(schema.fieldNames.map(col).toSeq ++ castCols: _*)
      val errExprs = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val failed = !graft.ingest.NullTokens.isNullToken(col(f.name)) &&
          col(s"_graft_cast_$i").isNull
        sum(when(failed, 1L).otherwise(0L)).as(s"_err_$i")
      }
      val typed = projected.observe(obs, count(lit(1)).as("_rows"), errExprs: _*)
        .select(schema.fields.toSeq.zipWithIndex.map {
          case (f, i) => col(s"_graft_cast_$i").as(f.name)
        }: _*)
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
