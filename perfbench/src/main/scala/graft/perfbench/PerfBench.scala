package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{ConvertMain, Tables}
import graft.ingest.IngestPipeline

/** One run of one benchmark workload on one local session: set-up
  * (repeated, median reported), untimed warm passes, then back-to-back
  * timed passes until the time is up. Conversions are checked every time;
  * registry entries in the first warm pass. Writes the run's record (metrics,
  * passes, checks, spans) as JSON to `--out`.
  *
  * With `--trace 1`, odd passes run with the listeners of [[Tracer]]
  * attached and even passes without; the per-layer metrics are medians
  * over the traced passes and `trace.overhead_pct` compares the two.
  *
  * Arguments, all required: `--workload convert|batch_queries --seed N
  * --seconds S --trace 0|1 --tables DIR --work DIR --out FILE --tsv FILE
  * --pins FILE`; `--tsv` is read by `convert`, `--pins` by
  * `batch_queries`. */
object PerfBench {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tables: String, work: String, out: String, tsv: String,
                        pins: String)

  /** One registry entry per layer the workload is for: the graph loops'
    * per-hop overhead, a TPC-H join (planning, shuffle), and a stateful
    * stream (micro-batch lifecycle and state-store commits). */
  val Entries: Seq[String] = Seq("q_graph_bfs", "q_sql_q5", "q_stream_tumble")

  /** Family of each entry, for the per-family time of `queries.<family>_s`. */
  val Families: Map[String, String] =
    Map("q_graph_bfs" -> "graph", "q_sql_q5" -> "relational", "q_stream_tumble" -> "stream")

  val Cpus = 4

  /** Untimed passes before the timed ones. Until the JIT has compiled what
    * an operation's first runs generate, later runs are faster: after one
    * warm pass, the next `q_graph_bfs` still ran up to ~60 % and the next
    * conversion up to ~25 % slower than later ones. */
  val WarmPasses = 2

  /** Set-ups per run; `setup_s` is their median. The first, in a cold
    * JVM, is several times slower than the others, which alone spread
    * by up to ~2x between runs on a 4-core host. */
  val SetupReps = 5

  /** One operation of a pass. `primary` ops are the measured workload;
    * the convert phase breakdown of traced passes is not. */
  final case class OpRun(name: String, span: Int, primary: Boolean, ok: Boolean,
                         seconds: Double, gcMs: Long, persisted: Int, cached: Int,
                         error: Option[String], extra: Map[String, Double] = Map.empty)

  def parse(args: Seq[String]): Conf = {
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k -> v))
      case Nil => acc
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    val m = go(args.toList, Map.empty)
    Conf(m("--workload"), m("--seed").toLong, m("--seconds").toDouble, m("--trace") == "1",
      m("--tables"), m("--work"), m("--out"), m("--tsv"), m("--pins"))
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Drop what an operation left cached and collect garbage, outside
    * every timed span (the cleanup `graft.Bench` does between runs). */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Cache entries of the session. `CacheManager.numCachedEntries` is
    * package-private in Scala but public in bytecode, hence reflection. */
  def cachedPlans(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    Try(cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int])
      .getOrElse(if (cm.isEmpty) 0 else 1)
  }

  /** Run `body` as operation `name`, timed; count what it left cached;
    * then, untimed, `check` its result (extra figures and problems found);
    * then clean up. A throw or a problem fails the operation, and the time
    * of a failed operation is not used. */
  def op[T](spark: SparkSession, spans: Spans, name: String, primary: Boolean = true)
           (body: => T)(check: T => (Map[String, Double], Seq[String])): OpRun = {
    val gc0 = gcMs()
    val id = spans.nextId
    val t = Try(spans.span(name, "op")(body))
    val gc = gcMs() - gc0
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val cached = cachedPlans(spark)
    val checked = t.flatMap { case (r, s) => Try(check(r)).map(c => (s, c)) }
    cleanup(spark)
    checked match {
      case Success((s, (extra, problems))) =>
        problems.foreach(p => System.err.println(s"[perfbench] $name check: $p"))
        OpRun(name, s.id, primary, ok = problems.isEmpty, s.seconds, gc, persisted, cached,
          problems.headOption, extra)
      case Failure(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        OpRun(name, id, primary, ok = false, 0.0, gc, persisted, cached, Some(e.toString))
    }
  }

  val NoCheck: Any => (Map[String, Double], Seq[String]) = _ => (Map.empty, Nil)

  trait Workload {
    /** One pass; a negative `index` is an untimed warm pass. */
    def pass(spark: SparkSession, spans: Spans, index: Int, traced: Boolean): Seq[OpRun]
  }

  /** Back-to-back `ConvertMain.run` calls on one generated TSV; every
    * call's output is checked against the generator's record. Traced
    * passes add one phase-by-phase conversion through the public ingest
    * calls, so each phase has its own span. */
  final class Convert(c: Conf) extends Workload {
    private val expect = Json.read(c.tsv + ".expect.json")
    private val out = ConvertMain.deriveOutputPath(c.tsv)
    private val phasedOut = s"${c.work}/phased.parquet"
    private val ColumnErrors = """\[COLUMN ERRORS\] (.+): (\d+) parse failures""".r
    private val inputBytes = Files.size(Paths.get(c.tsv)).toDouble

    private def convert(spark: SparkSession, spans: Spans): OpRun = {
      Files.deleteIfExists(Paths.get(out))
      val lines = mutable.ArrayBuffer.empty[String]
      op(spark, spans, "convert") {
        ConvertMain.run(spark, ConvertMain.Options(Some(c.tsv), fullScan = false),
          err = l => lines.synchronized { lines += l }, stdinIsTty = () => false)
      } { case (path, rows, _) =>
        val failed = lines.synchronized(lines.toList).collect {
          case ColumnErrors(col, n) => col -> n.toLong
        }.toMap
        val footer = ConvertMain.footerRowCount(spark, path)
        val groups = scala.util.Using.resource(
          org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
        )(_.getRowGroups.size)
        (Map("rows" -> rows.toDouble, "out_bytes" -> Files.size(Paths.get(path)).toDouble,
          "failed_cells" -> failed.values.sum.toDouble, "row_groups" -> groups.toDouble,
          "in_bytes" -> inputBytes),
          Checks.convertProblems(spark, path, footer, failed, expect))
      }
    }

    private def phased(spark: SparkSession, spans: Spans): OpRun =
      op(spark, spans, "phases", primary = false) {
        val d = spans.span("detect", "phase")(IngestPipeline.detectDelimiter(spark, c.tsv))._1
        val (raw, schema) = spans.span("infer", "phase") {
          val raw = IngestPipeline.readRaw(spark, c.tsv, d)
          (raw, IngestPipeline.inferSchema(raw, fullScan = false))
        }._1
        spans.span("cast_scan", "phase")(noop(IngestPipeline.applySchema(raw, schema)))
        spans.span("write", "phase")(
          IngestPipeline.writeParquetSingleFile(IngestPipeline.applySchema(raw, schema), phasedOut))
        spans.span("footer", "phase")(ConvertMain.footerRowCount(spark, phasedOut))
      }(NoCheck)

    def pass(spark: SparkSession, spans: Spans, index: Int, traced: Boolean): Seq[OpRun] =
      Seq(convert(spark, spans)) ++ (if (traced) Seq(phased(spark, spans)) else Nil)
  }

  /** One pass = every entry of `entries` once, in a per-pass order drawn
    * from the seed, each through the `noop` sink. In the first warm pass
    * each entry's result is also checked against its pinned (rows, hash),
    * re-executing only what the entry left lazy. */
  final class Registry(c: Conf, entries: Seq[String]) extends Workload {
    private val registry = graft.SparkEntry.queries
    private val pins: Option[Json.Obj] =
      if (Files.exists(Paths.get(c.pins))) Some(Json.read(c.pins)) else None
    val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]

    private def check(name: String, df: DataFrame): (Map[String, Double], Seq[String]) = {
      val (rows, hash) = Checks.contentHash(df)
      observed(name) = (rows, hash)
      val problems = pins match {
        case None => Seq("no pinned hash")
        case Some(pinned) => pinned.fields.get(name) match {
          case Some(p: Json.Obj) if p.long("rows") == rows && p.str("hash") == hash.toString => Nil
          case Some(p: Json.Obj) =>
            Seq(s"rows $rows hash $hash, pinned rows ${p.long("rows")} hash ${p.str("hash")}")
          case _ => Seq("no pinned hash")
        }
      }
      (Map.empty, problems)
    }

    def pass(spark: SparkSession, spans: Spans, index: Int, traced: Boolean): Seq[OpRun] = {
      val order = new scala.util.Random(c.seed * 1000003L + index).shuffle(entries)
      order.map { name =>
        op(spark, spans, name) {
          val df = spans.span("build", "phase")(registry(name)(spark, c.tables))._1
          spans.span("exec", "phase")(noop(df))
          df
        }(df => if (index == -1) check(name, df) else (Map.empty, Nil))
      }
    }
  }

  def workload(c: Conf): Workload = c.workload match {
    case "convert" => new Convert(c)
    case "batch_queries" => new Registry(c, Entries)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args.toSeq)
    val w = workload(c)
    // set-up, repeated on a fresh session and a fresh scratch root
    val setup = mutable.ArrayBuffer.empty[Double]
    val resolveCold = mutable.ArrayBuffer.empty[Double]
    val resolveWarm = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      System.setProperty("graft.scratch.root", s"${c.work}/scratch$i")
      val t0 = System.nanoTime()
      spark = session(c)
      noop(spark.read.parquet(s"${c.tables}/lineitem.parquet").limit(1))
      val tc = System.nanoTime()
      TableNames.foreach(Tables.t(spark, c.tables, _))
      resolveCold += ms(tc)
      setup += (System.nanoTime() - t0) / 1e9
      val tw = System.nanoTime()
      TableNames.foreach(Tables.t(spark, c.tables, _))
      resolveWarm += ms(tw)
    }
    val spans = new Spans(spark)
    val tracer = if (c.trace) Some(new Tracer(spark, spans)) else None

    val record: Map[String, Any] = {
      val passes = mutable.ArrayBuffer.empty[(Span, Seq[OpRun], Boolean)]
      val ((warm, floors), _) = spans.span(c.workload, "workload") {
        // untimed passes first; the first also checks the registry entries
        val warm = (1 to WarmPasses).flatMap { i =>
          spans.span(s"warm$i", "pass")(w.pass(spark, spans, -i, traced = false))._1
        }
        val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
        val minPasses = if (c.trace) 2 else 1
        while (passes.size < minPasses || System.nanoTime() < deadline) {
          val traced = c.trace && passes.size % 2 == 1
          if (traced) tracer.foreach(_.attach())
          val (ops, s) = spans.span(s"pass${passes.size}", "pass")(
            w.pass(spark, spans, passes.size, traced))
          if (traced) tracer.foreach(_.detach())
          passes += ((s, ops, traced))
        }
        val floors = Seq(false, true).map { stateful =>
          (if (stateful) "stream.floor_stateful_s" else "stream.floor_stateless_s") ->
            (if (c.trace && c.workload == "batch_queries") median((0 until 2).map { _ =>
              val t0 = System.nanoTime()
              graft.queries.Streaming.streamNoopFloor(spark, stateful).collect()
              (System.nanoTime() - t0) / 1e9
            }) else 0.0)
        }.toMap
        (warm, floors)
      }
      // a collection can leave garbage a later one frees: the least of three
      val heapMb = (1 to 3).map { _ =>
        cleanup(spark)
        Thread.sleep(100)
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      // an operation whose warm-up run failed or gave a wrong result counts
      // as failed in every timed pass
      val bad = warm.filterNot(_.ok).map(_.name).toSet
      val judged = passes.toSeq.map { case (s, ops, t) =>
        (s, ops.map(o => if (bad(o.name) && o.ok) o.copy(ok = false, error = Some("warm-up check failed")) else o), t)
      }
      val checks = (warm ++ judged.flatMap(_._2)).groupBy(_.name)
        .map { case (k, os) => k -> os.flatMap(_.error).distinct }
      val report = new Report(spans, tracer, judged)
      Map(
        "pins" -> (w match {
          case r: Registry => r.observed.toMap.map { case (k, (n, h)) => k -> Map("rows" -> n, "hash" -> h.toString) }
          case _ => Map.empty
        }),
        "checks" -> checks,
        "end_to_end" -> report.endToEnd(median(setup.toSeq), heapMb),
        "per_layer" -> (report.perLayer ++ floors ++ Map(
          "tables.resolve_cold_ms" -> median(resolveCold.toSeq),
          "tables.resolve_warm_ms" -> median(resolveWarm.toSeq))),
        "attempted" -> report.attempted,
        "failed" -> report.failed,
        "correct" -> (checks.values.forall(_.isEmpty) && report.failed == 0),
        "passes" -> report.passRecords,
        "self_ms" -> report.selfMs,
        "spans" -> (if (c.trace) report.spanRecords else Nil))
    }
    val full = record ++ Map(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace, "cpus" -> Cpus,
      "setup_s" -> setup.toSeq)
    Files.writeString(Paths.get(c.out), Json.write(full))
    spark.stop()
  }
}
