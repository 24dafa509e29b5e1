package graft.perfbench

import scala.jdk.CollectionConverters._

import PerfBench.{median, OpRun}

/** Turns a run's passes, spans and (when traced) listener records into
  * the end-to-end metrics, the per-layer metrics and the span record. */
final class Report(spans: Spans, tracer: Option[Tracer],
                   passes: Seq[(Span, Seq[OpRun], Boolean)]) {

  private def primary(ops: Seq[OpRun]) = ops.filter(_.primary)

  val attempted: Int = passes.map(p => primary(p._2).size).sum
  val failed: Int = passes.map(p => primary(p._2).count(!_.ok)).sum

  /** A pass's time: its primary operations that succeeded. */
  private def passSeconds(ops: Seq[OpRun]): Double =
    primary(ops).filter(_.ok).map(_.seconds).sum

  /** Each operation name's median time: the run's estimate of that
    * operation, robust to one slow sample. */
  private def opMedians(ops: Seq[OpRun]): Seq[Double] =
    ops.groupBy(_.name).values.map(os => median(os.map(_.seconds))).toSeq

  /** One pass's time: the sum of its operations' medians. */
  private def typicalPass(ops: Seq[OpRun]): Double = opMedians(ops).sum

  def endToEnd(setupS: Double, heapMb: Double): Map[String, Double] = {
    val untraced = passes.filterNot(_._3)
    val ops = untraced.flatMap(p => primary(p._2)).filter(_.ok)
    Map(
      "setup_s" -> setupS,
      "pass_s" -> typicalPass(ops),
      // the median over entries of each entry's median: pooling the raw
      // latencies would put the median between two entries whenever a
      // run has an even number of samples
      "op_p50_s" -> median(opMedians(ops)),
      "retained_heap_mb" -> heapMb)
  }

  private def descendants(root: Int): Set[Int] = {
    val kids = spans.all.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root)
  }

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Per-layer metrics of one traced pass. */
  private def layers(pass: Span, ops: Seq[OpRun], t: Tracer): Map[String, Double] = {
    val ids = descendants(pass.id)
    val inPass = spans.all.filter(s => ids(s.id))
    def phaseMs(name: String) = inPass.filter(s => s.kind == "phase" && s.name == name)
      .map(_.seconds * 1000).sum
    val jobs = t.jobs.values.asScala.filter(j => ids(j.span)).toSeq
    val stages = t.stages.asScala.filter(s => ids(s.span)).toSeq
    val queries = t.queries.asScala.filter(q => ids(t.spanOfExecution(q.execId))).toSeq
    val batches = t.batches.asScala.filter(b => ids(b.span)).toSeq
    // per stream query, its last batch holds the state it ended with
    val lastBatches = batches.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val opMs = ops.map(_.seconds * 1000).sum
    val taskMs = stages.map(_.runMs).sum.toDouble
    val gapMs = ops.flatMap(o => spans.byId(o.span)).map { s =>
      val inOp = descendants(s.id)
      (s.endMs - s.startMs) - covered(jobs.filter(j => inOp(j.span)).map(j => (j.startMs, j.endMs)),
        s.startMs, s.endMs)
    }.sum.toDouble
    val convertOps = ops.filter(_.name == "convert")
    def convertSum(k: String) = convertOps.map(_.extra.getOrElse(k, 0.0)).sum
    val families = PerfBench.Families.values.toSeq.distinct.map { f =>
      s"queries.${f}_s" ->
        primary(ops).filter(o => PerfBench.Families.get(o.name).contains(f)).map(_.seconds).sum
    }.toMap
    families ++ Map(
      "ingest.detect_ms" -> phaseMs("detect"),
      "ingest.infer_ms" -> phaseMs("infer"),
      "ingest.cast_scan_ms" -> phaseMs("cast_scan"),
      "ingest.write_ms" -> phaseMs("write"),
      "ingest.footer_ms" -> phaseMs("footer"),
      "ingest.rows" -> convertSum("rows"),
      "ingest.failed_cells" -> convertSum("failed_cells"),
      "ingest.out_bytes" -> convertSum("out_bytes"),
      "ingest.row_groups" -> convertSum("row_groups"),
      "ingest.bytes_ratio" ->
        (if (convertSum("in_bytes") > 0) convertSum("out_bytes") / convertSum("in_bytes") else 0.0),
      "spark.plan_ms" -> queries.map(_.planMs).sum.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.exchange_nodes" -> queries.map(_.exchanges).sum.toDouble,
      "spark.task_ms" -> taskMs,
      "spark.task_cpu_ms" -> stages.map(_.cpuMs).sum,
      "spark.gc_ms" -> stages.map(_.gcMs).sum.toDouble,
      "spark.slot_busy_ratio" -> (if (opMs > 0) taskMs / (opMs * PerfBench.Cpus) else 0.0),
      "spark.driver_gap_ms" -> gapMs,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> stages.map(_.input).sum.toDouble,
      "spark.output_bytes" -> stages.map(_.output).sum.toDouble,
      "query.build_ms" -> phaseMs("build"),
      "query.exec_ms" -> phaseMs("exec"),
      "stream.batches" -> batches.size.toDouble,
      "stream.batch_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "stream.wal_ms" -> (dur("walCommit") + dur("commitOffsets")),
      "stream.state_commit_ms" -> batches.map(_.stateCommitMs).sum.toDouble,
      "stream.state_rows" -> lastBatches.map(_.stateRows).sum.toDouble,
      "stream.state_bytes" -> lastBatches.map(_.stateBytes).sum.toDouble,
      "leak.persisted_rdds" -> ops.map(_.persisted).sum.toDouble,
      "leak.cached_plans" -> ops.map(_.cached).sum.toDouble,
      "jvm.gc_ms" -> ops.map(_.gcMs).sum.toDouble)
  }

  /** Medians over traced passes, plus the tracing overhead: traced vs
    * untraced pass time, in percent. */
  def perLayer: Map[String, Double] = tracer match {
    case None => Map.empty
    case Some(t) =>
      val traced = passes.filter(_._3)
      val per = traced.map { case (s, ops, _) => layers(s, ops, t) }
      val names = per.headOption.map(_.keys).getOrElse(Nil)
      def okPrimary(ps: Seq[(Span, Seq[OpRun], Boolean)]) = ps.flatMap(p => primary(p._2)).filter(_.ok)
      val untracedS = typicalPass(okPrimary(passes.filterNot(_._3)))
      val tracedS = typicalPass(okPrimary(traced))
      names.map(k => k -> median(per.map(_(k)))).toMap ++ Map(
        "trace.overhead_pct" -> (if (untracedS > 0) (tracedS / untracedS - 1) * 100 else 0.0),
        "trace.spans" -> spans.all.size.toDouble)
  }

  def passRecords: Seq[Map[String, Any]] = passes.map { case (s, ops, traced) =>
    Map("name" -> s.name, "traced" -> traced, "seconds" -> passSeconds(ops),
      "ops" -> ops.map(o => Map("name" -> o.name, "primary" -> o.primary, "ok" -> o.ok,
        "seconds" -> o.seconds, "gc_ms" -> o.gcMs, "persisted_rdds" -> o.persisted,
        "cached_plans" -> o.cached, "error" -> o.error.orNull) ++ o.extra))
  }

  /** Self time per span kind: a span's length minus what its child spans
    * cover; for a phase, its children are the Spark jobs it submitted. */
  def selfMs: Map[String, Double] = {
    val kids = spans.all.groupBy(_.parent)
    val jobsBySpan = tracer.map(_.jobs.values.asScala.toSeq.groupBy(_.span)).getOrElse(Map.empty)
    spans.all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val children = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)) ++
          jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs))
        ((s.endMs - s.startMs) - covered(children.toSeq, s.startMs, s.endMs)).toDouble
      }.sum
    }
  }

  /** Every span with the Spark jobs and stages linked to it, as nested
    * records (workload → pass → operation → phase → job → stage). */
  def spanRecords: Seq[Map[String, Any]] = {
    val t = tracer.get
    val stagesByJob = t.stages.asScala.toSeq.groupBy(_.jobId)
    val jobsBySpan = t.jobs.values.asScala.toSeq.groupBy(_.span)
    val batchesBySpan = t.batches.asScala.toSeq.groupBy(_.span)
    spans.all.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ok" -> s.ok,
        "jobs" -> jobsBySpan.getOrElse(s.id, Nil).sortBy(_.jobId).map { j =>
          Map("job" -> j.jobId, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "stages" -> stagesByJob.getOrElse(j.jobId, Nil).map { st =>
              Map("stage" -> st.stageId, "tasks" -> st.tasks, "task_ms" -> st.runMs,
                "cpu_ms" -> st.cpuMs, "gc_ms" -> st.gcMs, "shuffle_write" -> st.shuffleWrite,
                "shuffle_read" -> st.shuffleRead, "spill" -> st.spill,
                "input" -> st.input, "output" -> st.output)
            })
        },
        "stream_batches" -> batchesBySpan.getOrElse(s.id, Nil).map { b =>
          Map("query" -> b.query, "batch" -> b.batchId, "duration_ms" -> b.durations,
            "state_commit_ms" -> b.stateCommitMs, "state_rows" -> b.stateRows)
        })
    }
  }
}
