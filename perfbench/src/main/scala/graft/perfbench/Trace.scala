package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the benchmark: workload, pass, operation or
  * phase. Spans are recorded on every run (they are the timing record);
  * Spark jobs, stages, query executions and stream batches are linked to
  * them only while a [[Tracer]] is attached. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
                 val startMs: Long, val startNs: Long) {
  var endNs: Long = startNs
  var ok: Boolean = true
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long,
                        stageIds: Seq[Int])

final case class StageRec(stageId: Int, jobId: Int, span: Int, tasks: Int, runMs: Long,
                          cpuMs: Double, gcMs: Long, shuffleWrite: Long,
                          shuffleRead: Long, spill: Long, input: Long, output: Long)

final case class QueryRec(execId: Long, planMs: Long, exchanges: Int)

final case class BatchRec(span: Int, query: String, batchId: Long,
                          durations: Map[String, Long], stateCommitMs: Long,
                          stateRows: Long, stateBytes: Long)

/** The benchmark's span tree. Every call into the program runs inside
  * [[span]], which also publishes the span id as the SparkContext local
  * property `perfbench.span`, so jobs submitted inside it (and threads
  * they start, such as stream executions) carry it. */
final class Spans(spark: SparkSession) {
  val all = mutable.ArrayBuffer.empty[Span]
  @volatile var current: Int = 0

  def nextId: Int = all.size + 1

  def span[T](name: String, kind: String)(body: => T): (T, Span) = {
    val s = new Span(nextId, current, name, kind,
      System.currentTimeMillis(), System.nanoTime())
    all += s
    val parent = current
    current = s.id
    spark.sparkContext.setLocalProperty(Spans.Property, s.id.toString)
    try {
      val r = body
      (r, s)
    } catch {
      case e: Throwable => s.ok = false; throw e
    } finally {
      s.endNs = System.nanoTime()
      current = parent
      spark.sparkContext.setLocalProperty(Spans.Property,
        if (parent == 0) null else parent.toString)
    }
  }

  def byId(id: Int): Option[Span] = if (id >= 1 && id <= all.size) Some(all(id - 1)) else None
}

object Spans {
  val Property = "perfbench.span"
}

/** Listeners that link Spark's own records to the benchmark's spans:
  * a SparkListener (jobs, stages, and per SQL execution its planning
  * phases and the exchange count of its executed plan) and a
  * StreamingQueryListener (micro-batch progress). [[attach]] and
  * [[detach]] bracket the traced passes only. */
final class Tracer(spark: SparkSession, spans: Spans) {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  private val streamSpan = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Int]()
  @volatile private var lastEventNs = System.nanoTime()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Spans.Property)))
      .map(_.toInt).getOrElse(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      val span = spanOf(e.properties)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.putIfAbsent(id.toLong, span))
      jobs.put(e.jobId, JobRec(e.jobId, span, e.time, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs = System.nanoTime()
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    // The end of a SQL execution carries its QueryExecution (the event a
    // QueryExecutionListener is fed from, here keyed by execution id so it
    // links to the jobs, and so to the span); the field is Scala-private
    // but public in bytecode, hence reflection.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        lastEventNs = System.nanoTime()
        scala.util.Try(end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution])
          .toOption.filter(_ != null).foreach { qe =>
            val phases = qe.tracker.phases
            val planMs = Seq("analysis", "optimization", "planning")
              .flatMap(phases.get).map(_.durationMs).sum
            queries.add(QueryRec(end.executionId, planMs, Tracer.exchanges(qe.executedPlan)))
          }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNs = System.nanoTime()
      val info = e.stageInfo
      val m = info.taskMetrics
      val job = jobs.values().stream().filter(_.stageIds.contains(info.stageId))
        .findFirst().orElse(null)
      if (m != null) stages.add(StageRec(info.stageId,
        if (job == null) -1 else job.jobId, if (job == null) 0 else job.span,
        info.numTasks, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // called synchronously from DataStreamWriter.start(), on the caller's
    // thread, so the caller's current span is the one that started it
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      streamSpan.put(e.runId, spans.current)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      lastEventNs = System.nanoTime()
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      batches.add(BatchRec(streamSpan.getOrDefault(p.runId, 0), p.name, p.batchId,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener buses deliver asynchronously: wait until no event has
    * arrived for `quietMs` (at most `maxMs`), so the record is complete
    * before the listeners come off. */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Span a query execution belongs to: the span of its jobs. */
  def spanOfExecution(execId: Long): Int = execSpan.getOrDefault(execId, 0)
}

object Tracer {
  /** Exchange nodes of an executed plan, looking through adaptive plans,
    * query stages and subqueries. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: Exchange | _: ReusedExchangeExec => 1
      case _ => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case _ => 0
    }
    own + inner + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}
