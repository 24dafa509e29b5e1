package graft.ingest

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** O15: conversion progress reporting. The reference drives an indicatif
  * progress bar from a 200 ms ticker thread with a sliding-window
  * throughput estimate (conversion.rs:122-157). Spark's analog of the
  * per-block position updates is task-completion metrics: a
  * SparkListener accumulates `inputMetrics.recordsRead` as scan tasks
  * finish, and the same kind of ticker thread turns that into a
  * rows/s line on stderr.
  *
  * Listener updates are driver-side and O(#tasks) — zero cost on the
  * executor hot path, which is exactly how a 100 TB run wants its
  * progress wired.
  */
final class ProgressTicker(spark: SparkSession, totalRows: Option[Long],
                           out: String => Unit = Console.err.println(_),
                           tickMillis: Long = 1000L,
                           approxTotal: Boolean = false) {

  val rowsRead = new AtomicLong(0L)

  private val listener = new SparkListener {
    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
      val m = taskEnd.taskMetrics
      if (m != null) rowsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  @volatile private var running = false

  // (time, position) sliding window, like the reference's VecDeque
  private val windowMillis = 2000L

  private val ticker = new Thread("graft-progress-ticker") {
    setDaemon(true)
    override def run(): Unit = {
      val history = scala.collection.mutable.ArrayDeque.empty[(Long, Long)]
      var lastPrinted = -1L
      // a `stop()` that lands during the sleep interrupts it, and the
      // re-check after it keeps a line from following the final report
      while (running && sleepTick() && running) {
        val now = System.currentTimeMillis()
        val pos = rowsRead.get()
        history.append((now, pos))
        while (history.nonEmpty && now - history.head._1 > windowMillis)
          history.removeHead()
        if (pos != lastPrinted && pos > 0) {
          lastPrinted = pos
          val rate =
            if (history.length >= 2 && history.last._2 > history.head._2) {
              val dt = (history.last._1 - history.head._1) / 1000.0
              if (dt > 0) f"${(history.last._2 - history.head._2) / dt}%.0f rows/s" else ""
            } else ""
          // "~" marks a bytes-derived estimate (remote FS / directory
          // inputs, where exact pre-counting would cost a full read)
          val ofTotal = totalRows.map(t => if (approxTotal) s"/~$t" else s"/$t").getOrElse("")
          out(s"[PROGRESS] $pos$ofTotal rows $rate".trim)
        }
      }
    }
  }

  /** One tick's sleep; false once `stop()` interrupts it. */
  private def sleepTick(): Boolean =
    try { Thread.sleep(tickMillis); true }
    catch { case _: InterruptedException => false }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    running = true
    ticker.start()
  }

  /** Ends the ticker: once this returns, no further line is printed
    * and the ticker thread has exited. */
  def stop(): Unit = {
    running = false
    ticker.interrupt()
    ticker.join()
    spark.sparkContext.removeSparkListener(listener)
  }
}
