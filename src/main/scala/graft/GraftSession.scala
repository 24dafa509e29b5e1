package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for the graft mains and the test
  * session. Every session it builds pins the same confs:
  *  - shuffle partitions = the caller's core count;
  *  - UTC session zone (the DuckDB oracle's naive timestamps are UTC);
  *  - `nanosAsLong`: INT64 nanosecond parquet timestamps read as longs;
  *  - no Spark UI;
  *  - the log level, as `spark.log.level`, which the context applies
  *    while it starts (a `setLogLevel` after `getOrCreate` lets the
  *    start-up INFO lines through first).
  * Callers pass only what differs: master (or cores), app name,
  * warehouse dir and log level.
  */
object GraftSession {

  /** Core count from SPARK_GRAFT_CPUS, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The confs a session is built with, master and app name included. */
  def conf(master: String, shufflePartitions: Int,
           appName: Option[String] = None,
           warehouseDir: Option[String] = None,
           logLevel: String = "WARN"): Seq[(String, String)] =
    Seq(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> logLevel) ++
      appName.map("spark.app.name" -> _) ++
      warehouseDir.map("spark.sql.warehouse.dir" -> _)

  def create(master: String, shufflePartitions: Int,
             appName: Option[String] = None,
             warehouseDir: Option[String] = None,
             logLevel: String = "WARN"): SparkSession =
    conf(master, shufflePartitions, appName, warehouseDir, logLevel)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** `local[cores]` with `cores` shuffle partitions. */
  def local(cores: Int, appName: Option[String] = None,
            warehouseDir: Option[String] = None,
            logLevel: String = "WARN"): SparkSession =
    create(s"local[$cores]", cores, appName, warehouseDir, logLevel)
}
