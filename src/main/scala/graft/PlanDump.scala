package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for named registry queries into files —
  * the before/after plan evidence for the optimization rounds
  * (`plans/r20/<query>_before.txt` / `_after.txt`).
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <suffix> q_a q_b ..."`
  * writes `<outDir>/<query>_<suffix>.txt` per query. Plans are dumped at
  * the BENCH session shape (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus, AQE on, sf dir from SPARK_GRAFT_SF_DIR) so the
  * dumped Exchange/join strategy matches what the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCores(32), logLevel = "ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        s"===== $name ($suffix, $sfDir) =====\n$plan")
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
