package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/check.py`). It
  * runs the same registry entries, with the same plans, that Bench times.
  * Exits 1, after writing both, when any query threw (`[verify] failed: …`
  * names them). */
object Verify {
  def main(args: Array[String]): Unit = {
    // args(2..) optionally name a subset of queries to dump (local
    // iteration aid; the driver always passes exactly two args).
    val Array(sfDir, outDir) = args.take(2)
    val wanted = args.drop(2).toSet
    val spark = GraftSession.local(GraftSession.envCores(4))
    new java.io.File(outDir).mkdirs()
    val registry = SparkEntry.queries
    val names = registry.keys.toSeq.filter(k => wanted.isEmpty || wanted(k))
    val runs = EntryRuns.run(names, "verify") { name =>
      registry(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles =
      if (wanted.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter { case (k, _) => wanted(k) }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a query that threw has no dump: name it and fail the run
    if (runs.failed.nonEmpty) {
      System.err.println(s"[verify] failed: ${runs.failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
