package graft

import org.apache.spark.sql.functions._

/** Source/sink breadth beyond the reference's delimited-text + parquet:
  * the same DataFrame round-trips through JSON and ORC unchanged. */
class SourcesSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  test("json round-trip preserves rows and values") {
    val out = tempDir("graft_json").toString
    docs.write.mode("overwrite").json(out)
    val back = spark.read.json(out)
    assert(back.count() == docs.count())
    val a = docs.select("doc_id", "lang", "n_chars").orderBy("doc_id").collect().toSeq
    val b = back.select("doc_id", "lang", "n_chars").orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("orc round-trip preserves schema and values") {
    val out = tempDir("graft_orc").toString
    docs.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == docs.schema)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }

  test("csv sink + graft ingest re-reads with correct types") {
    val out = tempDir("graft_csvrt").toString
    docs.select(col("doc_id").cast("string"), col("lang"),
        col("n_chars").cast("string"))
      .write.mode("overwrite").option("header", "true").option("sep", "|").csv(out)
    val typed = graft.ingest.IngestPipeline.convert(spark, out)
    import org.apache.spark.sql.types._
    assert(typed.schema.map(_.dataType) == Seq(LongType, StringType, LongType))
    assert(typed.count() == docs.count())
  }
}
