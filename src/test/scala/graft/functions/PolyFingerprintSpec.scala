package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the native PolyFingerprint kernel bit-equal to the interpreted
  * HOF chain it replaced (q_text_fingerprint, round-20 optimization),
  * so the DuckDB oracle — which mirrors the HOF fold — cannot move. */
class PolyFingerprintSpec extends SparkSpec {

  test("kernel == HOF witness on the real corpus") {
    val d = graft.Tables.documents(spark, sf)
    val diff = d.select(
        PolyFingerprint.fingerprint(col("text")).as("k"),
        KernelWitnesses.textFingerprintHof.as("h"))
      .filter(not(col("k") <=> col("h")))
      .count()
    assert(diff === 0L)
  }

  test("kernel == HOF witness on edge cases: empty, 1-char, multibyte, " +
    "supplementary, null") {
    val rows = Seq(
      Some(""), Some("a"), Some("abc def"), Some("héllo wörld"),
      Some("中文 text"), Some("emoji 😀 tail"), None)
    import spark.implicits._
    val df = rows.toDF("text")
    val out = df.select(
        PolyFingerprint.fingerprint(col("text")).as("k"),
        KernelWitnesses.textFingerprintHof.as("h"))
      .collect()
    out.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1))
    }
    // null text -> null fingerprint in both forms
    assert(out.last.isNullAt(0))
  }
}
