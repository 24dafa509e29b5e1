package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL-function expressions `graft_parse_ts_ms` and
  * `graft_parse_date_ymd` must agree with the pure-built-in chain (and
  * with CellParse's kernels, which the reference-parity tests pin) on
  * every edge case, under both codegen and interpreted evaluation. */
class TimestampMsParseSpec extends SparkSpec {
  import spark.implicits._

  private val cases = Seq(
    "1970-01-01 00:00:01", "1970-01-01T00:00:01", "1970-01-01 00:00:01.5",
    "1970-01-01 00:00:01.123456789", "02/01/1970 00:00:00",
    "1970/01/02 00:00:00", "1000000000", "2000000000000",
    "2000000000000000", "2000000000000000000", "999999999", "5000000000",
    "invalid", "", "  ", "2024-13-01 00:00:00", "2024-01-32 00:00:00",
    "2024-01-01 25:00:00", "2024-01-01T12:00:00+02:00", "-42", "1.5e3",
    "1970-1-2 3:4:5", "2/1/1970 0:0:1", "1970/1/2 0:0:0", "2020-1-2T3:4:5.25"
  )

  test("fused expression agrees with the built-in chain on all edges") {
    val df = cases.toDF("v").select(
      col("v"),
      CellOptions.parseTimestampMs(col("v")).as("fused"),
      graft.ingest.RetiredCastChains.parseTimestampMsChain(trim(col("v"))).as("chain"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.get(1) == r.get(2), s"input='${r.getString(0)}' fused=${r.get(1)} chain=${r.get(2)}")
    }
  }

  test("fused expression agrees under interpreted (non-codegen) eval") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val got = cases.toDF("v")
        .select(CellOptions.parseTimestampMs(col("v")).as("fused")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getLong(0))
      val want = cases.map(v =>
        CellOptions.parseTimestampMs(v).map(Long.box).orNull)
      assert(got.toSeq == want)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL registration: graft_parse_ts_ms callable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_parse_ts_ms('1970-01-01 00:00:01') AS a, graft_parse_ts_ms('junk') AS b")
      .collect()(0)
    assert(r.getLong(0) == 1000L && r.isNullAt(1))
  }

  test("fused date parse agrees with ScalarParse on all edges (both eval modes)") {
    val dateCases = Seq("1970-01-01", "02/01/1970", "13/01/1970", "01/13/1970",
      "2024-02-30", "2024-02-29", "invalid", "", " 2024-01-01 ", "31/12/1999")
    def run(): Seq[Any] = dateCases.toDF("v")
      .select(CellOptions.parseDateYmd(col("v")).as("d")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getDate(0).toLocalDate.toEpochDay.toInt).toSeq
    val want = dateCases.map(v =>
      CellOptions.parseDateYmd(v).map(Int.box).orNull)
    assert(run().map(x => if (x == null) null else Int.box(x.asInstanceOf[Int])) == want)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run().map(x => if (x == null) null else Int.box(x.asInstanceOf[Int])) == want)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("null propagates") {
    val got = Seq[Option[String]](None, Some("1000000000")).toDF("v")
      .select(CellOptions.parseTimestampMs(col("v"))).collect()
    assert(got(0).isNullAt(0) && got(1).getLong(0) == 1000000000000L)
  }
}
