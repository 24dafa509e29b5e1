package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** Inference decision parity, ported from
  * /root/reference/tests/schema_tests.rs + SURVEY §1.3 subtleties.
  */
class TypeDecisionSpec extends AnyFunSuite {

  private def statsOf(values: Seq[String]): ColStats =
    values.foldLeft(ColStats.empty)(_.observe(_))

  test("all-digit columns → UInt64 (schema_tests.rs:14-28, unsigned preference)") {
    val s = statsOf(Seq("1", "2", "3", "4", "5", "6"))
    assert(TypeDecision.decideRef(s) == "UInt64")
    assert(TypeDecision.decide(s) == LongType) // §7.4.1 policy: fits i64
  }

  test("mixed bool/date/float (schema_tests.rs:30-43)") {
    assert(TypeDecision.decideRef(statsOf(Seq("true", "false"))) == "Boolean")
    assert(TypeDecision.decideRef(statsOf(Seq("2024-01-01", "2024-01-02"))) == "Date32")
    assert(TypeDecision.decideRef(statsOf(Seq("3.14", "2.71"))) == "Float64")
    assert(TypeDecision.decide(statsOf(Seq("true", "false"))) == BooleanType)
    assert(TypeDecision.decide(statsOf(Seq("2024-01-01", "2024-01-02"))) == DateType)
    assert(TypeDecision.decide(statsOf(Seq("3.14", "2.71"))) == DoubleType)
  }

  test("bool outranks integer: 0/1 column is Boolean (schema.rs:256-258)") {
    assert(TypeDecision.decideRef(statsOf(Seq("0", "1", "1", "0"))) == "Boolean")
  }

  test("negative integers → Int64; mixed sign ≥0.5% negatives → Int64") {
    assert(TypeDecision.decideRef(statsOf(Seq("-1", "2", "-3"))) == "Int64")
    assert(TypeDecision.decide(statsOf(Seq("-1", "2", "-3"))) == LongType)
  }

  test("u64-range values → UInt64 → DecimalType(20,0)") {
    val s = statsOf(Seq("18446744073709551615", "5"))
    assert(TypeDecision.decideRef(s) == "UInt64")
    assert(TypeDecision.decide(s) == DecimalType(20, 0))
  }

  test("integers beyond u64 → Float64 (schema.rs:270-274)") {
    assert(TypeDecision.decideRef(statsOf(Seq("99999999999999999999999", "1"))) == "Float64")
    assert(TypeDecision.decide(statsOf(Seq("99999999999999999999999", "1"))) == DoubleType)
  }

  test("all-null column → LargeUtf8/String (schema.rs:236-239)") {
    assert(TypeDecision.decideRef(statsOf(Seq("", "NULL", "n/a"))) == "LargeUtf8")
    assert(TypeDecision.decide(statsOf(Seq("", "NULL"))) == StringType)
  }

  test("timestamp unit vote: majority wins, ms bias on ties (schema.rs:220-234)") {
    val ns = statsOf(Seq.fill(3)("2024-01-01 12:00:00.123456789") :+ "2024-01-01 12:00:00")
    assert(TypeDecision.decideRef(ns) == "Timestamp(TsNano)")
    // no-fraction datetimes default to precision 3 → ms (schema.rs:54)
    val plain = statsOf(Seq("2024-01-01 12:00:00", "2024-01-02 08:30:00"))
    assert(TypeDecision.decideRef(plain) == "Timestamp(TsMilli)")
    assert(TypeDecision.decide(plain) == TimestampNTZType)
  }

  test("pure positive epoch ints never infer as timestamp (schema.rs:184 gate)") {
    // gate requires -/:/T in the value; "1700000000" has none → UInt64
    assert(TypeDecision.decideRef(statsOf(Seq("1700000000", "1700000001"))) == "UInt64")
    // but negative epochs contain '-' and pass the gate → timestamp
    val neg = statsOf(Seq("-1000000000", "-1000000001"))
    assert(TypeDecision.decideRef(neg).startsWith("Timestamp"))
  }

  test("decimal-looking data collapses to Float64 (no decimal type)") {
    assert(TypeDecision.decideRef(statsOf(Seq("1.50", "2.25", "3.75"))) == "Float64")
  }

  test("98% threshold: few outliers tolerated, many not") {
    val mostlyInts = Seq.fill(99)("7") :+ "x"
    assert(TypeDecision.decideRef(statsOf(mostlyInts)) == "UInt64")
    val tooDirty = Seq.fill(90)("7") ++ Seq.fill(10)("x")
    assert(TypeDecision.decideRef(statsOf(tooDirty)) == "LargeUtf8")
  }
}
