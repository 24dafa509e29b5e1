package graft.sources

import java.nio.file.Files

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Differential fuzz for the graft write → read round trip: randomized
  * frames over the writer's full type surface — adversarial strings
  * (delimiters, quotes, doubled quotes, CRs, unicode incl.
  * supplementary plane, leading/trailing spaces), extreme numerics
  * (±0.0, denormals, 1e±300, Long.Min/Max), epoch-boundary dates and
  * timestamps, and random null patterns — must come back value-equal
  * through `format("graft")`. Fixed seed, so failures reproduce.
  *
  * Strings that READ back as null or a non-string type are excluded by
  * construction (a prefix pins them): inference is value-based, so a
  * column of "123"s honestly comes back i64 — that is reference
  * semantics, not a writer defect.
  */
class GraftWriterFuzzSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType),
    StructField("n", LongType),
    StructField("d", DoubleType),
    StructField("b", BooleanType),
    StructField("dt", DateType),
    StructField("ts", TimestampNTZType)))

  private def randomRows(rnd: Random, n: Int): Seq[Row] = {
    // no CR/LF here: embedded line terminators are rejected by default
    // (GraftWriterSpec pins that behavior and the strip mode)
    val stringPool = Seq(
      "plain", "with\ttab", "with,comma", "say \"hi\"", "a\"\"b",
      "trail ", " lead", "é日本😀", "semi;colon",
      "pipe|bar", "  double  space  ", "\"fully quoted\"")
    (0 until n).map { i =>
      def maybeNull[A](v: A): Any = if (rnd.nextInt(8) == 0) null else v
      val s =
        // prefix pins the column to STRING and never collides with
        // null tokens / numerics
        "s_" + stringPool(rnd.nextInt(stringPool.length)) + rnd.nextInt(1000)
      val d = rnd.nextInt(8) match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => 1e300
        case 3 => -1e-300
        case 4 => java.lang.Double.MIN_VALUE
        case 5 => -java.lang.Double.MAX_VALUE
        case _ => rnd.nextDouble() * 2e6 - 1e6
      }
      val ln = rnd.nextInt(6) match {
        case 0 => Long.MaxValue
        case 1 => Long.MinValue
        case 2 => 0L
        case _ => rnd.nextLong() % 1000000L
      }
      val day = rnd.nextInt(40000) - 10000 // ±~27y around epoch
      val micros = (rnd.nextLong() % (50L * 365 * 86400)) * 1000000L +
        rnd.nextInt(1000) * 1000L // ms precision (the writer's unit)
      Row(
        i.toLong,
        maybeNull(s),
        maybeNull(ln),
        maybeNull(d),
        maybeNull(rnd.nextBoolean()),
        maybeNull(java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(day.toLong).toString)),
        maybeNull(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L).toInt * 1000,
          java.time.ZoneOffset.UTC)))
    }
  }

  test("randomized frames round-trip value-equal through write -> read") {
    val rnd = new Random(20260812L)
    Seq('\t', ',', ';', '|').zipWithIndex.foreach { case (sep, trial) =>
      val dir = tempDir(s"graft_wfuzz_$trial").toString
      val rows = randomRows(rnd, 400)
      val df = spark.createDataFrame(rows.asJava, schema)
      df.write.format("graft").option("sep", sep.toString)
        .mode("overwrite").save(dir)
      val back = spark.read.format("graft").option("sep", sep.toString)
        .load(dir)
      val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
      assert(types("s") == StringType && types("n") == LongType &&
        types("d") == DoubleType && types("b") == BooleanType &&
        types("dt") == DateType && types("ts") == TimestampNTZType,
        s"sep='$sep' inference drifted: $types")
      val a = df.orderBy("id").collect()
      val b = back.select(df.columns.map(org.apache.spark.sql.functions.col): _*)
        .orderBy("id").collect()
      assert(a.length == b.length, s"sep='$sep': ${a.length} vs ${b.length}")
      a.zip(b).foreach { case (x, y) =>
        assert(x == y, s"sep='$sep' mismatch:\n  wrote: $x\n  read:  $y")
      }
    }
  }

  test("randomized frames round-trip value-equal through the JSONL writer") {
    val rnd = new Random(20260814L)
    (0 until 3).foreach { trial =>
      val dir = tempDir(s"graft_wfuzz_jsonl_$trial").toString
      // JSONL carries what the delimited form cannot: embedded newlines
      // ride as \n escapes, so add them to the adversarial pool here
      val rows = randomRows(rnd, 400).map { r =>
        if (r.isNullAt(1) || rnd.nextInt(6) != 0) r
        else Row.fromSeq(r.toSeq.updated(1,
          r.getString(1) + "\nline2\r\nline3"))
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      df.write.format("graft").option("format", "jsonl")
        .mode("overwrite").save(dir)
      val back = spark.read.format("graft").load(dir)
      val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
      assert(types("s") == StringType && types("n") == LongType &&
        types("d") == DoubleType && types("b") == BooleanType &&
        types("dt") == DateType && types("ts") == TimestampNTZType,
        s"jsonl inference drifted: $types")
      val a = df.orderBy("id").collect()
      val b = back.select(df.columns.map(org.apache.spark.sql.functions.col): _*)
        .orderBy("id").collect()
      assert(a.length == b.length, s"jsonl: ${a.length} vs ${b.length}")
      a.zip(b).foreach { case (x, y) =>
        assert(x == y, s"jsonl mismatch:\n  wrote: $x\n  read:  $y")
      }
    }
  }
}
