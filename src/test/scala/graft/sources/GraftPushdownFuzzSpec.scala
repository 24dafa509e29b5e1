package graft.sources

import java.nio.file.Files

import scala.util.Random

import graft.SparkSpec
import graft.ingest.IngestPipeline
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{CollectLimitExec, FilterExec, LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Differential fuzz for filters over the graft DSv2 scan: for
  * randomized data (including null tokens, parse failures, and short
  * rows) and a battery of predicates, a filtered `format("graft")` read
  * must return exactly the rows of `IngestPipeline.convert` with the
  * same predicate. Fixed seed, so failures reproduce. The scan takes
  * only column pruning; every predicate runs in Spark's Filter above it.
  */
class GraftPushdownFuzzSpec extends SparkSpec {

  private lazy val fixture: String = {
    val rnd = new Random(20260812L)
    val dir = tempDir("graft_pushdown_fuzz")
    // two part files — exercises the multi-partition directory path.
    // Rows 0-999 are clean so the 1,000-row inference sample decides the
    // intended types (id/v LONG, score DOUBLE, flag BOOLEAN); null
    // tokens, parse failures, and short rows all land in the tail.
    def cell(i: Int, col: Int): String = {
      val dirty = i >= 1000
      (if (dirty) rnd.nextInt(12) else 99) match {
        case 0 => "null" // null token
        case 1 => "" // empty → null
        case 2 if col == 2 => "oops" // parse failure in numeric col
        case _ => col match {
          case 0 => i.toString
          case 1 => s"w${rnd.nextInt(5)}_${rnd.nextInt(100)}"
          case 2 => (rnd.nextInt(2000) - 1000).toString
          case 3 => f"${rnd.nextDouble() * 200 - 100}%.3f"
          case 4 => if (rnd.nextBoolean()) "yes" else "no"
        }
      }
    }
    def file(name: String, from: Int, n: Int): Unit = {
      val rows = (from until from + n).map { i =>
        // occasional short row (null-padded by the reader), tail only
        val cols = if (i >= 1000 && rnd.nextInt(40) == 0) 3 else 5
        (0 until cols).map(c => cell(i, c)).mkString("\t")
      }
      Files.writeString(dir.resolve(name),
        rows.mkString("id\tname\tv\tscore\tflag\n", "\n", "\n"))
    }
    file("p1.tsv", 0, 1500)
    file("p2.tsv", 1500, 1500)
    dir.toString
  }

  private def predicates: Seq[(String, Column)] = Seq(
    "gt" -> (col("v") > 100),
    "lt_or_null" -> (col("v") < -500 || col("v").isNull),
    "between" -> (col("v") >= -100 && col("v") <= 100),
    "neq" -> (col("v") =!= 0),
    "null_safe_eq" -> (col("v") <=> lit(null)),
    "in_set" -> col("v").isin(1L, 2L, 3L, 500L, -999L),
    "flag_and_range" -> (col("flag") === true && col("score") > 0.0),
    "flag_neg" -> (col("flag") =!= true),
    "str_prefix" -> col("name").startsWith("w1"),
    "str_contains_or" -> (col("name").contains("_7") || col("name").endsWith("9")),
    "not_in" -> !col("name").isin("w1_1", "w2_2"),
    "id_mix" -> (col("id") % 7 === 0 && col("v").isNotNull),
    "complex" -> ((col("v") > 0 && col("flag") === false) ||
      (col("score") < -50.0 && col("name").startsWith("w3"))),
    "all_null_checks" -> (col("v").isNull && col("score").isNotNull)
  )

  test("pushed filters return exactly the post-scan rows (randomized corpus)") {
    val viaSource = spark.read.format("graft").load(fixture)
    val viaPipeline = IngestPipeline.convert(spark, fixture)
    assert(viaSource.count() == 3000 && viaPipeline.count() == 3000)
    predicates.foreach { case (label, pred) =>
      val got = viaSource.filter(pred).orderBy("id", "name").collect()
      val want = viaPipeline.filter(pred).orderBy("id", "name").collect()
      assert(got.length == want.length,
        s"[$label] source=${got.length} rows, pipeline=${want.length}")
      got.zip(want).foreach { case (a, b) =>
        assert(a == b, s"[$label] row mismatch:\n  source:   $a\n  pipeline: $b")
      }
    }
  }

  private lazy val jsonlFixture: String = {
    val rnd = new Random(20260814L)
    val dir = tempDir("graft_pushdown_fuzz_jsonl")
    // same shape as the delimited fixture: a clean 1,000-line inference
    // head, then a dirty tail with JSON nulls, MISSING keys (the JSONL
    // analogue of short rows), numeric parse failures, and the odd
    // malformed line (all-null row in BOTH paths)
    def rowJson(i: Int): String = {
      if (i >= 1000 && rnd.nextInt(60) == 0) return "{{{ malformed"
      val dirty = i >= 1000
      def roll = dirty && rnd.nextInt(12) == 0
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      parts += s""""id":$i"""
      if (!roll) parts += s""""name":"w${rnd.nextInt(5)}_${rnd.nextInt(100)}""""
      parts += (if (roll) """"v":"oops"""" else if (roll) """"v":null"""
        else s""""v":${rnd.nextInt(2000) - 1000}""")
      if (!roll) parts += f""""score":${rnd.nextDouble() * 200 - 100}%.3f"""
      parts += (if (roll) """"flag":null"""
        else s""""flag":${rnd.nextBoolean()}""")
      parts.mkString("{", ",", "}")
    }
    def file(name: String, from: Int, n: Int): Unit =
      Files.writeString(dir.resolve(name),
        (from until from + n).map(rowJson).mkString("", "\n", "\n"))
    file("p1.jsonl", 0, 1500)
    file("p2.jsonl", 1500, 1500)
    dir.toString
  }

  test("JSONL pushed filters return exactly the post-scan rows (randomized corpus)") {
    val viaSource = spark.read.format("graft").load(jsonlFixture)
    val viaPipeline = graft.ingest.JsonlIngest.convert(spark, jsonlFixture)
    assert(viaSource.schema.map(f => (f.name, f.dataType)) ==
      viaPipeline.schema.map(f => (f.name, f.dataType)))
    assert(viaSource.count() == 3000 && viaPipeline.count() == 3000)
    predicates.foreach { case (label, pred) =>
      val got = viaSource.filter(pred).orderBy("id", "name").collect()
      val want = viaPipeline.filter(pred).orderBy("id", "name").collect()
      assert(got.length == want.length,
        s"[jsonl $label] source=${got.length} rows, pipeline=${want.length}")
      got.zip(want).foreach { case (a, b) =>
        assert(a == b, s"[jsonl $label] row mismatch:\n  source:   $a\n  pipeline: $b")
      }
    }
  }

  test("string range pushdown uses binary order for supplementary-plane chars") {
    // U+10000 (surrogate pair, UTF-16 units 0xD800 0xDC00) sorts BELOW
    // U+E000 in Java String order but ABOVE it in UTF8String binary
    // (code-point) order, which is what Spark uses. A range filter over
    // the graft read must agree with the pipeline on such data.
    val dir = tempDir("graft_pushdown_utf8")
    val supp = new String(Character.toChars(0x10000)) // 𐀀
    val bmp = "" // private-use BMP char
    Files.writeString(dir.resolve("d.tsv"),
      s"id\tname\n1\t$supp\n2\t$bmp\n3\tzz\n4\taa\n")
    val viaSource = spark.read.format("graft").load(dir.toString)
    val viaPipeline = IngestPipeline.convert(spark, dir.toString)
    Seq[(String, Column)](
      "gt_bmp" -> (col("name") > bmp),
      "lt_bmp" -> (col("name") < bmp),
      "ge_supp" -> (col("name") >= supp),
      "le_supp" -> (col("name") <= supp)
    ).foreach { case (label, pred) =>
      val got = viaSource.filter(pred).select("id").orderBy("id").collect().toSeq
      val want = viaPipeline.filter(pred).select("id").orderBy("id").collect().toSeq
      assert(got == want, s"[$label] source=$got pipeline=$want")
    }
  }

  test("the graft scan takes only column pruning") {
    // filters, limits, top-N and aggregates are Spark's operators above
    // the scan; the scan's own text names no pushdown
    val src = spark.read.format("graft").load(fixture)
    val pred = col("v") > 100 && col("name").startsWith("w1") &&
      col("flag") === true && col("id").isin(1L, 2L, 3L)
    Seq[(String, DataFrame, SparkPlan => Boolean)](
      ("Filter", src.filter(pred).select("id"), _.isInstanceOf[FilterExec]),
      // a root limit plans as CollectLimit: per partition, then global
      ("limit", src.limit(7),
        p => p.isInstanceOf[CollectLimitExec] || p.isInstanceOf[LocalLimitExec]),
      ("TakeOrderedAndProject", src.orderBy(col("v").desc).limit(3),
        _.isInstanceOf[TakeOrderedAndProjectExec]),
      ("HashAggregate", src.groupBy("flag").agg(count(lit(1)), max("v")),
        _.isInstanceOf[HashAggregateExec])
    ).foreach { case (label, df, isOp) =>
      val plan = df.queryExecution.sparkPlan
      val scans = plan.collect { case s: BatchScanExec => s }
      assert(scans.length == 1, s"[$label] ${scans.length} scans:\n$plan")
      val scan = scans.head
      assert(!scan.toString.contains("Pushed"), s"[$label] scan takes a pushdown: $scan")
      assert(plan.exists(n => isOp(n) && n.children.exists(_.exists(_ eq scan))),
        s"[$label] no Spark $label above the scan:\n$plan")
    }
    // pruning is the one pushdown it takes: score is never read here
    val pruned = src.filter(pred).select("id").queryExecution.sparkPlan
      .collect { case s: BatchScanExec => s }.head
    assert(pruned.output.map(_.name).sorted == Seq("flag", "id", "name", "v"),
      pruned.toString)
  }
}
