package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' shared failure rule. */
class EntryRunsSpec extends AnyFunSuite {

  test("a throwing entry is named and left out; the others keep their results") {
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = EntryRuns.run(Seq("q_ok", "q_bad", "q_after"), "bench", logged += _) { name =>
      ran += name
      if (name == "q_bad") throw new IllegalStateException("boom")
      name.length.toDouble
    }
    assert(ran == Seq("q_ok", "q_bad", "q_after"), "a failure must not stop the run")
    assert(out.ok == Seq("q_ok" -> 4.0, "q_after" -> 7.0))
    assert(out.failed == Seq("q_bad"))
    assert(out.failedJson == """["q_bad"]""")
    assert(logged == Seq("[bench] q_bad failed: boom"))
  }

  test("no failures: empty failed list") {
    val out = EntryRuns.run(Seq("a"), "verify", _ => fail("nothing should be logged"))(_ => ())
    assert(out.ok == Seq("a" -> (())) && out.failed.isEmpty)
    assert(out.failedJson == "[]")
  }
}
