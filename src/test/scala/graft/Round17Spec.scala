package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 contract pins that need no SparkSession. */
class Round17Spec extends AnyFunSuite {

  test("semdedupLevels: unset levels auto-size to ceil(n^(1/4)) floored " +
    "at 2; a HALF-set pair honors the set level independently") {
    import graft.queries.Dedup.semdedupLevels
    // the auto rule itself
    assert(semdedupLevels(1L, 0, 0) == (2, 2))       // floor
    assert(semdedupLevels(16L, 0, 0) == (2, 2))      // 16^(1/4) = 2
    assert(semdedupLevels(17L, 0, 0) == (3, 3))      // ceil kicks in
    assert(semdedupLevels(24000L, 0, 0) == (13, 13)) // the 10x corpus
    assert(semdedupLevels(600000L, 0, 0) == (28, 28))
    // exact fourth powers and their successors: the rule is integer-
    // exact, so k^4 = n keeps k and n = k^4 + 1 steps to k + 1
    for ((n, k) <- Seq(16L -> 2, 17L -> 3, 81L -> 3, 82L -> 4,
        2401L -> 7, 2402L -> 8, 614656L -> 28, 614657L -> 29))
      assert(semdedupLevels(n, 0, 0) == ((k, k)), s"n = $n")
    // the corpus sizes at sf0.01 and sf0.1
    assert(semdedupLevels(600L, 0, 0) == (5, 5))
    assert(semdedupLevels(2400L, 0, 0) == (7, 7))
    // both set: taken verbatim (resolved before this fn in the entry,
    // but the pure rule must agree)
    assert(semdedupLevels(24000L, 32, 20) == (32, 20))
    // HALF-set (the round-16 advisory): the set one sticks, the unset
    // one auto-sizes — not silently both-auto
    assert(semdedupLevels(24000L, 32, 0) == (32, 13))
    assert(semdedupLevels(24000L, 0, 20) == (13, 20))
  }
}
