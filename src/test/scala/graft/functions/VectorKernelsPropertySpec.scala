package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property sweep of the native vector kernels against their interpreted
  * higher-order-function witnesses (VERDICT r14 task 8): every oracle
  * that hashes raw doubles rides these kernels, so a future kernel edit
  * that drifts even one ulp — or one null decision — must fail loudly
  * here, not silently move oracle hashes. Raw ScalaCheck generators with
  * fixed seeds (the scalatest bridge artifact isn't in the offline
  * cache), same discipline as graft.ingest.PropertySpec.
  *
  * Coverage demanded by the task: lengths 0–256, NaN/±Inf/null element
  * mixes, unequal lengths — asserting BIT-equality (doubleToRawLongBits)
  * of DotProductD vs the zip_with/aggregate fold and of ArgminSqDist
  * (through argminCid) vs the k-interpreted-folds first-position-of-min.
  */
class VectorKernelsPropertySpec extends SparkSpec {
  import spark.implicits._

  // element generator: dense in ordinary values, spiked with the IEEE
  // specials and a null slot
  private val element: Gen[java.lang.Double] = Gen.frequency(
    8 -> Gen.chooseNum(-1e6, 1e6).map(d => java.lang.Double.valueOf(d)),
    2 -> Gen.oneOf(
      java.lang.Double.valueOf(Double.NaN),
      java.lang.Double.valueOf(Double.PositiveInfinity),
      java.lang.Double.valueOf(Double.NegativeInfinity),
      java.lang.Double.valueOf(0.0),
      java.lang.Double.valueOf(-0.0),
      java.lang.Double.valueOf(java.lang.Double.MIN_VALUE),
      java.lang.Double.valueOf(1e308),
      java.lang.Double.valueOf(-1e308)),
    1 -> Gen.const(null: java.lang.Double))

  private def vecOf(len: Int, seed: Long): Seq[java.lang.Double] =
    (0 until len).map(i =>
      element(Gen.Parameters.default, Seed(seed * 1000003L + i))
        .getOrElse(java.lang.Double.valueOf(0.0)))

  // deterministic length schedule: dense at the argmin dims (16) for
  // equal-length value-path hits, spread over 0-256 for the null path
  private def lenOf(seed: Long): Int = {
    val r = new scala.util.Random(seed)
    r.nextInt(10) match {
      case 0 => r.nextInt(257)
      case 1 => 0
      case 2 | 3 | 4 => 16
      case _ => r.nextInt(33)
    }
  }

  private def assertBitEqual(rows: Array[Row], what: String): Unit =
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"$what null disagreement at row $i: $r")
      if (!r.isNullAt(0)) {
        r.get(0) match {
          case d: java.lang.Double =>
            // NaN payloads are NOT bit-pinned: Spark's UnsafeWriter
            // canonicalizes NaN when materializing intermediate arrays
            // (the HOF path), while the kernel computes the scalar
            // directly — both are NaN, and no oracle emits NaN, so NaN
            // vs NaN passes; every non-NaN double must bit-match.
            val slow = r.getDouble(1)
            if (d.isNaN || slow.isNaN)
              assert(d.isNaN && slow.isNaN, s"$what NaN disagreement at row $i: $r")
            else
              assert(java.lang.Double.doubleToRawLongBits(d) ==
                java.lang.Double.doubleToRawLongBits(slow),
                s"$what bit disagreement at row $i: $r")
          case _ =>
            assert(r.get(0) == r.get(1), s"$what disagreement at row $i: $r")
        }
      }
    }

  test("property: graft_dot == HOF fold over random lengths 0-256 with " +
    "NaN/Inf/null/subnormal mixes and unequal lengths") {
    val rows = (0 until 400).map { i =>
      // ~half the pairs share a length (value path), ~half differ (null path)
      val la = lenOf(i * 2L + 1)
      val lb = if (i % 2 == 0) la else lenOf(i * 2L + 2)
      (vecOf(la, i * 7L + 3), vecOf(lb, i * 7L + 4))
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      VectorKernels.dotD(col("a"), col("b")).as("fast"),
      KernelWitnesses.dotDHof(col("a"), col("b")).as("slow")).collect()
    assertBitEqual(got, "graft_dot")
    // the sweep must exercise both branches
    assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)))
  }

  test("property: argminCid == HOF first-position-of-min over random " +
    "vectors incl. specials; length mismatch and null elements -> NULL " +
    "in BOTH forms") {
    val dims = 16
    val rng = new scala.util.Random(23)
    val cents: Seq[(Long, Array[Double])] =
      (0L until 8L).map(c => (c * 5 + 2, Array.fill(dims)(rng.nextGaussian())))
    // explicit pins FIRST for the advisory's exact failure mode: a
    // length-mismatched (prefix-shaped) vector must be NULL, not a
    // silently-wrong prefix assignment
    val short = Seq((1L, Seq.fill(dims - 1)(java.lang.Double.valueOf(1.0))), // dims-1
      (2L, Seq.fill(dims + 1)(java.lang.Double.valueOf(1.0))),               // dims+1
      (3L, Seq.empty[java.lang.Double]))                                     // empty
      .toDF("id", "vec")
    val mm = short.select(
      graft.queries.Similarity.argminCid(col("vec"), cents).as("fast"),
      KernelWitnesses.argminCidHof(col("vec"), cents).as("slow"))
      .collect()
    mm.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1),
      s"length mismatch must be NULL in both forms: $r"))
    val rows = (0 until 400).map { i =>
      (i.toLong, vecOf(lenOf(i * 3L + 11), i * 13L + 5))
    }
    val df = rows.toDF("id", "vec")
    val got = df.select(
      graft.queries.Similarity.argminCid(col("vec"), cents).as("fast"),
      KernelWitnesses.argminCidHof(col("vec"), cents).as("slow"))
      .collect()
    assertBitEqual(got, "argmin")
    assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)))
  }

  test("property: graft_argmin_grouped == CASE-of-argmin witness over " +
    "random group shapes, boundary/out-of-range/null cids, null vectors, " +
    "length mismatches and null elements (VERDICT r15 task 6)") {
    val dims = 16
    (0 until 8).foreach { trial =>
      val rng = new scala.util.Random(1000 + trial)
      // random group count with SPARSE coarse ids (clusters drop in real
      // fits) and random per-group slice sizes 1-5; fine labels are
      // non-contiguous too (c*10+f) so a slice-index bug can't hide
      val nGroups = 1 + rng.nextInt(6)
      val cids = new scala.util.Random(trial * 31L)
        .shuffle((0L until 12L).toList).take(nGroups).sorted
      val fine: Map[Long, Seq[(Long, Array[Double])]] = cids.map { c =>
        val k = 1 + rng.nextInt(5)
        val cents = (0 until k).map(f =>
          (c * 10 + f, Array.fill(dims)(rng.nextGaussian()))).toSeq
        // half the multi-centroid groups get an EXACT duplicate pair so
        // ties are real: the probe must take the lowest fine label
        val tied = if (k >= 2 && rng.nextBoolean())
          cents.updated(1, (cents(1)._1, cents.head._2.clone())) else cents
        c -> tied
      }.toMap
      val minC = cids.min
      val maxC = cids.max
      val rows: Seq[(java.lang.Long, Seq[java.lang.Double])] =
        (0 until 200).map { i =>
          // cid schedule: fitted ids, BOTH boundaries, the out-of-range
          // neighbors (min-1 / max+1 — the span edge), gap ids between
          // sparse groups, far-out ids, and NULL
          val cid: java.lang.Long = rng.nextInt(12) match {
            case 0 => java.lang.Long.valueOf(minC)
            case 1 => java.lang.Long.valueOf(maxC)
            case 2 => java.lang.Long.valueOf(minC - 1)
            case 3 => java.lang.Long.valueOf(maxC + 1)
            case 4 => java.lang.Long.valueOf(rng.nextInt(14) - 1L)
            case 5 => java.lang.Long.valueOf(Long.MaxValue - rng.nextInt(3))
            case 6 => null
            case _ => java.lang.Long.valueOf(cids(rng.nextInt(nGroups)))
          }
          // vector schedule: mostly dims-length ordinary/special values
          // (vecOf spikes NaN/Inf/null elements), some short/long/empty,
          // and whole-vector NULL
          val vec: Seq[java.lang.Double] = rng.nextInt(10) match {
            case 0 => vecOf(rng.nextInt(dims), i * 17L + trial)
            case 1 => vecOf(dims + 1 + rng.nextInt(8), i * 17L + trial)
            case 2 => null
            case _ => vecOf(dims, i * 17L + trial)
          }
          (cid, vec)
        } ++
        // pinned probe rows AT each group's centroids: where a group
        // carries the planted duplicate pair, distance ties exactly and
        // the lowest fine label must win in both forms
        fine.toSeq.map { case (c, cents) =>
          (java.lang.Long.valueOf(c): java.lang.Long,
            cents.head._2.map(java.lang.Double.valueOf).toSeq)
        }
      val df = rows.toDF("cid", "vec")
      val got = df.select(
        graft.queries.Similarity.fineCid(col("vec"), col("cid"), fine).as("fast"),
        KernelWitnesses.fineCidCaseWitness(col("vec"), col("cid"), fine).as("slow"))
        .collect()
      assertBitEqual(got, s"argmin_grouped trial $trial")
      assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)),
        s"trial $trial must exercise both the NULL and value branches")
    }
  }

  test("property: kernels agree with witnesses under interpreted " +
    "(non-codegen) eval too") {
    val dims = 16
    val rng = new scala.util.Random(29)
    val cents: Seq[(Long, Array[Double])] =
      (0L until 4L).map(c => (c, Array.fill(dims)(rng.nextGaussian())))
    val rows = (0 until 80).map { i =>
      (vecOf(lenOf(i * 5L + 17), i * 11L + 7), vecOf(lenOf(i * 5L + 17), i * 11L + 8))
    }
    val df = rows.toDF("a", "b")
    def run() = df.select(
      VectorKernels.dotD(col("a"), col("b")),
      graft.queries.Similarity.argminCid(col("a"), cents)).collect()
      .map(_.toString).toSeq
    val codegen = run()
    withSQLConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(run() == codegen)
    }
  }
}
