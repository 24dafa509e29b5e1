package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The codegen'd dot-product / argmin-distance kernels must agree
  * bit-for-bit with their higher-order-function formulations under both
  * evaluation modes — every embedding oracle hashes raw doubles with
  * zero slack, so "close" is not enough (the NormalizeVec discipline).
  */
class VectorKernelsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, seed: Long): Seq[(Long, Array[Double], Array[Double])] = {
    val rng = new scala.util.Random(seed)
    (0L until n).map { i =>
      (i, Array.fill(64)(rng.nextGaussian()), Array.fill(64)(rng.nextGaussian()))
    }
  }

  test("graft_dot == interpreted zip_with/aggregate fold, bit-for-bit") {
    val df = vecs(200, 7).toDF("id", "a", "b")
    val rows = df.select(
      VectorKernels.dotD(col("a"), col("b")).as("fast"),
      KernelWitnesses.dotDHof(col("a"), col("b")).as("slow")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} != ${r.getDouble(1)} (bitwise)")
    }
  }

  test("graft_dot null semantics mirror the HOF fold: unequal lengths " +
    "and null elements both yield NULL") {
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0))
    ).toDF("a", "b")
    val rows = df.select(
      VectorKernels.dotD(col("a"), col("b")).as("fast"),
      KernelWitnesses.dotDHof(col("a"), col("b")).as("slow")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0) && !rows(2).isNullAt(0))
  }

  test("graft_argmin_sqdist == first-position-of-min over interpreted " +
    "distance folds, including exact ties (lowest id wins)") {
    val rng = new scala.util.Random(11)
    val cents: Seq[(Long, Array[Double])] =
      (0L until 16L).map(i => (i * 3 + 1, Array.fill(64)(rng.nextGaussian())))
    // random vectors + exact copies of centroid rows (distance-0 hits)
    // + a duplicated centroid pair (cents(3) == cents(9) would tie) —
    // build a variant list where two entries are identical
    val tied = cents.updated(9, (cents(9)._1, cents(3)._2.clone()))
    val probes = vecs(120, 13).map(_._2) ++ tied.map(_._2.clone())
    val df = probes.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val rows = df.select(
      graft.queries.Similarity.argminCid(col("vec"), tied).as("fast"),
      KernelWitnesses.argminCidHof(col("vec"), tied).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"argmin disagreement: $r")
    }
    // the duplicated-centroid probe must break the exact tie toward the
    // EARLIER entry in both forms
    val probeOfTied = df.filter(col("id") === (120 + 9).toLong)
    val got = probeOfTied.select(
      graft.queries.Similarity.argminCid(col("vec"), tied)).head.getLong(0)
    assert(got == tied(3)._1, s"tie broke toward $got, not ${tied(3)._1}")
  }

  test("graft_argmin_grouped == the CASE-of-argmin witness bit-for-bit, " +
    "including ties, unknown cids, and length mismatches") {
    val rng = new scala.util.Random(31)
    val dims = 16
    // sparse coarse ids (2, 5, 6) with ragged fine counts, one duplicated
    // fine centroid inside a slice (exact tie -> lowest fid)
    val mk = () => Array.fill(dims)(rng.nextGaussian())
    val dup = mk()
    val fine: Map[Long, Seq[(Long, Array[Double])]] = Map(
      2L -> Seq((0L, mk()), (3L, dup), (7L, dup.clone())),
      5L -> Seq((1L, mk())),
      6L -> Seq((0L, mk()), (2L, mk()), (4L, mk()), (9L, mk())))
    val rows = (0 until 300).map { i =>
      val cid = Seq(2L, 5L, 6L, 99L)(i % 4) // 99 = unknown coarse id
      val len = if (i % 11 == 0) dims - 1 else dims
      (i.toLong, cid, Array.fill(len)(rng.nextGaussian()).toSeq)
    } ++ Seq((1000L, 2L, dup.toSeq)) // distance-0 tie probe
    val df = rows.toDF("id", "cid", "vec")
    val got = df.select(
      graft.queries.Similarity.fineCid(col("vec"), col("cid"), fine).as("fast"),
      KernelWitnesses.fineCidCaseWitness(col("vec"), col("cid"), fine)
        .as("slow")).collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null disagreement at $i: $r")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), s"at $i: $r")
    }
    assert(got.exists(_.isNullAt(0)) && got.exists(!_.isNullAt(0)))
    // the duplicated-centroid probe breaks its exact tie toward fid 3
    val tied = df.filter(col("id") === 1000L).select(
      graft.queries.Similarity.fineCid(col("vec"), col("cid"), fine))
      .head.getLong(0)
    assert(tied == 3L, s"tie broke toward $tied, not 3")
  }

  test("kernels agree under interpreted (non-codegen) eval too") {
    val df = vecs(30, 17).toDF("id", "a", "b")
    val cents = vecs(4, 19).map { case (i, a, _) => (i, a) }
    val fast = df.select(
      VectorKernels.dotD(col("a"), col("b")),
      graft.queries.Similarity.argminCid(col("a"), cents)).collect()
      .map(_.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(
        VectorKernels.dotD(col("a"), col("b")),
        graft.queries.Similarity.argminCid(col("a"), cents)).collect()
        .map(_.toString)
      assert(fast.toSeq == interp.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL surface: graft_dot callable and equal to the Column form") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(CAST(1.5 AS DOUBLE), CAST(-2.0 AS DOUBLE)),
        |                 array(CAST(4.0 AS DOUBLE), CAST(0.5 AS DOUBLE))) AS d
        |""".stripMargin).head.getDouble(0)
    assert(r == 1.5 * 4.0 + -2.0 * 0.5)
  }
}
