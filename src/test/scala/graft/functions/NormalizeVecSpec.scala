package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The codegen'd normalize/argmax kernels must agree bit-for-bit with
  * their higher-order-function formulations under both evaluation
  * modes — the embedding oracles hash raw doubles with zero slack, so
  * "close" is not enough. */
class NormalizeVecSpec extends SparkSpec {
  import spark.implicits._

  private def floats(n: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    (0L until n).map(i => (i, Array.fill(64)(rng.nextGaussian().toFloat)))
  }

  test("codegen normalize == interpreted fold, bit-for-bit (float input)") {
    val df = floats(50, 5).toDF("id", "vec")
    val rows = df.select(
      VectorOps.normalized(col("vec")).as("fast"),
      KernelWitnesses.normalizedHof(col("vec")).as("slow")).collect()
    rows.foreach { r =>
      val (a, b) = (r.getSeq[Double](0), r.getSeq[Double](1))
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(y), s"$x != $y (bitwise)")
      }
    }
  }

  test("normalize agrees under interpreted (non-codegen) eval; double input too") {
    val df = floats(20, 9).map { case (i, v) => (i, v.map(_.toDouble)) }.toDF("id", "vec")
    val fast = df.select(VectorOps.normalized(col("vec"))).collect().map(_.getSeq[Double](0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(VectorOps.normalized(col("vec"))).collect().map(_.getSeq[Double](0))
      assert(fast.map(_.toSeq).toSeq == interp.map(_.toSeq).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL surface: graft_normalize_vec and graft_lsh_signature callable") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_normalize_vec(array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS nv,
        |  size(graft_lsh_signature(
        |    graft_normalize_vec(array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))), 2)) AS nbands
        |""".stripMargin).collect()(0)
    assert(r.getSeq[Double](0) == Seq(0.6, 0.8))
    assert(r.getInt(1) == 16)
  }

  test("null-element policy: any null element => whole result NULL (all three kernels)") {
    GraftFunctions.register(spark)
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))),
        |  (1L, array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE))),
        |  (2L, CAST(NULL AS ARRAY<DOUBLE>))
        |AS t(id, vec)""".stripMargin)
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    // codegen'd path
    val rows = df.select(col("id"),
      VectorOps.normalized(col("vec")).as("nv"),
      LshSignature.signature(col("vec"), 2).as("sig"),
      ArgmaxDot.argmaxDot(col("vec"), cents).as("am"))
      .orderBy("id").collect()
    assert(!rows(0).isNullAt(1) && !rows(0).isNullAt(2) && !rows(0).isNullAt(3))
    Seq(1, 2).foreach { i =>
      assert(rows(i).isNullAt(1), s"row $i normalize should be null")
      assert(rows(i).isNullAt(2), s"row $i lsh signature should be null")
      assert(rows(i).isNullAt(3), s"row $i argmax should be null")
    }
    // interpreted path agrees
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(col("id"),
        VectorOps.normalized(col("vec")).as("nv"),
        LshSignature.signature(col("vec"), 2).as("sig"),
        ArgmaxDot.argmaxDot(col("vec"), cents).as("am"))
        .orderBy("id").collect()
      Seq(1, 2).foreach { i =>
        assert(interp(i).isNullAt(1) && interp(i).isNullAt(2) && interp(i).isNullAt(3))
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("argmaxDot == struct-greatest formulation incl. tie-breaks") {
    val rng = new scala.util.Random(13)
    val cents = Seq.fill(16)(Array.fill(64)(rng.nextGaussian()))
    val df = floats(100, 21).toDF("id", "vec")
      .select(col("id"), VectorOps.normalized(col("vec")).as("nvec"))
    val viaGreatest = greatest(cents.zipWithIndex.map { case (c, i) =>
      struct(VectorOps.dotD(col("nvec"), lit(c)).as("d"), lit(i).as("i"))
    }: _*).getField("i")
    val rows = df.select(
      ArgmaxDot.argmaxDot(col("nvec"), cents).as("fast"),
      viaGreatest.as("slow")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // tie-break: identical centroids → higher index wins in both forms
    val twin = Seq(cents.head, cents.head)
    val r2 = df.limit(5).select(ArgmaxDot.argmaxDot(col("nvec"), twin)).collect()
    r2.foreach(r => assert(r.getInt(0) == 1))
  }
}
