package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Vector math over `Array[Float]` embedding columns, built from Spark's
  * higher-order functions (`zip_with`/`aggregate`) — codegen'd Catalyst
  * expressions, no UDFs, scale-independent.
  *
  * Determinism note: `aggregate(..., lit(0.0), _+_)` is a SEQUENTIAL
  * left fold per row, and DuckDB's `list_reduce` folds the same way
  * (seedless, but 0.0+x ≡ x for finite x), so both engines produce
  * bit-identical doubles — the oracle can compare raw cosines with no
  * rounding slack.
  */
object VectorOps {

  /** Sequential-fold dot product of two float vectors as double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Pre-normalized double vector: factor the norm out ONCE per vector so
    * pairwise stages need only a dot product (1 fold/pair instead of 3).
    * Runs as the codegen'd [[NormalizeVec]] primitive loop — bit-identical
    * to the interpreted HOF `transform(a, x / norm(a))` (same IEEE op
    * sequence; NormalizeVecSpec pins it against the test-side witness
    * `KernelWitnesses.normalizedHof`), so oracle hashes are unaffected. */
  def normalized(a: Column): Column = NormalizeVec.normalize(a)

  /** Dot product of two already-double vectors — runs as the codegen'd
    * [[DotProductD]] primitive loop (the interpreted HOF fold dominated
    * the pair-verify stages at scale); bit-identical to the HOF fold
    * (same ascending IEEE op sequence; VectorKernelsSpec pins it against
    * the test-side witness `KernelWitnesses.dotDHof`), so oracle hashes
    * are unaffected. */
  def dotD(a: Column, b: Column): Column = VectorKernels.dotD(a, b)

  def normalizedSql(a: String): String =
    s"list_transform($a, x -> CAST(x AS DOUBLE) / sqrt(${dotSql(a, a)}))"

  /** Random-hyperplane LSH band keys for a vector column, as an array of
    * `(band, bucket)` structs ready for `posexplode`. Each of `bands`
    * buckets hashes the signs of `bits` fixed hyperplane projections
    * (seeded Gaussian literals — plan constants, not data). Two vectors
    * with cosine c agree on one sign bit with p = 1 − acos(c)/π, so a
    * whole band matches with p^bits and at least one of the `bands`
    * bands with 1 − (1 − p^bits)^bands: at the defaults (16 bands × 10
    * bits) a 0.95-cosine pair is missed with prob ≈ 1.2e-3 while a
    * random (c≈0) pair collides with prob ≈ 1.6% — the knobs trade
    * recall against candidate volume. The band key is the ONLY join key
    * downstream, so candidate generation is one equi-join shuffle — no
    * all-pairs, no driver materialization.
    */
  def lshBandBuckets(vec: Column, dims: Int, bands: Int = 16,
                     bits: Int = 10, seed: Long = 97): Column = {
    val rng = new scala.util.Random(seed)
    val planes = Seq.fill(bands * bits)(Array.fill(dims)(rng.nextGaussian()))
    val bandCols = (0 until bands).map { b =>
      val bucket = (0 until bits).map { k =>
        val proj = aggregate(
          zip_with(vec, lit(planes(b * bits + k)), (x, w) => x.cast(DoubleType) * w),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    // length AND null-element policy shared with the LshSignature
    // kernel (rounds 15-16): a length-mismatched vector OR one carrying
    // null elements is NULL, not a signature — without the guard the
    // zip_with/aggregate null propagation collapsed every malformed
    // vector into band buckets 0 (a junk-candidate magnet at scale)
    when(size(vec) === dims && forall(vec, _.isNotNull), array(bandCols: _*))
  }

  def dotDSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
       |  p -> p[1] * p[2]), (x, y) -> x + y)""".stripMargin

  /** DuckDB mirrors: identical fold order and double arithmetic. */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
       |  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"
}
