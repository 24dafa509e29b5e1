package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.queries.Similarity

/** The formulations the codegen'd kernels replaced — interpreted
  * higher-order-function folds and retired column forms — kept as the
  * specs' independent witnesses: each kernel's spec pins it
  * bit-identical to its witness here. Not used at runtime.
  */
object KernelWitnesses {

  /** [[VectorOps.normalized]] as an interpreted HOF (NormalizeVecSpec). */
  def normalizedHof(a: Column): Column = {
    val n = VectorOps.norm(a)
    transform(a, x => x.cast(DoubleType) / n)
  }

  /** [[VectorOps.dotD]] as an interpreted HOF fold (VectorKernelsSpec). */
  def dotDHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** The [[PolyFingerprint]] kernel of `q_text_fingerprint` as the
    * interpreted per-character fold over `text` (PolyFingerprintSpec). */
  def textFingerprintHof: Column =
    aggregate(
      transform(split(col("text"), ""), ch => ascii(ch).cast(LongType)),
      lit(0L), (acc, c) => (acc * 31 + c) % 1000000007L)

  /** [[Similarity.lshSignBucket]] as 12 interpreted folds — the shape
    * the DuckDB oracle text mirrors (Round20OptSpec). */
  def lshSignBucketHof(vec: Column): Column = {
    val bits = Similarity.lshAnnPlanes.zipWithIndex.map { case (p, i) =>
      val proj = aggregate(
        zip_with(vec, lit(p.toArray), (x, w) => x.cast(DoubleType) * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << i)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** [[Similarity.argminCid]] as k interpreted folds plus
    * first-position-of-min (VectorKernelsSpec, VectorKernelsPropertySpec). */
  def argminCidHof(vec: Column, cents: Seq[(Long, Array[Double])]): Column = {
    val dists = cents.map { case (_, c) =>
      aggregate(zip_with(vec, lit(c), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    }
    val dl = array(dists: _*)
    val cids = array(cents.map(c => lit(c._1)): _*)
    val pos = array_position(dl, array_min(dl)).cast("int")
    // same ANSI ElementAt nullability guard as argminCid
    when(pos.isNotNull, element_at(cids, pos))
  }

  /** [[Similarity.fineCid]] as a k1-branch CASE of per-cluster
    * [[Similarity.argminCid]] kernels, the formulation the grouped kernel
    * replaced (VectorKernelsSpec, VectorKernelsPropertySpec). */
  def fineCidCaseWitness(vec: Column, cid: Column,
      fine: Map[Long, Seq[(Long, Array[Double])]]): Column = {
    val sorted = fine.toSeq.sortBy(_._1)
    sorted.tail.foldLeft(
      when(cid === lit(sorted.head._1),
        Similarity.argminCid(vec, sorted.head._2))) {
      case (acc, (c, cents)) =>
        acc.when(cid === lit(c), Similarity.argminCid(vec, cents))
    }
  }

  /** `Dedup.simhashSig128Of` with 128 per-bit ±1 `sum` agg columns in
    * place of the [[SimhashSig]] aggregate (SimhashSigAggSpec). */
  def simhashSig128ColumnsWitness(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("hs", Md5Sixteenths.md5Sixteenths(col("tok")))
    val withH = (0 until 8).foldLeft(words) { (df, k) =>
      df.withColumn(s"h$k", col("hs").getItem(k))
    }
    val bitAggs = for (k <- 0 until 8; j <- 0 until 16)
      yield sum(expr(s"((h$k >> $j) & 1) * 2 - 1")).as(s"b${k}_$j")
    withH.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id") +: (0 until 8).map { k =>
        (0 until 16).map(j =>
          when(col(s"b${k}_$j") > 0, lit((1 << j).toLong)).otherwise(0L))
          .reduce(_ + _).as(s"t$k")
      }: _*)
  }
}
