package graft.functions

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Pins [[SimhashSig]] (the fused 128-counter signature aggregate)
  * bit-equal to the retired 128-agg-column formulation it replaced —
  * on the real corpus and on adversarial null/empty/ordering inputs.
  */
class SimhashSigAggSpec extends SparkSpec {

  test("corpus signatures: fused aggregate == 128-column witness, " +
    "doc for doc, sixteenth for sixteenth") {
    val docs = Tables.documents(spark, sf)
    val fresh = graft.queries.Dedup.simhashSig128Of(docs)
      .collect().map(r => (0 to 8).map(r.getLong).toVector).sortBy(_.head).toSeq
    val witness = KernelWitnesses.simhashSig128ColumnsWitness(docs)
      .collect().map(r => (0 to 8).map(r.getLong).toVector).sortBy(_.head).toSeq
    assert(fresh.nonEmpty && fresh == witness)
  }

  test("adversarial inputs: null arrays skip, all-null groups yield " +
    "t_k = 0, merge order cannot move a bit") {
    import spark.implicits._
    // planted 8-long arrays exercising sign boundaries: a bit whose
    // counter lands exactly at 0 must read 0 (strict > 0 rule)
    val rows = Seq(
      (1L, Some(Array(0xFFFFL, 0L, 0x8000L, 1L, 0L, 0L, 0L, 0L))),
      (1L, Some(Array(0L, 0xFFFFL, 0x8000L, 1L, 0L, 0L, 0L, 0L))),
      (1L, None), // null array row: contributes nothing
      (2L, None), // all-null group
      (3L, Some(Array(0x1234L, 0x5678L, 0x9ABCL, 0xDEF0L,
        0x0F0FL, 0xF0F0L, 0xAAAAL, 0x5555L))))
      .toDF("doc_id", "hs")
    val fused = rows.groupBy(col("doc_id"))
      .agg(SimhashSig.sig(col("hs")).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    // witness: the column form over the same rows
    val withH = (0 until 8).foldLeft(rows) { (df, k) =>
      df.withColumn(s"h$k", col("hs").getItem(k))
    }
    val bitAggs = for (k <- 0 until 8; j <- 0 until 16)
      yield sum(expr(s"((h$k >> $j) & 1) * 2 - 1")).as(s"b${k}_$j")
    val witness = withH.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id") +: (0 until 8).map { k =>
        (0 until 16).map(j =>
          when(col(s"b${k}_$j") > 0, lit((1 << j).toLong)).otherwise(0L))
          .reduce(_ + _).as(s"t$k")
      }: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toVector).toMap
    assert(fused == witness)
    // doc 1: the two rows disagree on sixteenths 0/1 (counter 0 -> bit
    // off), agree on 2/3 (counter +2 -> bit on)
    assert(fused(1L)(0) == 0L && fused(1L)(1) == 0L)
    assert(fused(1L)(2) == 0x8000L && fused(1L)(3) == 1L)
    // all-null group: every t_k = 0 (the old NULL-sum -> otherwise(0))
    assert(fused(2L) == Vector.fill(8)(0L))
  }
}
