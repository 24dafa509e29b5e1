package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Similarity

/** Round-20 optimization round: pins that each hot-path kernel swap is
  * BIT-identical to the interpreted formulation it replaced, so the
  * DuckDB oracle hashes (which mirror the interpreted fold) cannot
  * move.
  */
class Round20OptSpec extends SparkSpec {

  test("lshSignBucket kernel == HOF witness on the real embeddings") {
    val e = Tables.embeddings(spark, sf)
    val diff = e.select(
        Similarity.lshSignBucket(col("embedding")).as("k"),
        graft.functions.KernelWitnesses.lshSignBucketHof(col("embedding")).as("h"))
      .filter(not(col("k") <=> col("h")))
      .count()
    assert(diff === 0L)
  }

  test("lshSignBucket kernel == HOF witness on malformed vectors " +
    "(null vec, null element, short, long, NaN element)") {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    def v(xs: Seq[java.lang.Float]): Seq[java.lang.Float] = xs
    val good = Seq.tabulate(64)(i => java.lang.Float.valueOf(0.1f * (i % 7 - 3)))
    val rows = Seq(
      Row(0, null),
      Row(1, v(good.updated(5, null: java.lang.Float))),
      Row(2, v(good.take(10))),
      Row(3, v(good ++ good.take(4))),
      Row(4, v(good.updated(0, java.lang.Float.valueOf(Float.NaN)))),
      Row(5, v(good)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = df.select(col("id"),
        Similarity.lshSignBucket(col("embedding")).as("k"),
        graft.functions.KernelWitnesses.lshSignBucketHof(col("embedding")).as("h"))
      .collect().sortBy(_.getInt(0))
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"id=${r.getInt(0)}")
    }
    // null-poisoning shape: malformed vectors land on bucket 0 in BOTH
    // forms (the HOF's null fold -> otherwise(0); the kernel's NULL
    // signature -> coalesce 0)
    assert(out(0).getLong(1) === 0L)
    assert(out(1).getLong(1) === 0L)
    assert(out(2).getLong(1) === 0L)
    assert(out(3).getLong(1) === 0L)
  }

  test("jaccardRounded (arithmetic union) == size(array_union) form on " +
    "the real corpus pair sample, including empty-gram docs") {
    import graft.queries.Dedup
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(graft.functions.WordNgrams.grams(col("text"), 2))
          .as("grams"))
    val a = d.select(col("doc_id").as("a_id"), col("grams").as("a_grams"))
    val b = d.select(col("doc_id").as("b_id"), col("grams").as("b_grams"))
    val inter = size(array_intersect(col("a_grams"), col("b_grams")))
      .cast("double")
    val uni = size(array_union(col("a_grams"), col("b_grams")))
      .cast("double")
    val diff = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(round(inter / uni, 6).as("old"),
        Dedup.jaccardRounded(col("a_grams"), col("b_grams")).as("neu"))
      .filter(not(col("old") <=> col("neu")))
      .count()
    assert(diff === 0L)
  }

  test("kmeansFit wide-aggregate update matches the DuckDB-mirrored " +
    "posexplode form: same centroids, same counts") {
    import org.apache.spark.sql.types.DoubleType
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("vec"))
    val fitted = graft.queries.Similarity.kmeansFit(vecs, 8, 2)
    // independent witness: the original posexplode + (cid, pos) groupBy
    // update, run one round from the SAME penultimate centroids — here
    // simply re-fit with the retired formulation inline
    var cents: Seq[(Long, Array[Double])] = vecs.filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    var witness: Seq[(Long, Long, Array[Double])] = Seq.empty
    for (_ <- 1 to 2) {
      val cells = vecs
        .select(graft.queries.Similarity.argminCid(col("vec"), cents).as("cid"),
          posexplode(col("vec")).as(Seq("pos", "x")))
        .select(col("cid"), col("pos"),
          round(col("x") * lit(1000000.0), 0).cast("long").as("sv"))
        .groupBy(col("cid"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("sv")).as("ssum"))
        .collect()
      val dims = cells.iterator.map(_.getInt(1)).max + 1
      witness = cells.groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        val n = rows.head.getLong(2)
        val arr = new Array[Double](dims)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(3).toDouble / n / 1000000.0)
        (cid, n, arr)
      }.sortBy(_._1)
      cents = witness.map(t => (t._1, t._3))
    }
    assert(fitted.map(_._1) === witness.map(_._1))
    assert(fitted.map(_._2) === witness.map(_._2))
    fitted.zip(witness).foreach { case ((_, _, a), (_, _, b)) =>
      assert(a.toSeq === b.toSeq)
    }
  }
}
