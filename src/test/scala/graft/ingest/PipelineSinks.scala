package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sinks and a standalone error count over the pipeline's kernels that
  * only specs use: the CLI writes through
  * `IngestPipeline.writeParquetSingleFile` and counts failures with
  * `Dataset.observe` on its one cast projection. */
object PipelineSinks {

  /** Per column, cells that are present (not a null token) yet fail
    * their typed cast — genuine conversion errors, as distinct from
    * legitimate nulls — in one aggregation pass over `raw`. */
  def conversionErrorCounts(raw: DataFrame, schema: StructType): Map[String, Long] = {
    val counters = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = col(f.name)
      val failed = !NullTokens.isNullToken(c) && CastKernel.castTo(
        c, f.dataType, IngestPipeline.tsUnitOf(f), IngestPipeline.isUnsigned(f)).isNull
      sum(when(failed, 1L).otherwise(0L)).as(s"_err_$i")
    }
    val row = raw.agg(counters.head, counters.tail: _*).collect()(0)
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }

  /** One parquet file in a directory, rows sorted by `orderCols`. A
    * single-partition exchange needs no range bounds, so unlike
    * `orderBy` it never samples (re-reads) the input first. */
  def writeParquetSingleOrdered(df: DataFrame, out: String, orderCols: Seq[String]): Unit =
    df.repartition(1).sortWithinPartitions(orderCols.map(col): _*)
      .write.mode("overwrite").options(IngestPipeline.writerOptions(df.columns.length))
      .parquet(out)

  /** Hive-style partitioned sink: one directory per value of `cols`. */
  def writeParquetPartitioned(df: DataFrame, out: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").options(IngestPipeline.writerOptions(df.columns.length))
      .partitionBy(cols: _*).parquet(out)
}
