package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Round-16 task 3: the persisted dedup/ANN band indexes are real
  * BUCKETED parquet tables, and the nightly probe join must read them
  * WITHOUT an exchange on the index side — at lake scale the index is
  * the corpus-sized side, and re-shuffling it every night is exactly
  * the cost `bucketBy` exists to delete. These specs pin the physical
  * plan: with broadcast off (modeling a batch too large to broadcast —
  * the regime where the join strategy matters), the candidate join's
  * index side contains the bucketed scan and ZERO ShuffleExchange
  * nodes between the join and that scan. */
class BucketedIndexSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): SparkPlan = {
    df.write.mode("overwrite").format("noop").save()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def hasBucketScan(p: SparkPlan): Boolean = p.collect {
    case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
  }.nonEmpty

  private def isJoin(p: SparkPlan): Boolean = p match {
    case _: SortMergeJoinExec | _: ShuffledHashJoinExec |
         _: BroadcastHashJoinExec => true
    case _ => false
  }

  /** The candidate join's index side: for the LOWEST join above the
    * bucketed scan (its scan-bearing child contains no further join),
    * that whole child subtree must be exchange-free — the bucket
    * HashPartitioning feeds the join directly. */
  private def assertIndexSideExchangeFree(df: DataFrame, what: String): Unit = {
    val plan = executedPlan(df)
    val bucketedScans = plan.collect {
      case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
    }
    assert(bucketedScans.nonEmpty,
      s"$what: probe plan must read the bucketed index table:\n$plan")
    assert(bucketedScans.forall(_.bucketedScan),
      s"$what: the index scan must be a BUCKETED scan (grouped by bucket " +
        s"files), not a plain file scan:\n${bucketedScans.mkString("\n")}")
    val probeSides = plan.collect {
      case j if isJoin(j) => j.children.filter(c =>
        hasBucketScan(c) && c.collect { case x if isJoin(x) => x }.isEmpty)
    }.flatten
    assert(probeSides.nonEmpty,
      s"$what: no join found directly above the bucketed index scan:\n$plan")
    probeSides.foreach { side =>
      val exchanges = side.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"$what: the index side of the probe join must NOT shuffle " +
          s"(bucket partitioning already co-locates it); found:\n" +
          exchanges.map(_.toString.split("\n").head).mkString("\n"))
    }
  }

  test("q_dedup_incremental_near probes the bucketed minhash index " +
    "with no exchange above the index scan") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assertIndexSideExchangeFree(
        queries.Dedup.qDedupIncrementalNear(spark, sf), "nightly minhash")
    }
  }

  test("q_dedup_embed_incremental probes the bucketed LSH index " +
    "with no exchange above the index scan") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assertIndexSideExchangeFree(
        queries.Dedup.qDedupEmbedIncremental(spark, sf), "embed LSH")
    }
  }

  test("q_dedup_index_append: night-2 append lands as per-bucket files " +
    "in the SAME table (no rebuild) and both nights' probes stay " +
    "exchange-free on the index side") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = queries.Dedup.qDedupIndexAppend(spark, sf)
      assertIndexSideExchangeFree(out, "two-night append")
      // the append appended: the table dir holds MORE files than the
      // night-1 overwrite wrote (night 1 = one file per bucket from the
      // pre-write repartition; night 2 adds admitted signatures as
      // fresh per-bucket files). Threshold derived from the knob
      // default, not a literal (round-16 advisory: a bucket-count
      // change must fail this spec, not silently weaken it).
      val buckets = queries.Dedup.bandIndexBuckets
      assert(indexFiles(spark, appendTable) > buckets,
        s"append must add per-bucket files beyond the $buckets night-1 " +
          s"buckets, got ${indexFiles(spark, appendTable)}")
      // and the appended index is what wave 2 probed: wave-2 rows exist
      // (replays of wave-1 admits are only catchable through the append)
      import org.apache.spark.sql.functions.col
      assert(out.filter(col("wave") === 2).count() > 0,
        "wave-2 pairs must exist (they require the appended index)")
    }
  }

  /** The physical table the last q_dedup_index_append invocation built
    * (names are per-invocation since round 17 — two sessions or two
    * invocations can no longer clobber each other's index). */
  private def appendTable: String =
    queries.Dedup.resolvedIndexName("graft_idx_append")

  private def tableLocation(s: org.apache.spark.sql.SparkSession,
      table: String): String =
    s.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter(org.apache.spark.sql.functions.col("col_name") === "Location")
      .head.getString(1)

  /** File census through the Hadoop FileSystem of the table's OWN
    * location (round-18: the lifecycle no longer assumes `file:`, and
    * neither may the spec that checks it). */
  private def indexFiles(s: org.apache.spark.sql.SparkSession,
      table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(tableLocation(s, table))
    val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
    fs.listStatus(loc).count(_.getPath.getName.startsWith("part-"))
  }

  test("compactBandIndex: after the nightly appends, compaction returns " +
    "every bucket to ONE file, the probe stays exchange-free, and the " +
    "candidate set is hash-identical (round-17 lifecycle)") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions.col
      // run the two-night job → its index holds night-1 + night-2 files
      queries.Dedup.qDedupIndexAppend(spark, sf)
        .write.mode("overwrite").format("noop").save()
      val tbl = appendTable
      val buckets = queries.Dedup.bandIndexBuckets
      assert(indexFiles(spark, tbl) > buckets, "precondition: accreted files")
      // a probe batch with a planted replay; its candidate set is the
      // before/after equality witness
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + org.apache.spark.sql.functions.lit(90000L)).as("doc_id"),
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(" zz3")).as("text"))
      def candidates(index: DataFrame) =
        queries.Dedup.minhashBanded(batch).as("x").join(index.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
          .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("corpus_id"))
          .distinct().orderBy("batch_id", "corpus_id")
      val before = candidates(spark.table(tbl)).collect().toSeq
      val compacted =
        queries.Dedup.compactBandIndex(spark, tbl, Seq("band", "bucket"))
      assert(indexFiles(spark, tbl) == buckets,
        s"compaction must rewrite each bucket to exactly one file " +
          s"($buckets total), got ${indexFiles(spark, tbl)}")
      assert(queries.Dedup.bucketCountOf(spark, tbl) == buckets,
        "compaction must preserve the creation-time bucket spec")
      val afterDf = candidates(compacted)
      assertIndexSideExchangeFree(afterDf, "compacted probe")
      assert(afterDf.collect().toSeq == before,
        "compaction must not change the candidate set")
    }
  }

  test("compactBandIndex(newBuckets): the re-bucket migration rewrites " +
    "the index at a new bucket count, probes stay exchange-free, " +
    "candidates identical") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions.col
      queries.Dedup.qDedupIndexAppend(spark, sf)
        .write.mode("overwrite").format("noop").save()
      val tbl = appendTable
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 13 === 0)
      def candidates(index: DataFrame) =
        queries.Dedup.minhashBanded(batch).as("x").join(index.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
          .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("corpus_id"))
          .distinct().orderBy("batch_id", "corpus_id")
      val before = candidates(spark.table(tbl)).collect().toSeq
      val newCount = queries.Dedup.bandIndexBuckets * 2
      val migrated = queries.Dedup.compactBandIndex(
        spark, tbl, Seq("band", "bucket"), newBuckets = newCount)
      assert(queries.Dedup.bucketCountOf(spark, tbl) == newCount,
        s"migration must re-create the table at $newCount buckets")
      assert(indexFiles(spark, tbl) == newCount,
        "migration leaves one file per (new) bucket")
      val afterDf = candidates(migrated)
      assertIndexSideExchangeFree(afterDf, "re-bucketed probe")
      assert(afterDf.collect().toSeq == before,
        "re-bucketing must not change the candidate set")
    }
  }

  test("index lifecycle under a NON-DEFAULT root (round-17 verdict #1): " +
    "create/append/compact/migrate all land under graft.index.root, " +
    "candidates bit-identical, probe exchange-free, compaction snapshot " +
    "cleaned up on the index's own filesystem") {
    val root = tempDir("graft_idx_root")
      .toString
    sys.props("graft.index.root") = root
    try withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions.col
      queries.Dedup.qDedupIndexAppend(spark, sf)
        .write.mode("overwrite").format("noop").save()
      val tbl = appendTable
      val loc = tableLocation(spark, tbl)
      assert(new java.net.URI(loc).getPath.startsWith(root),
        s"index must live under the configured root $root, got $loc")
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 7 === 0)
      def candidates(index: DataFrame) =
        queries.Dedup.minhashBanded(batch).as("x").join(index.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
          .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("corpus_id"))
          .distinct().orderBy("batch_id", "corpus_id")
      val before = candidates(spark.table(tbl)).collect().toSeq
      val buckets = queries.Dedup.bandIndexBuckets
      val compacted =
        queries.Dedup.compactBandIndex(spark, tbl, Seq("band", "bucket"))
      assert(indexFiles(spark, tbl) == buckets,
        "compaction under the custom root must still yield one file/bucket")
      assert(candidates(compacted).collect().toSeq == before,
        "compaction under the custom root must not change candidates")
      val migrated = queries.Dedup.compactBandIndex(
        spark, tbl, Seq("band", "bucket"), newBuckets = buckets * 2)
      assertIndexSideExchangeFree(candidates(migrated), "custom-root probe")
      assert(candidates(migrated).collect().toSeq == before,
        "migration under the custom root must not change candidates")
      // the compaction snapshot was a SIBLING of the table dir on the
      // table's own filesystem — and it must be gone afterwards
      val parent = new org.apache.hadoop.fs.Path(loc).getParent
      val fs = parent.getFileSystem(spark.sessionState.newHadoopConf())
      val leftovers = fs.listStatus(parent)
        .map(_.getPath.getName).filter(_.contains("_compact_snap_"))
      assert(leftovers.isEmpty,
        s"compaction snapshots must be deleted, found: ${leftovers.mkString(",")}")
    } finally sys.props.remove("graft.index.root"): Unit
  }
}
