package graft

import org.apache.spark.sql.functions.col

/** Round-18 contract pins: the compaction TRIGGER policy
  * ([[graft.queries.Dedup.shouldCompact]]) — the lifecycle verb the
  * round-17 verdict asked to turn from a memo into a policy. */
class Round18Spec extends SparkSpec {

  test("shouldCompact: false on a fresh index (one file per bucket), " +
    "true once nightly appends cross the files-per-bucket threshold, " +
    "false again after compaction") {
    import graft.queries.Dedup
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val tbl = Dedup.freshIndexName(spark, "graft_idx_policy")
    Dedup.writeBandIndex(spark, Dedup.minhashBanded(docs), tbl,
      Seq("band", "bucket"))
    try {
      assert(!Dedup.shouldCompact(spark, tbl),
        "a freshly created index holds one file per bucket — no trigger")
      // simulate nights — but assert against the MEASURED file census,
      // not the assumed nights=files relation (round-18 advisory: a
      // night batch that leaves some band/bucket cells empty lands
      // fewer than one file per bucket per append, and the fixed-count
      // loop then flaked). The policy's exact contract is
      // files > threshold * buckets, so the test drives the census
      // across that boundary and checks the trigger flips WITH it.
      def census(): Long = {
        val loc = new org.apache.hadoop.fs.Path(
          spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
            .filter(col("col_name") === "Location").head.getString(1))
        loc.getFileSystem(spark.sessionState.newHadoopConf())
          .listStatus(loc).count(_.getPath.getName.startsWith("part-")).toLong
      }
      val night = Dedup.minhashBanded(
        docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
      val buckets = Dedup.bucketCountOf(spark, tbl)
      val threshold = Dedup.compactFilesPerBucket
      val limit = threshold.toLong * buckets
      // append until the census crosses the policy boundary; below or
      // at the limit the trigger must stay quiet (bounded by limit+1
      // appends even if every append landed a single file)
      var nights = 0
      while (census() <= limit && nights <= limit + 1) {
        assert(!Dedup.shouldCompact(spark, tbl),
          s"census ${census()} <= $limit: the policy must NOT yet fire")
        Dedup.appendBandIndex(spark, night, tbl, Seq("band", "bucket"))
        nights += 1
      }
      assert(census() > limit,
        s"harness bug: $nights appends never crossed $limit files")
      assert(Dedup.shouldCompact(spark, tbl),
        s"census ${census()} > $limit must trip the trigger")
      // the verb the policy points at restores the invariant
      Dedup.compactBandIndex(spark, tbl, Seq("band", "bucket"))
      assert(!Dedup.shouldCompact(spark, tbl),
        "compaction returns every bucket to one file — trigger resets")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
  }

  test("state-store provider defaults follow the measured selection " +
    "rule: rocksdb only for full-keyset/NoTimeout shapes; force conf " +
    "outranks the env knob; transformWithState is not overridable") {
    import graft.queries.Streaming.resolveStateProvider
    // shape defaults (the SCALE.md A/B's conclusion, now code)
    assert(resolveStateProvider("churny", None) == "hdfs")
    assert(resolveStateProvider("fullKeyset", None) == "rocksdb")
    assert(resolveStateProvider("requiresRocksdb", None) == "rocksdb")
    // sweep env knob overrides the shape default
    assert(resolveStateProvider("churny", Some("rocksdb")) == "rocksdb")
    assert(resolveStateProvider("fullKeyset", Some("hdfs")) == "hdfs")
    // timers need the multi-column-family store: nothing downgrades it
    assert(resolveStateProvider("requiresRocksdb", Some("hdfs")) == "rocksdb")
    // garbage fails loudly, never a silent fallback
    intercept[IllegalArgumentException](
      resolveStateProvider("bogus", None))
    intercept[IllegalArgumentException](
      resolveStateProvider("churny", Some("levelDB")))
  }

  test("shouldCompact honors an explicit threshold override") {
    import graft.queries.Dedup
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val tbl = Dedup.freshIndexName(spark, "graft_idx_policy2")
    Dedup.writeBandIndex(spark, Dedup.minhashBanded(docs), tbl,
      Seq("band", "bucket"))
    try {
      Dedup.appendBandIndex(spark, Dedup.minhashBanded(
        docs.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 600000L).as("doc_id"), col("text"))),
        tbl, Seq("band", "bucket"))
      assert(Dedup.shouldCompact(spark, tbl, maxFilesPerBucket = 1),
        "2 files/bucket exceeds an explicit threshold of 1")
      assert(!Dedup.shouldCompact(spark, tbl, maxFilesPerBucket = 2),
        "2 files/bucket does not exceed a threshold of 2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
  }
}
