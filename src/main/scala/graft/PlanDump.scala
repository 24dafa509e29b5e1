package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, count, lit, max}

/** Dumps `explain("formatted")` for registry queries into files — the
  * plan-shape evidence behind SCALE.md's claims and the before/after
  * plans of the optimization rounds (`plans/r20/<query>_before.txt`).
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <suffix> [q_a q_b ...]"`
  * writes `<outDir>/<name>_<suffix>.txt` per name. With no names it
  * dumps the [[headline]] set plus two plans outside the registry: the
  * graft source's pruned scan under Spark's Filter and HashAggregate,
  * and the SQL-form native functions. Plans are dumped at the BENCH session
  * shape (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus, AQE on,
  * sf dir from SPARK_GRAFT_SF_DIR) so the dumped Exchange/join strategy
  * matches what the bench actually runs.
  */
object PlanDump {
  /** The default name set: one entry per plan shape a round relied on. */
  val headline = Seq(
    "q_filter_pred", "q_sort_topk", "q_join_multiway", "q_agg_group",
    "q_skew_join", "q_dedup_minhash", "q_dedup_embed", "q_quality_filter",
    "q_decontaminate", "q_context_pack",
    // round 5: lateral decorrelation, broadcast Bloom probe, scalar
    // broadcast + top-k window, combine-friendly centroid aggregation
    "q_join_lateral", "q_bloom_decontaminate", "q_tfidf", "q_embed_centroid",
    // this session: correlated-subquery decorrelation, star-join top-k,
    // shared-partitioning window+agg (one shuffle)
    "q_subquery_correlated", "q_sql_q10", "q_events_ohlc",
    // IN-subquery semi join, null-safe hash join, Expand multi-distinct
    "q_sql_q18", "q_join_null_safe", "q_agg_multi_distinct",
    // round 6: the scale-safe equi-depth histogram (sketch bounds
    // broadcast + map-side binning — NO single-task window, contrast
    // with q_hist_equidepth's global ntile) and its winsorize sibling
    "q_hist_equidepth_approx", "q_winsorize_approx",
    // round-6 second wave: iterated integer PageRank join rounds,
    // single-exchange SCD2 windows, Misra-Gries candidate semi-join,
    // map-side split manifest
    "q_pagerank", "q_scd2_build", "q_heavy_hitters", "q_split_holdout",
    // six-table join-reorder stress: dims broadcast, spine shuffles
    "q_sql_q5",
    // round 11: EXISTS/NOT-EXISTS → left-semi/left-anti hash joins,
    // correlated-MIN → decorrelated aggregate-join with broadcast dims
    "q_sql_q21", "q_sql_q2",
    // round 12: correlated-AVG decorrelation (Q17), IN-over-aggregate
    // semi join with a scalar-mean HAVING (Q20), anti join + scalar
    // threshold (Q22), OR-of-ANDs equi-key extraction (Q19), the
    // frontier-at-a-time recursive CTE, and the multi-probe simhash
    // band self-join feeding the exact-Jaccard verify
    "q_sql_q17", "q_sql_q20", "q_sql_q22", "q_sql_q19",
    "q_sql_recursive", "q_dedup_simhash_verified",
    // round-12 second wave: the edge-iterator triangle count (adjacency
    // arrays intersected inside the projection — no wedge shuffle), the
    // vocab-join rarity scorer, the bigram-lift collocation miner, the
    // per-cluster canonical window, and the JSONL from_json+cast scan
    "q_graph_triangles", "q_text_rarity", "q_text_collocations",
    "q_dedup_canonical", "q_ingest_jsonl",
    // round-12 third wave: point-in-time SCD2 lookup, broadcast policy
    // nested-loop, single-pass drift report
    "q_join_temporal", "q_curation_blocklist", "q_profile_drift",
    // round-12 fourth wave: the 16-lag single-Window EWMA, the
    // bucket-partitioned sweep-line prefix sum (+ broadcast offsets),
    // the one-exchange exact-co-moment correlation, and the triples
    // matvec with the broadcast O(dims) iterate
    "q_events_ewma", "q_events_concurrency", "q_profile_corr",
    "q_embed_pca_power",
    // fifth wave: the bucketed range join (hash join on hour buckets,
    // start-bucket pair attribution), the counting percentile (one
    // count agg below domain-sized windows), the mode-propagation
    // label rounds, and the self-checking incremental-aggregate merge
    "q_join_interval_agg", "q_agg_percentile_counting",
    "q_graph_labelprop", "q_agg_incremental",
    // sixth wave: quintile scoring through the bucket-partitioned
    // two-level NTILE (no single-partition data window), the bounded
    // per-order pair self-join with TakeOrdered top-k, the month-domain
    // sweep-line census, and the ×24 support-explosion rewrite of a
    // rolling count-distinct window
    "q_agg_rfm", "q_market_basket", "q_orders_backlog",
    "q_events_engagement", "q_events_cohorts",
    // round 13: the band-index probe join of the incremental near-dup
    // (corpus index one side, batch signatures the other), the
    // count-aggregate rewrite of INTERSECT/EXCEPT ALL (no join node),
    // the broadcast-query radius scan (no shuffle before the sort),
    // the (source,bucket)-partitioned token-budget prefix sum, the
    // rank-gated approx-percentile (sketch + one counting pass), and
    // the explicitly-broadcast langid profile probe
    "q_dedup_incremental_near", "q_set_ops_all", "q_ann_range",
    "q_curation_token_budget", "q_agg_percentile_approx",
    "q_langid_trigram",
    // round 14: the embedding-space nightly probe (checkpointed band
    // index one side, batch signatures the other); the promoted
    // rank-gated sketch twins already dump above (round-6 entries —
    // their registry forms now show sketch + ONE counting pass)
    "q_dedup_embed_incremental",
    // round 14: the map-side k-means assignment (ArgminSqDist kernel,
    // no crossJoin/window) and the cluster-keyed semantic-dedup pair
    // join verifying through the native graft_dot kernel
    "q_embed_kmeans", "q_dedup_semdedup",
    // semantic decontamination: broadcast eval index, map-side probe
    "q_decontaminate_semantic",
    // round 15: the oracle-gated portable candidate stages — minhash's
    // (band, 4-minima-struct) self-join and simhash's 32-bit
    // sixteenth-pair multi-probe join with the in-join Hamming gate —
    // and the two-level semdedup's composite-(cid,fid)-keyed pair join
    "q_dedup_simhash", "q_dedup_semdedup_2l",
    // round 17: the recall@k eval primitive — broadcast panel on both
    // arms, WindowGroupLimit on both rank<=k windows (no full per-query
    // sorts), the banded candidate join feeding the hit-count join
    "q_ann_recall",
    // round 19: the bounded-oracle gate twin — the IDENTICAL banded
    // candidate join + exact-Jaccard verify as q_dedup_minhash, with
    // the md5 hash-slice gate riding as two map-side filters ABOVE the
    // verify (the slice never changes the join shape; the oracle-side
    // bound comes from the slice, not the plan)
    "q_dedup_minhash_verified_slice",
    // round 20: the recipe's 3rd/4th applications — the simhash
    // multi-probe ball + exact-Jaccard verify with the hash-slice gate
    // riding above the verify, and the seeded BFS whose frontier
    // iteration is byte-identical to q_graph_bfs (only the seed
    // predicate differs)
    "q_dedup_simhash_verified_slice", "q_graph_bfs_bounded")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [q_a q_b ...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCores(32), logLevel = "ERROR")
    Files.createDirectories(Paths.get(outDir))
    def write(name: String, df: DataFrame): Unit = {
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        s"===== $name ($suffix, $sfDir) =====\n${df.queryExecution.explainString(FormattedMode)}")
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    (if (names.isEmpty) headline else names).foreach { name =>
      // q_heavy_hitters' registry form eagerly checkpoints its top-k
      // (so its guard and output share one evaluation), which would
      // make a plan-only dump EXECUTE the query and print only a Scan
      // ExistingRDD — explain the live stage-2 subtree instead, which
      // is the plan shape this dump documents.
      write(name,
        if (name == "q_heavy_hitters")
          graft.queries.TextAnalysis.heavyHitterParts(spark, sfDir, 20, 1024)._2
        else SparkEntry.queries(name)(spark, sfDir))
    }
    if (names.isEmpty) dumpExtras(spark, sfDir, write)
    spark.stop()
  }

  private def dumpExtras(spark: SparkSession, sfDir: String,
                         write: (String, DataFrame) => Unit): Unit = {
    // demo TSV on the shared Scratch root (reaper-backed, deleted below)
    val dir = graft.queries.Scratch.freshDir(spark, "plandump_demo")
    try {
      val f = new org.apache.hadoop.fs.Path(dir, "demo.tsv")
      val out = graft.queries.Scratch.fs(spark, f).create(f)
      out.write((Seq("id\tname\tscore") ++
        (0 until 100).map(i => s"$i\tname_$i\t${i * 0.5}"))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      out.close()
      // a plain typed scan: the pruned ReadSchema (id, name — score is
      // never converted) under Spark's own Filter and HashAggregate
      write("graft_source_scan",
        spark.read.format("graft").load(f.toString).filter(col("id") > 50L)
          .groupBy(col("name")).agg(count(lit(1)), max(col("id"))))
    } finally graft.queries.Scratch.delete(spark, dir)
    // a pure-SQL user's near-dup probe plan: graft_minhash_bands /
    // graft_word_ngrams appear as native expressions inside the project
    // (no UDF node, no HOF fold)
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("documents_sql")
    write("sql_native_functions", spark.sql(
      """SELECT doc_id, b.pos AS band, b.col AS bucket
        |FROM documents_sql
        |LATERAL VIEW posexplode(graft_minhash_bands(
        |  array_distinct(graft_word_ngrams(text, 2)))) b""".stripMargin))
  }
}
