package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence bench: replicates the sf0.1 corpus `factor`× into a
  * synthetic ~sf1 dataset, then times the headline queries on it — the
  * order-of-magnitude check that the plans hold as data grows (the
  * driver's own bench is pinned at sf0.1).
  *
  * Replication is key-shifted so the scaled corpus keeps the ORIGINAL's
  * statistical shape instead of degenerating:
  *  - facts (lineitem/orders/events) get disjoint key ranges per copy;
  *    dims (customer/supplier/part/nation/region) stay fixed size —
  *    fact growth against fixed dims is exactly how warehouses scale;
  *  - documents get a per-copy token prefix, so each copy keeps the
  *    original's planted near-dup pairs while copies share no bigrams
  *    (otherwise every doc would have factor-1 cross-copy "dups" and
  *    dedup timing would measure an unrealistic everything-matches
  *    corpus);
  *  - embeddings get a per-copy cyclic dimension shift — intra-copy
  *    cosines (and planted near-dup pairs) are preserved exactly,
  *    cross-copy cosines drop to noise.
  *
  * Usage: SPARK_GRAFT_SCALE_OUT=/tmp/graft_sf1 runMain graft.ScaleBench [q ...]
  * Prints one JSON line: per-query seconds at the scaled size, with any
  * failed query named under `failed` and left out of the total (exit 1).
  */
object ScaleBench {

  /** The corpus build calls this first: the build target must be a
    * scratch path, NEVER the read-only source data — a mis-set
    * SPARK_GRAFT_SCALE_OUT pointing at the source corpus must fail
    * loudly before any write starts (round 16: a build aimed at its own
    * source cost a source-table restore). */
  private def guardScratch(out: String, src: String): Unit = {
    require(!out.startsWith("/root/testdata") && !out.startsWith("/root/reference"),
      s"corpus build target $out points into read-only source data")
    require(new java.io.File(out).getCanonicalFile !=
      new java.io.File(src).getCanonicalFile,
      s"corpus build target equals the source dir $src")
  }

  private val headline = Seq(
    "q_agg_group", "q_agg_percentile", "q_agg_approx", "q_sql_q3",
    "q_join_multiway", "q_sort_topk", "q_window_rank", "q_events_sessions",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_embed",
    "q_dedup_clusters", "q_quality_filter", "q_ann_lsh", "q_ann_ivf",
    "q_skew_join", "q_text_quality", "q_embed_cosine_topk", "q_filter_pred",
    "q_embed_quant", "q_decontaminate", "q_context_pack", "q_doc_repetition",
    "q_winsorize", "q_profile_hist",
    // round-5 additions (q_hist_equidepth is deliberately absent: its
    // global ntile is the exact-verification form whose scale twin is
    // approx_percentile bounds — timing it at 10x would only measure
    // the single-partition sort it documents as the non-scale path)
    "q_tfidf", "q_bloom_decontaminate", "q_embed_centroid",
    "q_agg_collect", "q_join_lateral",
    // corpus-wide round-5 late additions (q_dedup_edit stays out: its
    // bounded sample is the verification form; candidates at scale
    // come from minhash banding)
    "q_dedup_paragraph", "q_text_diversity", "q_events_funnel",
    "q_events_retention",
    // output-stage pipeline ops (this session's additions; the pure
    // map-side function suites are not scale-interesting)
    "q_shard_assign", "q_dedup_url",
    // this session's additions (q_hash_funcs / q_string_advanced are
    // pure map-side function suites — not scale-interesting)
    "q_sql_q10", "q_events_ohlc", "q_events_anomaly", "q_text_postings",
    "q_subquery_correlated", "q_langid_trigram", "q_asof_nearest",
    "q_embed_covariance", "q_events_cooccurrence", "q_text_chunks",
    "q_sql_q18", "q_join_null_safe", "q_agg_multi_distinct",
    // round 6: the scale twins themselves (sketch-bounds histogram,
    // approx winsorize) and the oracle-gated minhash verify stage
    "q_hist_equidepth_approx", "q_winsorize_approx",
    "q_dedup_minhash_verified",
    // round-6 second wave: iterated integer PageRank, single-exchange
    // SCD2 windows, bounded-memory heavy hitters, the n-gram count job,
    // and the map-side sampling/split manifests
    "q_pagerank", "q_scd2_build", "q_heavy_hitters", "q_ngram_counts",
    "q_sample_stratified", "q_split_holdout",
    "q_dedup_incremental", "q_bpe_merges", "q_sql_q5", "q_zorder_layout",
    "q_dq_audit",
    // round 9: the two queries VERDICT r8 flagged as having no decade
    // rows — the real-codec media path and the treeAggregate full-dim
    // covariance
    "q_multimodal_video", "q_embed_covariance_full",
    // round 9: the hash-gated streaming lifecycles — state-store scale
    // evidence (keyed GroupState at 10-100x the users; complete-mode
    // agg state at 10-100x the vocab; seen-keys dedup state at
    // 10-100x the distinct keys)
    "q_stream_sessions", "q_stream_scd2", "q_stream_ngrams",
    "q_stream_dedup",
    // round 11: the bounded-state streaming form (timeout-flushed keys
    // leave the store — the state-size scale story), the guard-free
    // sketch top-k on the flat scaled corpus (the regime it exists
    // for), and the two decorrelation-heavy TPC-H shapes
    "q_stream_sessions_bounded", "q_heavy_hitters_approx",
    "q_sql_q21", "q_sql_q2",
    // the state-heaviest streaming operator: two-sided interval-join
    // state, bounded by rate x window via the two-sided time condition
    "q_stream_interval_join",
    // round 12: the widest new TPC-H join tree (Q9: 5-table + LIKE
    // prune), the double-aggregate histogram (Q13), the decorrelated
    // scalar-AVG (Q17), the multi-probe simhash verify stage, and the
    // stateless stream-static enrichment. q_sql_recursive stays out:
    // its only input is the FIXED-size customer dim, so a 10x row
    // would re-measure identical data.
    "q_sql_q9", "q_sql_q13", "q_sql_q17",
    "q_dedup_simhash_verified", "q_stream_enrich",
    // round 12, second wave: the unigram-rarity scorer (its vocab join
    // scales with the per-copy-prefixed token space — the honest 10x for
    // a corpus-wide vocabulary). q_graph_triangles is deliberately
    // absent: fact-against-fixed-dim replication densifies the part
    // co-purchase graph toward a clique (degree grows ~linearly with the
    // factor, wedge work quadratically), so a 10x row would measure a
    // regime change in the GRAPH, not the operator — its scale evidence
    // is the cross-sf row (sf0.01 -> sf0.1, where parts scale with the
    // corpus) recorded in SCALE.md. q_ingest_jsonl follows
    // q_ingest_typed: a shuffle-free map-side converter is not
    // scale-interesting here.
    "q_text_rarity",
    // the collocation miner (vocab-sized joins over the prefixed token
    // space) and the semi form of the stream-stream join family
    "q_text_collocations", "q_stream_semi_join",
    // round-12 third wave: the point-in-time SCD2 lookup (user-keyed
    // join whose fan-out is versions-per-user), the decoded-pixel hash
    // dedup (codec cost scales with rows), and the CUSUM windows over
    // the bounded type×hours relation. The drift/blocklist/mode/NAAJ
    // entries are map-side or bounded-domain scans — not
    // scale-interesting, same rationale as the function suites.
    "q_join_temporal", "q_multimodal_phash", "q_events_cusum",
    // round-12 fourth wave: the user-keyed window family members (16-lag
    // EWMA, last-touch attribution, running distinct), the sweep-line
    // concurrency prefix sum, the corpus-wide BPE apply pass, and the
    // dims²-relation PCA matvec. q_graph_bfs stays out for the
    // q_graph_triangles reason (fact-vs-fixed-dim replication densifies
    // the customer–supplier graph toward complete-bipartite — a graph
    // regime change, not the operator; its scale row is cross-sf);
    // q_curation_kanon scans the FIXED customer dim; q_profile_corr is
    // a single map-side aggregation like the function suites.
    "q_events_ewma", "q_events_attribution", "q_window_running_distinct",
    "q_events_concurrency", "q_bpe_apply", "q_embed_pca_power",
    // the bucketed range join, in its LINEAR-OUTPUT aggregate form —
    // the enumeration twin q_join_interval is output-bound by
    // construction (overlapping pairs grow factor² under replication:
    // measured 40.2 s at 10x for ~100x the pairs, sublinear per pair)
    // so the headline times the exposure report. The robust-anomaly /
    // moments / temperature entries are bounded-domain or map-side
    // aggregations (the kanon/corr rationale).
    "q_join_interval_agg",
    // fifth wave: the bounded-domain counting percentile (the count
    // aggregation scans 10x the corpus; the windows stay domain-sized),
    // the session path builder (one user-keyed sort over 10x events),
    // and the stateful attribution stream (one ValueState row per user
    // at 10x the users).
    "q_agg_percentile_counting", "q_events_paths", "q_stream_attribution",
    // the deterministic PPS sampler (bucketed weight cumsum over 10x
    // docs). q_graph_labelprop stays out for the BFS/triangles
    // densification reason — its scale row is cross-sf.
    "q_sample_weighted",
    // final wave: first-occurrence novelty (gram-keyed min + join over
    // the per-copy-prefixed token space) and the hour-bounded funnel
    // carries (user-keyed windows at 10x users). The weighted
    // percentile shares q_agg_percentile_counting's exact plan shape.
    "q_text_novelty", "q_events_funnel_windowed",
    // sixth wave: the three-pass bucketed NTILE over the per-customer
    // reduce of 10x orders, the bounded pair self-join on 10x baskets,
    // the month-domain sweep-line over 10x facts, and the x24
    // support-explosion engagement curve / lag-window gap profile at
    // 10x users. q_text_confusion stays out: its plan is
    // q_langid_trigram (already rowed) plus a |langs|²-bounded reduce.
    "q_agg_rfm", "q_market_basket", "q_orders_backlog",
    "q_events_engagement", "q_events_interarrival",
    // the cohort triangle: user-keyed first-active join + distinct at
    // 10x users. q_events_seasonality stays out — one map-side
    // aggregation to a FIXED 168-cell matrix (the kanon/corr
    // rationale).
    "q_events_cohorts",
    // round 13: the incremental near-dup probe (fixed 300-doc corpus
    // index at BOTH scales — the 10× ratio therefore isolates the
    // batch-side growth the nightly-job contract claims), the
    // count-aggregate-rewritten multiset set-ops over 10× facts, the
    // broadcast-query radius scan, the per-source token-budget prefix
    // sum at 10× docs, and the skew-proofed RFM NTILE re-measure rides
    // the existing q_agg_rfm row. q_agg_trend stays out: one
    // fact-sized aggregation to a |segments|·|months| domain — the
    // kanon/corr map-side rationale.
    "q_dedup_incremental_near", "q_set_ops_all", "q_ann_range",
    "q_curation_token_budget",
    // the streaming near-dup probe: stream-static broadcast joins +
    // per-row fold signatures — stateless except candidate dedup
    "q_stream_dedup_near",
    // the two-night index-append loop (per-night cost batch-sized)
    "q_dedup_index_append",
    // round 14: the embedding-space nightly probe — fixed persisted ANN
    // index (thr=300 corpus), batch-sized signature + probe cost —
    // and its streaming admission twin (stream-static broadcast probes)
    "q_dedup_embed_incremental", "q_stream_dedup_embed",
    // the k-means fit (iters corpus passes + k×dims cells) and the
    // cluster-scoped semantic dedup built on it (pair work Σ|cluster|²)
    "q_embed_kmeans", "q_dedup_semdedup",
    // round 15: the two-level (IVF-shaped) assignment — k1+k2 distances
    // per vector instead of k1·k2; the 100× arm runs K1=32 K2=20 vs
    // flat K=640 (SCALE.md)
    "q_dedup_semdedup_2l",
    // semantic decontamination: eval-sized broadcast index, map-side
    // train probe — cost linear in TRAIN
    "q_decontaminate_semantic",
    // round 17: the recall@k eval primitive — its exact arm is the
    // O(n·panel) brute-force pass, so the 10× row measures the cost an
    // eval harness actually pays as the corpus decade grows
    "q_ann_recall")

  /** Writes the `factor`× key-shifted corpus (see the object doc) to
    * `out` and marks it with `_READY`; the 10× and 100× oracle gates
    * (`tools/check10x.sh`, `tools/check100x.sh`) run against it. */
  def buildScaledData(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    guardScratch(out, src)
    val KEY = 100000000L // key shift per copy: far above any sf0.1 key

    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => shift(df, k)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$out/$name.parquet")

    // fixed-size dims: verbatim
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    write(copies(li)((d, k) => d.withColumn("l_orderkey", col("l_orderkey") + k * KEY)),
      "lineitem")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    write(copies(ord)((d, k) => d.withColumn("o_orderkey", col("o_orderkey") + k * KEY)),
      "orders")
    val ev = spark.read.parquet(s"$src/events.parquet")
    write(copies(ev)((d, k) => d
        .withColumn("event_id", col("event_id") + k * KEY)
        .withColumn("user_id", col("user_id") + k * KEY)),
      "events")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    write(copies(docs)((d, k) => d
        .withColumn("doc_id", col("doc_id") + k * KEY)
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"c${k}_$$1"))),
      "documents")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    write(copies(emb)((d, k) => d
        .withColumn("vec_id", col("vec_id") + k * KEY)
        .withColumn("embedding",
          expr(s"transform(sequence(0, 63), i -> element_at(embedding, (CAST(i AS INT) + ${k * 7}) % 64 + 1))")
            .cast("array<float>"))),
      "embeddings")
    spark.createDataFrame(Seq(Tuple1(factor))).toDF("factor")
      .write.mode("overwrite").json(s"$out/_READY")
  }

  def main(args: Array[String]): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft_sf1")
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_FACTOR", "10").toInt
    val spark = GraftSession.local(GraftSession.envCores(4))

    if (!new java.io.File(s"$out/_READY").exists()) {
      System.err.println(s"[scale] building ${factor}x corpus at $out from $src")
      buildScaledData(spark, src, out, factor)
    }

    spark.read.parquet(s"$out/lineitem.parquet").limit(1).write
      .mode("overwrite").format("noop").save() // warmup

    // Optional args = run only these queries: the 100x decade run
    // (SPARK_GRAFT_FACTOR=100) targets the joins/windows headline
    // family rather than re-timing all fifty at 10x the 10x cost.
    val wanted = args.toSet
    val selected = if (wanted.isEmpty) headline else headline.filter(wanted)
    // A failed query must not masquerade as a timing row (a round-9
    // sweep silently summed a guard-failed q_heavy_hitters): failures
    // are named in the JSON line and excluded from the total, and the
    // process exits nonzero.
    val runs = EntryRuns.run(selected, "scale") { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, out).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    val qs = runs.ok.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_total","value":${runs.ok.map(_._2).sum},"unit":"sec","factor":$factor,"queries":$qs,"failed":${runs.failedJson},"src":"$src"}""")
    spark.stop()
    if (runs.failed.nonEmpty) sys.exit(1)
  }
}
