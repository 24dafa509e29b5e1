#!/bin/bash
# Round-16 task 2: the 10x oracle gate — hash-gates a rotating headline
# subset against DuckDB on the SCALED corpus (/tmp/graft_sf1, built by
# `runMain graft.ScaleBench`), so scale-dependent wrongness (overflow,
# hash-collision effects, threshold drift) is caught above sf0.1.
#
# Subset: the TPC-H spine, the dedup candidate stages + the simhash
# verified twin, and the integer-exact families. q_dedup_minhash_verified
# is EXCLUDED at 10x only: its oracle is the brute-force all-pairs
# Jaccard (deliberately independent of banding), which is O(n²) in
# DuckDB — ~1.25B pairs at 50k docs; the banding candidate stage
# q_dedup_minhash and the linear-oracle q_dedup_simhash_verified carry
# the near-dup gate at this scale.
#
# Usage: tools/check10x.sh [sf_dir] (default /tmp/graft_sf1)
set -e
SF=${1:-/tmp/graft_sf1}
OUT=${2:-/tmp/graft_verify_10x}
QUERIES="q_sql_q3 q_sql_q5 q_sql_q9 q_sql_q10 q_sql_q13 q_sql_q17 \
  q_sql_q18 q_sql_q21 q_dedup_exact q_dedup_minhash q_dedup_simhash \
  q_dedup_simhash_verified q_dedup_clusters q_agg_group q_window_rank \
  q_sort_topk q_events_sessions q_events_funnel q_ngram_counts q_agg_rfm \
  q_pagerank q_agg_percentile_counting q_filter_pred"
# Round-16 widening: the rest of the rotating subset — joins, set ops,
# windows, rollups, SCD2/CDC, text and curation manifests, profiling
# moments. All linear-oracle entries (no all-pairs forms) so DuckDB
# replays them comfortably at 6M lineitem rows / 500k events.
QUERIES="$QUERIES q_join_inner q_join_left q_join_semi q_join_anti \
  q_join_multiway q_set_except q_window_lag q_window_frame q_agg_rollup \
  q_agg_stats q_agg_mode q_events_retention q_events_transitions \
  q_scd2_build q_merge_upsert q_snapshot_diff q_text_tokens q_text_stats \
  q_text_fingerprint q_sample_hash q_split_holdout q_shard_assign \
  q_profile_stats q_profile_moments"
# Round-17 widening (verdict task 1): the embedding/ANN/semantic family —
# the one family that had no scaled oracle row. Integer-scaled vector
# sums, LSH banding, kmeans/IVF assignment and the semantic-decontamination
# screen all change behavior with n (sum magnitudes, collision rates,
# tie shapes), so they are gated here at 20k vectors / 50k docs. Verify
# runs the plans Bench times; q_dedup_semdedup_2l's auto-sized levels
# (k1 = k2 = 13 at 24k vectors) are derived the same way in its oracle,
# so the DuckDB mirrors replay 1:1.
QUERIES="$QUERIES q_embed_centroid q_embed_covariance q_embed_covariance_full \
  q_embed_kmeans q_embed_pca_power q_embed_quant q_ann_lsh q_ann_ivf \
  q_ann_range q_dedup_semdedup q_dedup_semdedup_2l q_decontaminate_semantic"
# Round-17: the recall@k eval primitive — its oracle replays the exact
# top-k AND the LSH candidate stage per panel query, so bucket-occupancy
# drift at 10x (2k -> 20k vectors in a fixed 12-bit bucket space) is
# hash-gated, not just arm-measured.
QUERIES="$QUERIES q_ann_recall q_ann_recall_ivf"
# ── Round-18 widening (round-17 verdict task 4: 176 entries had no
# scaled row). Every addition below has a LINEAR DuckDB oracle at the
# 10x corpus (6M lineitem / 500k events / 50k docs / 20k vectors).
#
# The remaining TPC-H shapes + the recursive CTE — the q3/q5/.../q21
# spine was gated; the other 14 shapes are the same join/agg algebra.
QUERIES="$QUERIES q_sql_q2 q_sql_q4 q_sql_q6 q_sql_q7 q_sql_q8 \
  q_sql_q11 q_sql_q12 q_sql_q14 q_sql_q15 q_sql_q16 q_sql_q19 \
  q_sql_q20 q_sql_q22 q_sql_recursive"
# Graph: bfs/labelprop (per-round edge joins, linear oracles) and the
# triangle count (DuckDB 3-way edge join — the orientation bounds it).
QUERIES="$QUERIES q_graph_bfs q_graph_labelprop q_graph_triangles"
# Events/time-series: window/agg forms, all linear in events.
QUERIES="$QUERIES q_events_ohlc q_events_tumble q_events_sliding \
  q_events_ewma q_events_interarrival q_events_cohorts \
  q_events_engagement q_events_densify q_events_cusum \
  q_events_seasonality q_events_anomaly q_events_anomaly_robust \
  q_events_concurrency q_events_cooccurrence q_events_attribution \
  q_events_funnel_windowed q_events_session_window \
  q_events_session_state q_events_paths q_orders_backlog \
  q_market_basket"
# The join surface beyond inner/left/semi/anti/multiway.
QUERIES="$QUERIES q_join_right q_join_full q_join_null_safe \
  q_join_null_aware_anti q_join_lateral q_join_interval \
  q_join_interval_agg q_join_temporal q_asof_join q_asof_nearest \
  q_range_join q_skew_join q_join_cross"
# Profiling + curation: manifests, scrubbing, mixes, audits — the
# training-data-pipeline family's linear oracles.
QUERIES="$QUERIES q_profile_hist q_profile_corr q_profile_drift \
  q_hist_equidepth q_winsorize q_pii_scrub q_curation_blocklist \
  q_curation_token_budget q_curation_kanon q_quality_filter \
  q_dq_audit q_sample_stratified q_sample_weighted q_data_mix \
  q_data_mix_temperature q_doc_repetition q_decontaminate \
  q_bloom_decontaminate"
# Text analysis at 50k docs (token/ngram/postings scans; BPE replay).
QUERIES="$QUERIES q_tfidf q_text_langid q_langid_trigram q_text_chunks \
  q_text_normalize q_text_diversity q_text_postings q_text_novelty \
  q_text_rarity q_text_collocations q_text_confusion q_text_quality \
  q_bpe_merges q_bpe_apply q_embed_cosine_topk"
# Round-17 verdict task 6: multimodal's first scaled rows — the media
# corpus is SYNTHESIZED executor-side from doc_ids, so the 10x
# documents table IS the 10x media corpus and the closed-form oracles
# replay at any scale.
QUERIES="$QUERIES q_multimodal_phash q_multimodal_audio \
  q_multimodal_features q_multimodal_frames q_multimodal_video"
# Round-17 verdict task 5: the streaming family at the 10x feed — the
# two-batch lifecycle stages ITS feed from the scaled events table, and
# the oracles are plain SQL over the same table, so the gate mechanism
# is unchanged. (q_stream_dedup_near/_embed and the ingest forms stay
# out: their oracles carry banding/TSV fixtures priced separately.)
QUERIES="$QUERIES q_stream_sessions q_stream_sessions_bounded \
  q_stream_dedup q_stream_tumble q_stream_ngrams q_stream_scd2 \
  q_stream_enrich q_stream_semi_join q_stream_interval_join \
  q_stream_interval_join_outer q_stream_cdc q_stream_attribution"
# Round-18 second wave — the cheap linear remainder: the full agg
# family, the window/set/pivot/grouping/subquery shapes, every scalar
# function suite, the parser parity entries, and the bounded-sample
# dedup verification twins (their doc_id<500 verification windows are
# corpus-prefix-bounded BY DESIGN — the banded candidate stages above
# carry the scaled-volume story; the twins' oracles replay the same
# bound, so they gate id/text-distribution drift at 10x for constant
# cost). The nightly index lifecycle entries (incremental/append) gate
# the banded probe + persisted index at the 50k-doc corpus.
QUERIES="$QUERIES q_agg_approx q_agg_argmax q_agg_bool q_agg_collect \
  q_agg_cube q_agg_distinct q_agg_having q_agg_hll_merge \
  q_agg_incremental q_agg_multi_distinct q_agg_percentile \
  q_agg_percentile_approx q_agg_percentile_weighted q_agg_trend"
QUERIES="$QUERIES q_window_analytic q_window_nav q_window_range \
  q_window_running_distinct q_set_intersect q_set_union q_set_ops_all \
  q_pivot q_unpivot q_union_by_name q_grouping_id q_grouping_sets \
  q_subquery_correlated q_subquery_scalar q_scan_project"
QUERIES="$QUERIES q_string_funcs q_string_advanced q_date_funcs \
  q_calendar_funcs q_math_funcs q_regexp_funcs q_bitwise_funcs \
  q_hash_funcs q_struct_funcs q_array_funcs q_array_advanced \
  q_null_semantics q_map_funcs q_json_extract q_url_extract"
QUERIES="$QUERIES q_null_normalize q_parse_bool q_parse_date_multi \
  q_parse_ts_multi q_safe_cast q_ingest_typed q_ingest_jsonl"
QUERIES="$QUERIES q_dedup_ngram q_dedup_containment q_dedup_edit \
  q_dedup_paragraph q_dedup_url q_dedup_canonical q_dedup_incremental \
  q_dedup_incremental_near q_dedup_index_append"
# Round-18 third wave — the last gateable remainder: the packing/
# layout manifests (deterministic, oracle-mirrored), the approx
# profile twins (deterministic sketch replays), the streaming ingest
# and file-sink lifecycles, and the streaming nightly near-dup (its
# minhash banding oracle is the same portable md5 replay
# q_dedup_incremental_near just passed at this scale).
QUERIES="$QUERIES q_context_pack q_hist_equidepth_approx \
  q_winsorize_approx q_stream_ingest q_stream_ingest_jsonl \
  q_stream_ngrams_sink q_stream_dedup_near q_zorder_layout \
  q_curation_partition_layout q_curation_global_index"
# ── Round-19 closure of the six round-18 exclusions (verdict task 5) ──
#   q_dedup_embed_incremental / q_stream_dedup_embed — the round-18
#     "O(n^2) oracle" note was wrong for these two: their corpus side
#     is FIXED at 300 vectors, so the brute-force arm is O(300·n) —
#     priced at 4.9 s / 3.2 s in DuckDB at this decade. Gated directly.
#   q_heavy_hitters / q_heavy_hitters_approx — the registry default m
#     is now AUTO-SIZED per corpus (m = max(1024, 2·V), V = exact
#     distinct bigram count, mirrored in the approx oracle's SQL), so
#     the exact entry is provably in-regime (m ≥ V ⇒ no partition ever
#     hits the counter cap ⇒ full-vocabulary candidates ⇒ exact) at
#     every decade.
#   q_dedup_embed_slice / q_dedup_minhash_verified_slice — bounded-
#     oracle GATE TWINS of the two entries whose brute-force oracles
#     really are O(n^2) (4e8 pairs / 1.25e9 pairs at this decade): the
#     engine arm runs the IDENTICAL full-corpus banding (scaled bucket
#     occupancy included); only the gated output is restricted to a
#     deterministic ~2k-id stratified slice, making the DuckDB arm
#     O(slice^2) ≈ 2M pairs at ANY scale. Non-vacuous here: 69 / 10
#     pairs of planted + organic ground truth at this decade.
QUERIES="$QUERIES q_dedup_embed_incremental q_stream_dedup_embed \
  q_heavy_hitters q_heavy_hitters_approx q_dedup_embed_slice \
  q_dedup_minhash_verified_slice"
# Round-20: the two new bounded-oracle twins (verdict task 3 — the
# recipe's 3rd/4th applications) carry their own 10x rows too:
# simhash-verified's identical full pipeline behind an md5-hash output
# slice (slice-local signature + Hamming ball in DuckDB), and BFS's
# identical frontier iteration from the seed rule R = max(100,
# n_cust/16) (recursive CTE from the same seeds in DuckDB).
QUERIES="$QUERIES q_dedup_simhash_verified_slice q_graph_bfs_bounded"
# Excluded with reasons (the no-silent-caps discipline):
#   q_dedup_embed / q_dedup_minhash_verified — their own oracles stay
#     O(n^2)-priced out at this decade, but BOTH pipelines now carry a
#     full-strength scaled hash row through their _slice twins above
#     (same engine plan, bounded oracle), so no operator is untested.
# Final tally: 240 of 242 registry entries carry a 10x hash row; the
# two out are the O(n^2)-oracle production forms whose identical
# pipelines gate through their _slice twins at the same decade.
cd "$(dirname "$0")/.."
sbt -batch "runMain graft.Verify $SF $OUT $QUERIES"
python3 tools/check.py "$SF" "$OUT"
