#!/usr/bin/env python
"""Scaling probe: do the core plan shapes scale linearly with input size?

Builds x1/x2/x4/x8 copies of the sf0.1 fixture under /tmp (keys offset per
replica so join fan-out and dedup cardinalities scale honestly, instead of
degenerating into duplicate-key blow-up), then times the representative
plan shapes at each scale. Near-linear wall-clock growth is the local-mode
evidence that the plans carry no super-linear step (cross joins, driver
materialization, per-row Python) — the property that has to hold for the
same plans to survive a 1000-executor 100 TB run.

Usage: python scripts/scale_probe.py [max_factor]   # default 8
Output: one JSON line per (query, scale) plus a summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bench import best_of  # noqa: E402
from data_preparation_plugin_spark import get_spark  # noqa: E402
from data_preparation_plugin_spark.plans import QUERIES  # noqa: E402
from data_preparation_plugin_spark.plans.registry import load_table  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
WORK = "/tmp/dpp-scale-probe"

#: (table, key columns to offset per replica) — offsets keep keys disjoint
#: across replicas so every join/group keeps its per-replica cardinality.
SCALED_TABLES = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": [],  # probe set must stay vec_id<10: replicate w/o offset
    # New users per replica: per-user funnels/cohorts/z-scores scale by
    # user count, the honest axis for an event firehose.
    "events": ["event_id", "user_id"],
}
PASSTHROUGH_TABLES = ["region", "nation", "supplier", "part"]
KEY_STRIDE = 100_000_000


def build_scale(spark, factor: int) -> str:
    out = f"{WORK}/x{factor}"
    if os.path.exists(f"{out}/_DONE"):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for name, keys in SCALED_TABLES.items():
        base = load_table(spark, BASE_SF, name)
        parts = []
        for i in range(factor):
            part = base
            for k in keys:
                part = part.withColumn(k, F.col(k) + F.lit(i * KEY_STRIDE))
            if name == "documents":
                # Perturb replica text so fuzzy-dedup pair counts scale
                # linearly (identical replicas would pair across copies).
                part = part.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" replica{i}"))
                )
            if name == "embeddings" and i > 0:
                part = part.withColumn(
                    "vec_id", F.col("vec_id") + F.lit(i * KEY_STRIDE)
                )
            parts.append(part)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    for name in PASSTHROUGH_TABLES:
        load_table(spark, BASE_SF, name).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
    Path(f"{out}/_DONE").touch()
    return out


PROBES = [
    "q1_pricing_summary",        # scan + group-by (map-side combine)
    "q3_shipping_priority",      # multi-join + agg + top-k
    "q18_large_volume_customer", # fact-fact join through partial agg
    "dedup_minhash_lsh_pairs",   # explode + hash + band shuffle
    "text_tfidf",                # double aggregation over explode
    "window_range_interval",     # partitioned range-frame window
    "q21_sole_late_supplier",    # per-order quantifiers, single wide shuffle
    "unpivot_measures",          # generate fan-out, zero shuffle
    "split_train_test",          # pure-projection hash split
    "dedup_decontaminate",       # shingle explode + broadcast probe join
    "sample_sequence_packing",   # hash-stream window cumsum, one shuffle
    "text_repetition_ratio",     # two bounded-key aggs over explode
    "multimodal_decode_ppm",     # chained mapInPandas, zero shuffle
    "sink_merge_upsert",         # CDC anti-join + union rewrite
    "curation_corpus_status",    # one scan feeding a gate cascade
    "geo_point_in_region",       # grid-cell explode + broadcast hash join
    "geo_point_in_polygon",      # same blocking, ray-cast HOF predicate
    "dedup_minhash_clusters",    # iterative label propagation fixpoint
    "dedup_bloom_decontaminate", # join-free bitset probe, one count shuffle
    "text_vocab_ids",            # bounded top-V + broadcast encode join
    "transform_scd2",            # islands idiom: one custkey exchange
    "events_funnel_conversion",  # chained per-user aggregates, one key
    "multimodal_phash_dedup",    # mapInPandas hash + 8-byte-key shuffle
    "text_unigram_logprob",      # corpus counts + scalar-broadcast score
    "events_anomaly_zscore",     # per-user moments + equi-join back
    "transform_hierarchy_flatten",  # pointer doubling, O(log depth) joins
    "graph_pagerank_step",       # degree agg + contribution shuffle
    "join_salted_skew",          # hot-key salt + replicated-dim join
    "dedup_fuzzy_entity_match",  # blocked Levenshtein record linkage
    "dedup_minhash_clusters_star",  # star-contraction CC, O(log^2) rounds
    "events_stream_stateful_totals",  # applyInPandasWithState replay
    "q2_min_cost_supplier",      # correlated-min decorrelation + dims
    "q20_dominant_share_suppliers",  # semi-join over grouped HAVING
    "dedup_duplicate_spans",     # overlapping-gram hits + interval merge
    "text_quality_classifier",   # hashed features, two-level int agg
    "knn_pq_adc",                # PQ encode + broadcast ADC tables
    "agg_kmv_distinct",          # distinct pre-agg + per-group top-K
    "transform_cdc_apply",       # latest-wins log compaction window
    "layout_zorder_bucket",      # Morton key + bucket stats, one agg
    "profile_table_columns",     # one-scan multi-distinct Expand profile
    "agg_cms_heavy_hitters",     # bounded sketch agg + broadcast probe
    "sample_token_budget",       # per-source window cumsum admission
    "events_watermark_audit",    # global arrival-order running max
    "join_interval_overlap",     # day-grid blocked interval join
    "text_bigram_logprob",       # lead-window bigrams + model equi-join
    "text_bigram_backoff_score", # broadcast top-K model, map-side scoring
    "sample_balanced_labels",    # per-class fixed-k rank sample
    "events_mad_outliers",       # robust moments x2 + broadcast join back
    "events_ewma_smooth",        # bounded-depth lag window, one exchange
    "knn_ivf_pq",                # coarse cells + residual PQ, broadcast ADC
    "dedup_semdedup_prune",      # within-cell pair semi-join prune
    "transform_incremental_agg_merge",  # partial-state merge refresh
    "sample_interleave_sources", # per-source rank, arithmetic total order
    "profile_join_skew",         # count agg + TakeOrdered top-N
    "multimodal_video_temporal_pool",   # frame explode + Arrow featurizer
    "dedup_ngram_containment",   # posting-list pair expand, stop-shingle cap
    "udtf_word_chunks",          # lateral Python UDTF, partition-local
    "source_csv_quarantine",     # PERMISSIVE parse + corrupt-record route
    "layout_bucketed_join",      # pre-bucketed join, no join-key exchange
    "agg_kmv_intersection",      # bounded-sketch pair join, KB-sized
    "text_perplexity_buckets",   # unigram score + per-language ntile
    "profile_feature_drift",     # conditional counts + 20-row spine
    "source_python_datasource",  # partitioned custom Python source
    "transform_pseudonymize_consistent",  # keyed-mask join consistency
    "events_stream_interval_join_left",   # outer stream join, wm expiry
    "transform_table_diff",       # full outer + residual change filter
    "transform_dense_surrogate_ids",  # bucket prefix-sum dense ids
    "events_gap_fill",            # per-user spine + forward fill
    "sample_group_kfold",         # stateless group-hash fold map
    "multimodal_audio_vad_segments",  # Arrow frame energies + islands
    "transform_recursive_cte_hierarchy",  # iterative union per level
    "join_lateral_topk",          # decorrelated lateral subquery
    "events_props_variant",       # parse-once variant extraction
    "source_xml_roundtrip",       # from_xml codegen parse
    "events_trailing_dau",        # pair pre-agg + bounded explode
    "sample_negative_candidates", # hash-ring probes, one equi-join
    "agg_decimal_exact_revenue",  # 128-bit decimal scan agg
    "layout_compaction_roundtrip",  # N-file rewrite, read+write bound
    "curation_dataset_card",      # funnel + doc_id join + bounded agg
    "join_asof_nearest",          # union-window, two carried candidates
    "q4_order_priority",          # date-pruned scan + left-semi + tiny agg
    "sample_global_shuffle",      # salted-md5 shard window, one exchange
    "sample_curriculum_order",    # value-histogram quantiles + broadcast
    "events_attribution_last_touch",  # conditional last over user window
    "transform_k_anonymize",      # bounded QI histogram broadcast
    "graph_label_propagation_step",   # vote shuffle + bounded modal window
    "knn_radius_search",          # broadcast nested loop, zero shuffle
    "knn_mmr_diverse",            # pool top-k + per-query greedy UDF
    "text_code_prose_ratio",      # pure map, regexp + HOF counts
    "dedup_incremental_new_docs", # digest-only snapshot-vs-index join
    "curation_threshold_sweep",   # bounded threshold explode + small agg
    "transform_l_diversity",      # distinct-count QI histogram broadcast
    "geo_nearest_centroid",       # broadcast seats, map-side argmin
    "agg_bitmap_distinct",        # 4KB bitmap buckets, two-level agg
    "agg_weighted_median",        # one key exchange, ranking window
    "transform_observed_quality_gate",  # CollectMetrics fold + gate
    "knn_kcenter_coreset",        # k broadcast scans + 1-row argmax
    "text_bm25_topk",             # pre-filtered postings + bounded top-k
    "dedup_lsh_calibration",      # candidate-restricted exact verify
    "split_temporal_holdout",     # one user exchange, integer gate
    "source_fixed_width_ingest",  # rpad write + substring slice scan
    "multimodal_decode_bmp",      # chained Arrow decode, zero shuffle
    "text_langid_confusion",      # classifier map + bounded matrix agg
    "profile_key_frequency_spectrum",  # two stacked bounded aggs
    "transform_dp_noisy_counts",  # bounded count + pure noise exprs
    "join_point_in_time_scd2",    # versioned-dim interval equi-join
    "events_funnel_deadline",     # deadline-bounded stacked windows
    "events_rfm_segmentation",    # custkey agg + 3-number broadcast
    "multimodal_pair_audit",      # modality equi-join + bounded agg
    "dedup_containment_pruned",   # rarest-prefix candidates + exact verify
    "events_markov_transitions",  # user lead window + bounded matrix agg
    "events_sessionize_dynamic_gap",  # native session_window, varying gap
    "knn_ivf_recall_audit",       # two broadcast-probe members + semi join
    "multimodal_shot_boundaries", # Arrow frame features + islands window
    "events_seasonal_decompose",  # daily spine windows + bounded broadcasts
    "dedup_bloom_fp_audit",       # bitset + broadcast members, doc_id join
    "transform_golden_record",    # union + single max_by hash aggregate
    "events_path_trigrams",       # stacked user windows, bounded path agg
    "sink_forget_user_cascade",   # broadcast anti-join rewrites x3
    "events_stream_session_dynamic",  # per-event-gap session state replay
    "text_kneser_ney_bigram",     # bigram-type aggs + broadcast joins
    "events_cumulative_reach",    # first-seen decomposition + spine cumsum
    "graph_kcore_prune_step",     # degree agg + survivor semi-joins
    "text_ngram_novelty",         # first-occurrence agg + shingle join back
    "join_bitemporal_asof",       # knowledge-filtered SCD2 validity join
    "profile_functional_dependencies",  # stacked bounded aggs per candidate
    "events_stream_enrich_scd2",  # per-batch broadcast PIT dim join
    "agg_kmv_difference",         # KB-sized sketch pair lattice
    "events_burst_windows",       # hourly collapse + filtered islands
    "events_stream_stateful_bucketed",  # bucketed-key state, demuxed Arrow
    "events_stream_tws_profile",  # transformWithStateInPandas on RocksDB
    "geo_radius_pairs",           # grid-blocked point-set radius join
    "udf_apply_in_arrow_regression",  # Arrow grouped-map, one flag shuffle
    "profile_column_entropy",     # bounded histograms + tiny windows
    "curation_source_overlap",    # distinct shingles + digest self-join
    "events_stream_tws_bucketed",  # bucketed-key v2 state, MapState demux
    "events_ab_test_lift",        # user-keyed exposure/conversion + arm agg
    "source_logline_parse",       # text stage + regex map + bounded agg
    "setop_intersect_all",        # count-tagged intersect + reconcile joins
    "transform_scd6_hybrid",      # islands + shared-partition windows
    "sort_range_split_points",    # exact decile cuts + broadcast range count
    "dedup_minhash_incremental",  # new-batch probe of standing LSH index
    "agg_market_basket_lift",     # checkpointed baskets + in-basket pairs
    "transform_target_encoding_oof",  # one fact agg + bounded-grid windows
    "dedup_simhash_hamming_pairs",  # pigeonhole bands + bit_count verify
    "multimodal_audio_dominant_freq",  # chained Arrow synth + rfft argmax
    "transform_impute_missing",   # non-null medians + broadcast fill
    "sink_kept_corpus_export",    # funnel + partitioned write + re-read
    "knn_scalar_quantize",        # per-dim range agg + broadcast quantize
    "text_html_boilerplate_strip",  # pure-map regexp/HOF chain, no shuffle
    "graph_common_neighbors",     # wedge join + pair agg on LSH graph
    "sample_neyman_allocation",   # exact-cents moments, 5-row agg
    "curation_domain_mixture",    # bounded domain agg + scalar join
    "sink_manifest_stats",        # hash-partitioned write + re-read manifest
    "events_ab_cuped_adjust",     # one user exchange + 2-row arm moments
    "embedding_gram_matrix",      # Arrow partial Gram, bounded (i,j) agg
    "events_survival_km",         # user collapse + bounded duration grid
    "sample_poisson_bootstrap",   # xREPS generate + REPS-keyed agg
    "profile_join_cardinality_estimate",  # count agg + TakeOrdered MCV
    "multimodal_image_sharpness",  # chained Arrow synth + int Laplacian
    "text_span_corruption",        # pure-map HOF denoising transform
    "sample_user_contribution_cap",  # rank window + agg, one exchange
    "embedding_pca_whiten_audit",  # two partial-Gram passes + driver eig
    "events_sequence_pattern",     # user collapse + narrow regex map
    "events_changepoint_cusum",    # daily collapse + bounded windows
    "profile_cramers_v",           # r x c cell agg + tiny windows
    "profile_key_gini",            # per-key counts + key-cardinality rank
    "embedding_matryoshka_audit",  # two broadcast scans, half-width flops
    "text_tokenizer_fertility",    # narrow regexp counts, one lang agg
    "text_zipf_slope",             # vocab counts + TakeOrdered head
    "profile_ks_drift",            # per-value counts + distinct-value walk
    "events_power_analysis",       # two user-keyed aggs + 1-row formula
    "window_rolling_median",       # bounded trailing frame, one exchange
    "events_time_to_convert",      # user collapse + converted-only rank
    "knn_ivf_cell_balance",        # broadcast codebook map + 8-row audit
    "dedup_weighted_jaccard_pairs",  # capped posting pairs, integer weights
    "agg_mode_exact",              # combination counts + bounded rank
    "events_autocorr_daily",       # daily collapse + moment agg
    "graph_hits_step",             # checkpointed pairs + two half-steps
    "geo_geohash_encode",          # in-codegen encode + cell agg
    "transform_format_preserving_mask",  # scalar translate target, pure map
    "text_readability",            # three regexp counts, zero shuffle
    "events_attribution_position", # broadcast first-purchase + user ranks
    "transform_row_checksum_digest",  # in-codegen hash + bucket digest agg
    "agg_log2_histogram",          # in-codegen log2 bucket + bounded agg
    "profile_id_gap_audit",        # distinct keys + islands walk
    "events_dormancy_resurrection",  # lag window + per-user agg
    "transform_interval_coalesce", # running-max islands, one sort
    "text_js_divergence",          # vocab counts + scalar divergence
    "events_cohort_ltv",           # first-seen join + cohort-week cumsum
    "events_lness_histogram",      # two bounded combinable aggs
    "source_json_multiline",       # single-document array parse
    "graph_bfs_levels",            # 3 frontier joins on checkpointed edges
    "events_slo_burn_rate",        # hourly collapse + hour-range burn
    "window_max_drawdown",         # stacked ordered frames, one sort
    "dedup_edit_distance_verify",  # blocked candidates + banded DP verify
    "curation_license_filter",     # broadcast policy dim + bounded agg
    "window_reset_cumsum",         # anchored reset cumsum, one exchange
    "events_peak_concurrency",     # boundary sweep, 2 rows per session
    "layout_parquet_bloom_lookup",  # bloom-sidecar stage + point lookup
    "layout_dpp_prune",            # runtime dim-driven partition prune
    "profile_missingness_patterns",  # pattern-key projection + agg
    "join_not_in_null_semantics",  # null-aware broadcast anti joins
    "join_null_safe_eq",           # hash join on null-normalized key
    "agg_skewness_kurtosis",       # exact decimal moments, one agg
    "text_oov_rate",               # bounded vocab broadcast probe
    "udf_scalar_iter_score",       # iterator UDF, amortized task init
    "events_trailing_dau_hll",     # daily sketches + bounded-day union
    "geo_bbox_overlap_join",       # 2-sided cell explode + ref-point dedup
    "text_intradoc_dedup",         # doc-keyed chunk dedup + reassembly
    "events_identity_stitch",      # session windows + coalesce stitch
    "transform_scd3_prev_value",   # one-exchange latest transition
    "agg_ols_two_features",        # nine exact moments, Cramer solve
    "layout_sorted_stats_prune",   # range-sort stage + stats-pruned scan
    "transform_try_arithmetic",    # codegen error boundaries + agg
    "text_chat_template_render",   # pure projection render, no shuffle
    "profile_distinct_growth",     # per-key firsts + bounded explode
    "events_training_set_pit",     # shared PIT frames, one exchange
    "text_unicode_normalize",      # Arrow NFC map, zero shuffle
    "source_csv_embedded_newlines",  # multiLine quoted-record parse
    "events_stream_windowed_rollup",  # chained stateful window agg
    "profile_inclusion_dependencies",  # distinct-reduced containment
    "multimodal_audio_resample",   # chained Arrow decimation, no shuffle
    "events_activity_streaks",     # date islands, one user exchange
    "sink_scd2_merge_apply",       # dim x broadcast changes + rewrite
    "embedding_random_projection_jl",  # broadcast sign matrix project
    "multimodal_keyframe_select",  # shot argmax on the same exchange
    "dedup_lsh_recall_audit",      # composed members + pair-key join
    "window_pareto_front",         # one sort + running-max skyline
    "events_bot_score",            # minute collapse + user aggs
    "text_pmi_collocations",       # doc-keyed pair join + TakeOrdered
    "transform_woe_encoding",      # ntile sort + 5-row WOE projection
    "profile_value_patterns",      # codegen shapes + bounded agg
    "events_frequency_cap",        # rolling RANGE cap, one user exchange
    "source_json_quarantine",      # PERMISSIVE JSONL corrupt routing
    "events_stream_tws_timer_sessions",  # event-time timers, RocksDB
    "agg_hll_intersection_ie",     # one sketch pass + class pairs
    "events_downsample_triangle",  # daily collapse + bucket argmax
    "split_leakage_audit",         # banded pairs x split projection
    "udtf_arrow_ngram_stats",      # Arrow-transported lateral UDTF
    "events_stickiness_ratio",     # one pair relation, two windows
    "curation_review_queue",       # funnel verdicts + per-gate rank
    # --- r12: probe-coverage fill — every registered query lacking a
    # probe row in SCALE_PROBE_r09/r10_new (VERDICT r11 #5). Grouped by
    # category; shapes are the families documented in SCALE.md §2. ---
    # aggregate:
    "agg_approx_percentile",
    "agg_arg_max",
    "agg_correlation",
    "agg_distinct",
    "agg_histogram_fixed",
    "agg_hll_sketch",
    "agg_kmv_union",
    "agg_percentiles",
    "agg_salted_skew",
    "agg_statistics",
    "agg_string_concat",
    "cube_agg",
    "grouping_sets",
    "q11_important_stock",
    "q12_priority_by_linestatus",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q6_forecast_revenue",
    "rollup_agg",
    # curation:
    "curation_adaptive_threshold",
    # dedup:
    "dedup_cluster_canonicalize",
    "dedup_embedding_cosine",
    "dedup_exact_distinct",
    "dedup_exact_fingerprint",
    "dedup_keep_first",
    "dedup_minhash_signatures",
    "dedup_ngram_jaccard",
    "dedup_segments_cross_doc",
    "dedup_simhash",
    "graph_triangle_cooccurrence",
    # events:
    "events_interarrival_stats",
    "events_props_map",
    "events_retention_cohort",
    "events_sessionize",
    "events_sliding_windows",
    "events_tumbling_hourly",
    "events_type_pivot",
    # join:
    "exists_late_shipment",
    "join_anti",
    "join_asof",
    "join_asof_forward",
    "join_asof_tolerance",
    "join_full_outer",
    "join_left",
    "join_range_band",
    "join_right_outer",
    "join_semi",
    "q10_returned_items",
    "q14_promo_revenue_share",
    "q17_small_quantity_revenue",
    "q19_disjunctive_predicate_join",
    "q22_dormant_rich_customers",
    "q5_local_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_profit_by_nation_year",
    # multimodal:
    "multimodal_audio_features",
    "multimodal_binary_meta",
    "multimodal_decode_meta",
    "multimodal_decode_wav",
    "multimodal_frame_sample",
    "multimodal_patch_extract",
    "multimodal_resize_ppm",
    # profile:
    "profile_benford_audit",
    # sampling:
    "sample_epoch_upsample",
    "sample_fixed_per_stratum",
    "sample_length_batches",
    "sample_pack_efficiency",
    "sample_packed_sequences",
    "sample_stratified",
    "sample_temperature_mix",
    "sample_weighted_mix",
    "sample_weighted_reservoir",
    # setop:
    "set_ops",
    "set_ops_multiset",
    # similarity:
    "embedding_norm_stats",
    "embedding_standardize",
    "knn_bruteforce_cosine",
    "knn_bruteforce_cosine_arrow",
    "knn_hard_negatives",
    "knn_ivf_cosine",
    "knn_kmeans_step",
    "knn_lsh_cosine",
    # sort:
    "sort_limit_topk",
    # source:
    "sink_dynamic_partition_overwrite",
    "source_binaryfile_ingest",
    "source_csv_roundtrip",
    "source_date_spine",
    "source_json_roundtrip",
    "source_orc_roundtrip",
    "source_partition_pruning",
    "source_postgres_copy_roundtrip",
    "source_schema_evolution",
    "source_shapefile_ingest",
    "source_zip_ingest",
    # streaming:
    "events_stream_dedup",
    "events_stream_enrich",
    "events_stream_interval_join",
    "events_stream_merge_totals",
    "events_stream_sessionize",
    "events_stream_sliding",
    "events_stream_tumbling",
    "source_python_datasource_stream",
    # text:
    "text_bigrams",
    "text_bpe_merge_step",
    "text_bpe_token_count",
    "text_chunk_sliding",
    "text_gopher_repetition",
    "text_langid",
    "text_quality_score",
    "text_scrub_pii",
    "text_token_count",
    "text_token_entropy",
    "text_top_terms",
    "text_url_canonicalize",
    "text_winnowing_fingerprints",
    # transform:
    "array_functions",
    "date_arithmetic",
    "date_functions",
    "filter_compute",
    "null_handling",
    "project_columns",
    "regex_extract",
    "string_format",
    "transform_quality_constraints",
    "transform_quantile_bin",
    "transform_winsorize",
    # udf:
    "udf_cogroup_views_before_purchase",
    "udf_grouped_agg_span",
    "udf_grouped_map_median",
    "udf_map_in_arrow",
    # window:
    "above_customer_avg",
    "window_distribution",
    "window_lag_lead",
    "window_rank_dense",
    "window_running",
    "window_topk_per_group",
    "window_value_functions",
    # --- registered r13 ---
    "source_python_datasource_declarative",  # live-PG declarative write+reflect+split read
    "knn_rerank_crossfeatures",  # LSH recall + candidate-bounded lexical rerank
    "sample_corpus_assembly",    # temperature budgets + greedy admission + packing
    "knn_rerank_recall_audit",   # composed two-stage eval, broadcast exact side
    "knn_lsh_multiprobe",        # generated probe keys, bucket equi-join
    # --- registered r13, second slate ---
    "sample_dsir_importance",    # token explode + 64-key combined agg + broadcast weights
    "dedup_url_keep_best",       # canonical-URL window + rollup, one exchange
    "curation_filter_funnel",    # status pipeline + doc_id join + 5-row windows
    "curation_annotation_agreement",  # two gate projections, 1-row aggregate
    "geo_tile_rollup",           # x3 zoom explode + tile-key map-side agg
    "multimodal_image_entropy",  # chained Arrow synth + bincount entropy
    "transform_t_closeness",     # bounded QI/segment histograms + grid
    "join_bloom_prefilter",      # 8KiB bitset map filter + exact join
    "setop_symmetric_diff_all",  # two count-tagged exceptAll, one key
    "events_stream_cms_topk",    # 384-cell streaming sketch + batch probe
    "curation_incremental_ingest",  # batch-proportional monthly increment
    "dedup_cdc_chunks",          # in-row CDC boundaries + digest spread
    "text_template_cluster",     # in-codegen skeleton mask + digest agg
    "events_stream_quantile_sketch",  # 5x32-cell histogram state + walk
    # --- registered r14 ---
    "curation_incremental_ingest_indexed",  # persisted-index probe, all-broadcast
    "dedup_cdc_chunks_gear",     # O(1)/byte gear fold + digest spread
    "sink_stream_quantile_pg",   # windowed sketch cells -> exactly-once PG
    "dedup_substr_doubling",     # rank-doubling ladder, survivor-restricted
    "curation_archive_index_refresh",  # batch-proportional index deltas
    "knn_ivf_persisted",         # DPP-pruned persisted inverted lists
    # --- registered r15 ---
    "curation_two_cycle_ingest",  # two batch-proportional probes + cycle delta
    "knn_ivf_admitted",          # frozen-codebook append, DPP-pruned serving
    "dedup_cdc_chunks_gear_utf8",  # byte-table gear fold over utf-8 hex
    "curation_index_compaction",  # delta->standing fold, index-sized I/O
    # --- registered r16 ---
    "curation_post_compaction_ingest",  # switch-over probe, compacted-only
    "ivf_admission_drift_guard",  # persisted-cell balance, 8-row agg
    "knn_ivf_retrain_drill",     # forced retrain: rebuild + re-admit + serve
    "dedup_cdc_chunks_gear_vec",  # Arrow-vectorized gear fold
]


def _lsh_pair_telemetry(spark, sf_dir: str) -> dict:
    """Candidate-pair counts for the LSH calibration probe: asserts the
    'pairs grow linearly with docs' banding assumption with a measured
    pairs/doc ratio instead of prose."""
    n_pairs = QUERIES["dedup_minhash_lsh_pairs"].builder(spark, sf_dir).count()
    n_docs = load_table(spark, sf_dir, "documents").count()
    return {
        "cand_pairs": n_pairs,
        "docs": n_docs,
        "pairs_per_doc": round(n_pairs / max(n_docs, 1), 4),
    }


def _edit_verify_telemetry(spark, sf_dir: str) -> dict:
    """Output-pair count for the edit-distance verify probe: the replica
    corpus duplicates every doc with a SUFFIX perturbation, so replicas
    share the 12-char prefix block and the TRUE near-dup groups grow
    with the factor — verified pairs (the output) grow quadratically by
    construction. Recording the count shows wall tracks output, i.e.
    cost is candidate-proportional, not corpus-quadratic."""
    n = QUERIES["dedup_edit_distance_verify"].builder(spark, sf_dir).count()
    return {"verified_pairs": n}


#: query -> untimed extra measurements merged into that query's probe rows.
TELEMETRY = {
    "dedup_lsh_calibration": _lsh_pair_telemetry,
    "dedup_edit_distance_verify": _edit_verify_telemetry,
}


#: Queries whose builder materializes per-fixture standing state on first
#: call (cached behind _SUCCESS): the timed run must hit the cache.
WARM_EACH_FACTOR = {
    "curation_incremental_ingest_indexed",
    "curation_archive_index_refresh",
    "curation_two_cycle_ingest",
    "curation_index_compaction",
    "curation_post_compaction_ingest",
    "knn_ivf_persisted",
    "knn_ivf_admitted",
    "ivf_admission_drift_guard",
    # NOT knn_ivf_retrain_drill: the drill force-rebuilds by design, so
    # its timed run is the honest (corpus-proportional) cost.
}


ORGANIC_DUP_MOD = 7  # ~14% of docs carry a TRUE cross-replica duplicate


def build_organic(spark, factor: int) -> str:
    """Partial-duplication fixture for the exact-substring family.

    The standard replica fixture appends ' replicaN' as a SUFFIX, so
    every 16-char gram except the tail is a true cross-replica duplicate
    — the output-bound worst case for ``dedup_substr_doubling``. This
    fixture models an ORGANIC corpus instead: docs with
    ``doc_id % ORGANIC_DUP_MOD == 0`` (pre-offset) keep their text
    verbatim in every copy (true duplicated mass, a constant ~14%
    fraction), while every other doc gets an 8-hex doc-hash marker
    spliced in every 10 characters — any 16-char gram then contains >=5
    hash chars of its own doc, so cross-doc gram matches are ~16^-5
    accidents (the raw synthetic corpus is template-heavy — 72% of its
    16-grams appear in >=2 docs — and replica copies of a doc share all
    but one DIGIT of their ids, so a plain doc-id marker still matched;
    both drown the decay signal without the hash). Measures the
    docstring's geometric-decay claim: the ladder's level-0 survivors
    are ~the dup slice, not ~the corpus.
    """
    out = f"{WORK}/organic14v2-x{factor}"
    if os.path.exists(f"{out}/_DONE"):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    base = load_table(spark, BASE_SF, "documents")
    parts = []
    for i in range(factor):
        part = (
            base.withColumn(
                "__dup", F.col("doc_id") % ORGANIC_DUP_MOD == 0
            )
            .withColumn("doc_id", F.col("doc_id") + F.lit(i * KEY_STRIDE))
            .withColumn(
                "text",
                F.when(F.col("__dup"), F.col("text")).otherwise(
                    F.expr(
                        "regexp_replace(text, '(.{10})', concat('$1 ', "
                        "substring(md5(CAST(doc_id AS STRING)), 1, 8), "
                        "' '))"
                    )
                ),
            )
            .drop("__dup")
        )
        parts.append(part)
    df = parts[0]
    for p_ in parts[1:]:
        df = df.unionByName(p_)
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    Path(f"{out}/_DONE").touch()
    return out


def _substr_decay_telemetry(spark, sf_dir: str) -> dict:
    """Measured decay: level-0 survivor positions vs total gram
    positions — the number the geometric-decay claim rests on."""
    out = QUERIES["dedup_substr_doubling"].builder(spark, sf_dir)
    row = out.agg(
        F.sum("n_dup_grams").alias("lvl0"),
    ).collect()[0]
    total = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.greatest(
                F.length(F.lower(F.col("text"))) - F.lit(15), F.lit(0)
            ).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    lvl0 = int(row["lvl0"] or 0)
    return {
        "lvl0_survivors": lvl0,
        "total_grams": int(total),
        "lvl0_frac": round(lvl0 / max(int(total), 1), 4),
    }


def main() -> None:
    max_factor = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    factors = [f for f in (1, 2, 4, 8) if f <= max_factor]
    only = os.environ.get("PROBE_ONLY")
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        PROBES[:] = [n for n in PROBES if n in wanted]
    spark = get_spark(app_name="dpp-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(builder, fixture_dir: str, warm: bool) -> float:
        # Single shot; ``warm`` first runs it once untimed on the fixture.
        best, _ = best_of(
            spark, builder, fixture_dir, 1, fixture_dir if warm else None
        )
        return round(best, 3)

    dirs = {f: build_scale(spark, f) for f in factors}
    results: dict[str, dict[int, float]] = {}
    for name in PROBES:
        builder = QUERIES[name].builder
        results[name] = {}
        for f in factors:
            # Warm codegen/JVM at the first factor. Queries probing
            # PERSISTED state build it lazily per fixture dir; the probe
            # measures the steady state, so they pay the one-time build
            # outside the timed run at every factor.
            warm = f == factors[0] or name in WARM_EACH_FACTOR
            dt = timed(builder, dirs[f], warm)
            results[name][f] = dt
            row = {"query": name, "scale": f, "sec": dt}
            if name in TELEMETRY:
                row.update(TELEMETRY[name](spark, dirs[f]))
            print(json.dumps(row))
    # Organic partial-dup series for the exact-substring ladder (r14
    # verdict item 4): same query, ~14%-dup fixture, decay telemetry.
    if not only or "dedup_substr_doubling" in PROBES:
        builder = QUERIES["dedup_substr_doubling"].builder
        odirs = {f: build_organic(spark, f) for f in factors}
        otimes = {}
        for f in factors:
            dt = timed(builder, odirs[f], f == factors[0])
            otimes[f] = dt
            row = {
                "query": "dedup_substr_doubling",
                "fixture": "organic14",
                "scale": f,
                "sec": dt,
            }
            row.update(_substr_decay_telemetry(spark, odirs[f]))
            print(json.dumps(row))
        print(
            json.dumps(
                {
                    "summary_organic_x{}_over_x1".format(factors[-1]): {
                        "dedup_substr_doubling": round(
                            otimes[factors[-1]]
                            / max(otimes[factors[0]], 1e-9),
                            2,
                        )
                    }
                }
            )
        )
    summary = {
        name: round(times[factors[-1]] / max(times[factors[0]], 1e-9), 2)
        for name, times in results.items()
    }
    print(json.dumps({"summary_x{}_over_x1".format(factors[-1]): summary}))


if __name__ == "__main__":
    main()
