"""Query library.

`registry` collects every declared query as a (spark builder, oracle SQL)
pair; importing the submodules populates it.
"""

from _imdb_etl_spark.plans.registry import REGISTRY, QuerySpec, register

# populate the registry
from _imdb_etl_spark.plans import tpch  # noqa: E402,F401
from _imdb_etl_spark.plans import tpch2  # noqa: E402,F401
from _imdb_etl_spark.plans import tpch3  # noqa: E402,F401
from _imdb_etl_spark.plans import tpch4  # noqa: E402,F401
from _imdb_etl_spark.plans import grafs  # noqa: E402,F401
from _imdb_etl_spark.plans import relational  # noqa: E402,F401
from _imdb_etl_spark.plans import events  # noqa: E402,F401
from _imdb_etl_spark.plans import advanced  # noqa: E402,F401
from _imdb_etl_spark.plans import scale  # noqa: E402,F401
from _imdb_etl_spark.plans import scalar  # noqa: E402,F401
from _imdb_etl_spark.plans import parity  # noqa: E402,F401
from _imdb_etl_spark.plans import audit  # noqa: E402,F401
from _imdb_etl_spark.operators import text  # noqa: E402,F401
from _imdb_etl_spark.operators import dedup  # noqa: E402,F401
from _imdb_etl_spark.operators import similarity  # noqa: E402,F401
from _imdb_etl_spark.operators import multimodal  # noqa: E402,F401
from _imdb_etl_spark.operators import pipeline  # noqa: E402,F401
from _imdb_etl_spark.operators import corpus  # noqa: E402,F401
from _imdb_etl_spark.operators import webcorpus  # noqa: E402,F401
from _imdb_etl_spark.operators import semantic  # noqa: E402,F401
from _imdb_etl_spark.operators import retrieval  # noqa: E402,F401
from _imdb_etl_spark.sources import pysource  # noqa: E402,F401
from _imdb_etl_spark.sources import jsonl  # noqa: E402,F401
from _imdb_etl_spark.sources import xml  # noqa: E402,F401
from _imdb_etl_spark.sources import orc  # noqa: E402,F401
from _imdb_etl_spark.sources import partitioned  # noqa: E402,F401
from _imdb_etl_spark.operators import quality  # noqa: E402,F401
from _imdb_etl_spark.operators import evaluation  # noqa: E402,F401
from _imdb_etl_spark import streaming  # noqa: E402,F401

# Gate priority: the driver's correctness gate evaluates queries in
# registry insertion order and records only the first GATE_WINDOW_SIZE
# per round. GATE_WINDOW is the intended per-round window — EXACTLY the
# prefix the driver will record, enforced <= GATE_WINDOW_SIZE by
# tests/test_plans.py (round 4 listed 52 names ahead of the cut and
# silently lost the last two).
#
GATE_WINDOW_SIZE = 50
# ROTATION RECIPE (round 9+): replace GATE_WINDOW with the first 50
# names of _GATE_REST (tools/ledger.py prints any no-driver-row names
# — after round 8 there should be NONE, so future windows are pure
# refresh/re-gate rotations: oldest rows first, plus any
# implementation that changed since its last row), append the retired
# window to the BACK of _GATE_REST, replay the new window at sf0.01
# (tools/check.py) before committing.
#
# Current window: the six faces round 13 changed without a driver row
# (tpch_q8, tpch_q19, dedup_simhash, neardup_pagerank,
# split_leakage_audit, dedup_winnow_clusters — the registered face of
# the winnow pair relation) lead it, pulled out of _GATE_REST; the
# rest is the prefix take of the remaining queue (supplier_hhi_by_nation
# through source_schema_evolution). The retired round-13 window moved
# to the BACK of _GATE_REST. The six were replayed green with
# tools/check.py at sf0.001, sf0.01 and sf0.1, and the whole window at
# sf0.01, before commit.
GATE_WINDOW = [
    "tpch_q8_national_market_share",
    "tpch_q19_discounted_revenue",
    "dedup_simhash",
    "neardup_pagerank",
    "split_leakage_audit",
    "dedup_winnow_clusters",
    "supplier_hhi_by_nation",
    "text_cooccurrence_pmi",
    "text_remove_duplicate_spans",
    "tokenizer_bpe_encode",
    "vocab_zipf_slope",
    "aqe_skew_join_events",
    "corpus_batch_padding_plan",
    "corpus_canary_scan",
    "corpus_canary_scan_many",
    "corpus_ccnet_buckets",
    "corpus_datasheet",
    "corpus_span_corruption",
    "dedup_jaccard_prefix_incremental",
    "dedup_jaccard_prefix_persisted",
    "dedup_lsh_recall_audit",
    "dedup_minhash_index_persisted",
    "distinct_users_bitmap_exact",
    "dq_observe_metrics",
    "embedding_silhouette_simplified",
    "events_attribution_last_touch",
    "events_attribution_linear",
    "events_ewma_burst",
    "events_forecast_backtest",
    "events_new_vs_returning",
    "fact_star_left_joins",
    "features_psi_drift",
    "features_target_encoding",
    "features_user_daily",
    "fuzzy_part_name_groups",
    "multimodal_audio_pitch",
    "neardup_kcore",
    "privacy_k_anonymity_audit",
    "privacy_pseudonymize_users",
    "reco_negative_sampling",
    "retrieval_hard_negatives",
    "runtime_bloom_filter_join",
    "scalar_map_suite",
    "scalar_try_suite",
    "sim_knn_binary_rerank",
    "sim_knn_ivfpq",
    "sim_knn_ivfpq_refined",
    "sink_dynamic_partition_backfill",
    "sketch_distinct_kmv_setops",
    "source_schema_evolution",
]
# everything below keeps per-round local coverage (tools/check.py +
# pytest); ordering = rotation priority, strictly oldest driver row
# first (ties broken by name), rebuilt this round from the raw
# CORRECTNESS_r1..r8 artifacts. Round 10+: take _GATE_REST[:50] as the
# window, append the retired window to the BACK (its rows are then the
# newest), re-sorting is only needed if a demotion/registration
# changes the set.
_GATE_REST = [
    "sql_identifier_binding",
    "sql_session_variable",
    "streaming_foreachbatch_upsert",
    "text_hashing_vectorizer",
    "text_winnowing_fingerprints",
    "tokenizer_bpe_train_batched",
    "tokenizer_bpe_train_n",
    "tokenizer_vocab_coverage_ladder",
    "vocab_oov_rate",
    "anti_join_small_spenders",
    "case_date_buckets",
    "cross_join_dense_grid",
    "dim_people_fanout_distinct",
    "embedding_array_stats",
    "graf1_orders_by_priority",
    "graf2_avg_quantity_by_type",
    "graf3_top10_customers",
    "graf5_top10_suppliers_by_items",
    "graf6_customers_by_nation",
    "having_frequent_customers",
    "merge_scd1_vip_segment",
    "p1_projection_rename",
    "p2_distinct_projection",
    "p3_degenerate_dim",
    "quantiles_price_by_flag",
    "rollup_orders_status_priority",
    "salted_agg_by_priority",
    "sample_deterministic_orders",
    "sample_stratified_customers",
    "semi_join_big_spenders",
    "setop_except_nations",
    "setop_intersect_nations",
    "setop_union_nations",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect",
    "tpch_q17_small_quantity",
    "tpch_q18_large_volume",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "window_suite_customer_orders",
    "crossmodal_textdup_cosine",
    "decontaminate_vs_eval",
    "dedup_exact",
    "dedup_exact_normalized",
    "dq_constraint_checks",
    "dq_null_profile",
    "grouping_sets_mixed",
    "multimodal_features",
    "range_join_price_bands",
    "scalar_array_suite",
    "scalar_date_suite",
    "scalar_null_suite",
    "scalar_string_suite",
    "sim_knn_bruteforce",
    "sim_knn_ivf",
    "sql_api_cte_nations",
    "text_chunk_documents",
    "text_fingerprint",
    "text_lang_id",
    "text_normalize_tokens",
    "text_quality",
    "text_stats",
    "text_token_count_bpe",
    "tpch_q11_important_part_value",
    "tpch_q16_supplier_part_variety",
    "tpch_q20_dominant_supplier",
    "tpch_q21_waiting_orders",
    "tpch_q22_prospective_customers",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "vocab_top_words",
    "window_suite2_distribution",
    "asof_join_purchase_view",
    "boilerplate_ngram_filter",
    "cdc_snapshot_diff",
    "collation_ci_group",
    "corpus_length_histogram",
    "corpus_pack_shards",
    "dedup_corpus_lines",
    "dedup_incremental_batch",
    "embedding_norms_arrow",
    "events_daily_pivot",
    "events_gapfill_hourly",
    "events_granularity_ladder",
    "events_hourly_rollup",
    "events_props_json",
    "events_props_udtf",
    "events_props_variant",
    "events_sessionize",
    "events_unpivot_daily",
    "graf4_top3_customers_top3_nations",
    "grouped_map_user_gaps",
    "multimodal_frame_sample",
    "multimodal_resize",
    "null_safe_join_priorities",
    "pipeline_docs_prep",
    "pysource_synthetic_docs",
    "sim_knn_lsh",
    "skew_join_salted_events",
    "split_train_val_test",
    "streaming_dedup_events",
    "streaming_enrich_events",
    "streaming_hourly_rollup",
    "streaming_pysource_bucket_counts",
    "streaming_sessionize",
    "streaming_stateful_user_totals",
    "text_pii_redact",
    "text_repetition_scores",
    "tpch_q12_late_shipment_priority",
    "tpch_q15_top_supplier",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "unigram_logprob_quality",
    "w1_top3_parts_per_brand",
    "approx_distinct_users",
    "approx_quantiles_price",
    "corpus_balanced_sample",
    "corpus_domain_cap",
    "corpus_source_quality_profile",
    "corpus_temperature_sample",
    "corpus_token_budget_plan",
    "decontaminate_bloom",
    "decontaminate_embedding",
    "dedup_cluster_size_histogram",
    "dedup_clusters",
    "embedding_centroid_cohesion",
    "embedding_pca_top_component",
    "embedding_quantize_int8",
    "events_funnel_analysis",
    "events_markov_transitions",
    "events_retention_cohorts",
    "events_session_window_native",
    "events_value_drift_daily",
    "grouped_agg_pandas_udaf",
    "jsonl_roundtrip_source",
    "lateral_top_orders_per_customer",
    "merge_scd2_customer_history",
    "multimodal_audio_stats",
    "multimodal_decode_png",
    "multimodal_decode_wav",
    "multimodal_phash_dedup",
    "multimodal_shot_boundaries",
    "neardup_graph_stats",
    "pipeline_pretrain_mix",
    "pysink_roundtrip_docs",
    "recursive_cte_amortization",
    "scd2_point_in_time_join",
    "sim_knn_ivf_trained",
    "sim_knn_pq",
    "sql_tvf_brand_stats",
    "sql_udf_revenue",
    "streaming_join_view_purchase",
    "stringagg_top_customers_per_nation",
    "text_duplicate_spans",
    "text_lang_id_confusion",
    "window_range_trailing_30d",
    "xml_roundtrip_source",
    "zorder_events_locality",
    "basket_part_affinity",
    "corpus_chars_tokens_regression",
    "corpus_entropy_profile",
    "corpus_epoch_shuffle",
    "corpus_ngram_novelty",
    "corpus_upsample_epochs",
    "dedup_cdc_chunks",
    "dedup_containment_lsh",
    "dedup_embedding_cosine_ivf",
    "dedup_jaccard_lsh",
    "dedup_keep_best",
    "dedup_minhash_lsh",
    "dedup_semantic_clusters",
    "dedup_threshold_sweep",
    "events_anomaly_mad",
    "events_conversion_latency",
    "events_cusum_changepoint",
    "events_funnel_time_bound",
    "events_rollup_incremental",
    "events_sliding_distinct_hll",
    "events_welch_ttest",
    "grouped_arrow_user_stats",
    "imdb_reference_parity",
    "orc_roundtrip_source",
    "pysource_pushdown_range",
    "quality_logreg_scorecard",
    "quality_pr_curve",
    "quality_score_auc",
    "retrieval_hybrid_rrf",
    "scalar_timestamp_suite",
    "setop_except_all_views",
    "setop_intersect_all_views",
    "shuffle_skew_profile",
    "sim_knn_ivf_persisted",
    "sim_recall_curve",
    "sketch_heavy_users_cms",
    "split_temporal_embargo",
    "sql_group_by_all_revenue",
    "sql_parameterized_revenue",
    "sql_pipe_revenue",
    "streaming_corpus_ingest",
    "text_bigram_lm_score",
    "text_bm25_search",
    "text_embed_batch_inference",
    "text_lm_heldout_perplexity",
    "text_tfidf_keywords",
    "tokenizer_bpe_apply_merge",
    "tokenizer_bpe_first_merges",
    "udtf_polymorphic_first_tokens",
    "audit_benford_totalprice",
    "audit_referential_integrity",
    "bucketed_join_orders_lineitem",
    "corpus_dsir_importance",
    "corpus_js_divergence",
    "corpus_weighted_reservoir",
    "cube_orders_status_year",
    "customers_gini_spend",
    "customers_rfm_segments",
    "customers_tier_migration",
    "dedup_incremental_minhash",
    "dedup_jaccard_prefix",
    "dedup_soft_weights",
    "embedding_matryoshka_recall",
    "embedding_outlier_mahalanobis",
    "events_ab_conversion_ztest",
    "events_ab_srm_check",
    "events_acf_lag1",
    "events_attribution_first_touch",
    "events_attribution_time_decay",
    "events_bot_regularity",
    "events_dau_wau_mau",
    "events_decompose_additive",
    "events_gapfill_interpolate",
    "events_interval_coalesce",
    "events_ks_two_sample",
    "events_mannwhitney_u",
    "events_seasonal_anomaly",
    "events_sequence_pattern",
    "events_survival_km",
    "lineitem_weighted_median_price",
    "median_exact_price_per_brand",
    "multimodal_audio_segments",
    "neardup_clustering_coefficient",
    "neardup_rate_by_source",
    "orders_cohort_ltv",
    "orders_mom_yoy_growth",
    "orders_spearman_price_items",
    "parts_abc_classification",
    "privacy_dp_noisy_counts",
    "profile_table_orders",
    "quality_calibration_bins",
    "scalar_bitwise_suite",
    "shipping_lag_percentiles",
]
_GATE_ORDER = GATE_WINDOW + _GATE_REST


def apply_gate_order() -> None:
    """Reorder REGISTRY in place to gate-priority order (idempotent).

    Runs once at import, but consumers of the ORDER (the driver
    contract in __spark_entry__.py, the gate-window test) re-apply it:
    if an operator module is imported before this package, the
    circular import back into the partially-initialized package means
    that module's queries register only AFTER the import-time reorder
    ran, leaving them appended at the end — silently outside the
    driver's recording window. Re-applying at consumption time makes
    the order correct under any import order.
    """
    ordered = {n: REGISTRY[n] for n in _GATE_ORDER if n in REGISTRY}
    for n, spec in list(REGISTRY.items()):
        ordered.setdefault(n, spec)
    REGISTRY.clear()
    REGISTRY.update(ordered)


apply_gate_order()

__all__ = [
    "REGISTRY",
    "QuerySpec",
    "register",
    "GATE_WINDOW",
    "GATE_WINDOW_SIZE",
    "apply_gate_order",
]
