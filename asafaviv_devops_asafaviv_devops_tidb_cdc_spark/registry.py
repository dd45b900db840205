"""Query registry: maps Qid -> (Spark callable, DuckDB oracle SQL).

Every operator from SURVEY.md §2 registers here; ``__spark_entry__.py``
re-exports. Oracle-less entries (stream-only / non-SQL-expressible)
get a rows-only check from the driver.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# query names in the order their modules registered them (QUERIES is
# reordered by _CHECK_FIRST once everything is loaded)
REGISTRATION_ORDER: list[str] = []

_QUERY_MODULES = [
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.cdc",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.relational",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.metrics",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.analytics",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.llm_pipeline",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.streaming_checks",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.logs",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.window_funcs",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.profiling",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.storage",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.corpus_ops",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.extensions",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.training_io",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.advanced_ops",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.web_frontier",
]

# Registration (= iteration) order for the exported query dict. The
# driver's correctness gate checks a prefix of the registered queries
# (the first 50), so ordering IS coverage policy. Both lists below are
# generated by `python scripts/freshness.py --write` (never hand-edit
# them; tests/test_freshness.py pins the composition): the window takes
# the must-haves — queries never checked, or whose function-granular
# reference closure changed since their latest verdict — oldest verdict
# first, ties in registration order; leftover slots rotate the oldest
# verdicts. Queries not listed keep registration order after the listed
# ones; all of them still run in bench and pytest regardless.
_CHECK_FIRST = [
    # verdict r10
    "q_udaf_median",
    # verdict r11
    "q_old_image",
    "q_typed_cast",
    "q_filter_cmp",
    "q_arith_update",
    "q_cdc_replay",
    "q_union_variants",
    "q_except_deleted",
    "q_snapshot_diff",
    "q_ops_pivot",
    "q_session_windows",
    "q_pricing_summary",
    "q_dedup_exact",
    "q_simhash",
    "q_simhash_neardup",
    "q_ngram_jaccard",
    "q_cosine_topk",
    "q_ivf_topk",
    "q_text_stats",
    "q_token_count",
    "q_lang_id",
    "q_quality_score",
    "q_repetition_ratio",
    "q_stream_resume",
    "q_dq_checks",
    "q_event_drift",
    "q_events_format_parity",
    "q_snapshot_roundtrip",
    "q_retention_sweep",
    "q_bucketed_join",
    "q_weighted_mix",
    "q_delta_join",
    "q_containment",
    "q_mix_epochs",
    # verdict r12
    "q_sha2",
    "q_join_fk",
    "q_join_star",
    "q_ship_priority",
    "q_local_supplier_volume",
    "q_returned_items",
    "q_promo_share",
    "q_top_supplier",
    "q_nation_volume",
    "q_market_share",
    "q_small_qty_revenue",
    "q_big_orders",
    "q_supplier_parts",
    "q_disjunctive_revenue",
    "q_nation_profit",
    "q_min_cost_supplier",
]

# Must-haves that overflow the window, in the same order; later
# windows take them from the front. Generated with _CHECK_FIRST by
# `python scripts/freshness.py --write`.
_REPROOF_QUEUE = [
    # verdict r12
    "q_excess_suppliers",
    "q_lsh_buckets",
    "q_fingerprint",
    "q_scrub_text",
    "q_props_json",
    "q_multimodal_meta",
    "q_media_chunks",
    "q_split_assign",
    "q_stratified_sample",
    "q_doc_search",
    "q_neardup_source_matrix",
    "q_pq_encode",
    "q_pq_topk",
    "q_alert_sustained",
    "q_log_ingest",
    "q_log_error_rate",
    "q_running_total",
    "q_shard_manifest",
    "q_curriculum",
    "q_heavy_hitters",
    "q_sample_fixed",
    "q_sample_per_group",
    "q_ann_filtered",
    "q_text_embedding_stats",
    "q_source_gini",
    "q_knn_classify",
    # verdict r13
    "q_multimodal_decode",
    "q_bmp_pixel_stats",
    "q_bmp_resize",
    "q_png_pixel_stats",
    "q_warc_extract",
    "q_warc_html_text",
    "q_warc_links",
    "q_main_content",
    "q_robots_policy",
    "q_wav_sample_stats",
    "q_avi_frame_sample",
    "q_unigram_surprise",
    "q_filter_sweep",
    "q_stream_join_view_skew",
    "q_table_stats",
    "q_event_transitions",
    "q_stream_transitions",
    "q_schema_evolution",
    "q_udtf_explode",
    "q_pii_census",
    "q_stream_pii",
    "q_edit_neardup",
    "q_content_chunks",
    "q_graph_triangles",
    "q_phrase_search",
    "q_overlap_profile",
    "q_bm25_search",
    "q_stream_kmv",
    "q_gapfill_interpolate",
    "q_stream_gapfill",
    "q_attribution",
    "q_skyline",
    "q_decay_engagement",
    "q_equidepth_hist",
    "q_join_card_est",
    "q_rfm_segments",
    "q_journey_paths",
    "q_trend_slope",
    "q_dbscan_roles",
    "q_stream_trend",
    "q_dow_seasonality",
    "q_changepoint",
    # verdict r14
    "q_intersect_active",
    "q_median_value",
    "q_grouping_sets",
    "q_value_parts",
    "q_ann_recall",
    "q_jpeg_coeff_stats",
    "q_jpeg_color_stats",
    "q_ivf_incremental",
    "q_stream_ingest_counts",
    "q_stream_cdc_replay",
    "q_stream_window_counts",
    "q_stream_dedupe",
    "q_stream_sessions",
    "q_stream_stream_join",
    "q_stream_alerts",
    "q_stream_join_view",
    "q_stream_funnel",
    "q_stream_topk",
    "q_stream_late_drops",
    "q_moving_avg",
    "q_lag_delta",
    "q_first_last",
    "q_ntile",
    "q_topn_per_group",
    "q_rolling_1h_count",
    "q_rank_stats",
    "q_stream_dq",
    "q_stream_event_drift",
    "q_compaction_parity",
    "q_decontaminate",
    "q_pack_sequences",
    "q_corpus_mix",
    "q_kmeans_iter",
    "q_scd2_history",
    "q_stream_scd2",
    "q_scd2_asof",
    "q_stream_delta_agg",
    "q_boilerplate_grams",
    "q_stream_changepoint",
    "q_join_order_choice",
    "q_sitemap_census",
    "q_stream_host_graph",
    # verdict r15
    "q_ops_by_table_op",
    "q_status_counts",
    "q_validate_events",
    "q_parse_envelope",
    "q_explode_rows",
    "q_normalize",
    "q_string_ops",
    "q_anti_orphans",
    "q_semi_active",
    "q_ratio_join",
    "q_unique_check",
    "q_asof_join",
    "q_range_join",
    "q_skew_salted_join",
    "q_latency_histogram",
    "q_totals_last",
    "q_sums_filtered",
    "q_rollup_ops",
    "q_cube_ops",
    "q_windowed_distinct",
    "q_hll_distinct",
    "q_order_count_dist",
    "q_sql_region_revenue",
    "q_forecast_revenue",
    "q_idle_rich_customers",
    "q_neardup_clusters",
    "q_cluster_sizes",
    "q_pii_scan",
    "q_pipeline_e2e",
    "q_term_stats",
    "q_jpeg_progressive_stats",
    "q_url_dedup",
    "q_host_graph",
    "q_ngram_novelty",
    "q_cluster_leakage",
    "q_canonical_pick",
    "q_stream_doc_dedup",
    "q_dedup_yield_by_source",
    "q_compact_partials",
    "q_takedown_propagation",
    "q_link_rank",
    "q_stream_sample",
    "q_stream_manifest",
    "q_basket_pairs",
    "q_label_prop",
    "q_hierarchy_depth",
    "q_subtree_rollup",
    "q_crawl_frontier",
    "q_web_corpus_e2e",
    # verdict r16
    "q_rate_5m",
    "q_error_ratio",
    "q_quantiles",
    "q_hll_error_bound",
    "q_alert_liveness",
    "q_prom_quantile",
    "q_rate_per_op",
    "q_increase_1h",
    "q_date_histogram",
    "q_topk_recent",
    "q_approx_quantile_bound",
    "q_funnel_stages",
    "q_time_weighted_avg",
    "q_anomaly_mad",
    "q_metrics_exposition",
    "q_order_priority",
    "q_late_shipments",
    "q_blocking_suppliers",
    "q_cohort_retention",
    "q_sample_estimate_bound",
    "q_minhash_neardup",
    "q_embedding_neardup",
    "q_frame_sample",
    "q_multimodal_features",
    "q_embedding_stats",
    "q_cosine_pairs",
    "q_ann_batch",
    "q_ivf_topk_trained",
    "q_ann_batch_ivf",
    "q_neardup_recall",
    "q_doc_chunks",
    "q_vocab_coverage",
    "q_embedding_gram",
    "q_semantic_dedup",
    "q_bpe_merges",
    "q_bpe_tokenize",
    "q_alert_rules_eval",
    "q_bigram_counts",
    "q_doc_len_histogram",
    "q_null_profile",
    "q_key_skew",
    "q_schema_drift",
    "q_vocab_growth",
    "q_pruned_scan",
    "q_zorder_layout",
    "q_vec_quantize",
    "q_delta_agg",
    "q_embedding_norm_hist",
    "q_bloom_decontaminate",
    "q_kmv_distinct",
]


_loaded = False


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _reorder()
    _loaded = True


def _reorder() -> None:
    """Rebuild the registries in _CHECK_FIRST-priority order (dicts
    iterate in insertion order, which is what the driver consumes)."""
    REGISTRATION_ORDER[:] = QUERIES
    rank = {name: i for i, name in enumerate(_CHECK_FIRST)}
    reg_order = {name: i for i, name in enumerate(QUERIES)}
    ordered = sorted(QUERIES, key=lambda n: (rank.get(n, len(rank)), reg_order[n]))
    for registry in (QUERIES, ORACLES):
        items = {n: registry[n] for n in ordered if n in registry}
        registry.clear()
        registry.update(items)
