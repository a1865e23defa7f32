"""Query registry: every plan module's (QUERIES, ORACLES), merged by name.

Each plans submodule contributes (QUERIES, ORACLES); names are globally
unique. Queries without an oracle entry (non-SQL-expressible ops) get a
rows-only check. The correctness gate covers the first 50 entries of
``all_queries()``, so ``_FRONT_50`` fixes that order;
``tests/test_oracle_parity.py`` pins it. Gate-rotation history lives in git.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tinyerp_etl_spark.plans import etl_queries, relational
from tinyerp_etl_spark.plans.etl_queries import ETL_ORACLES
from tinyerp_etl_spark.plans.llm_ops import LLM_ORACLES, LLM_QUERIES
from tinyerp_etl_spark.plans.oracles import RELATIONAL_ORACLES
from tinyerp_etl_spark.plans.streaming_queries import (
    STREAMING_ORACLES,
    STREAMING_QUERIES,
)
from tinyerp_etl_spark.plans.tpch_extra import TPCH_EXTRA_ORACLES, TPCH_EXTRA_QUERIES
from tinyerp_etl_spark.plans.udf_surface import UDF_SURFACE_ORACLES, UDF_SURFACE_QUERIES

QueryFn = Callable[[SparkSession, str], DataFrame]

_ETL_NAMES = [
    "asof_purchase_to_view",
    "range_join_event_bursts",
    "kmv_distinct_users",
    "scd2_user_event_history",
    "snapshot_diff_orders",
    "replace_order_items",
    "sessionize_user_events",
    "incremental_rollup_orders",
    "watermark_resolution_matrix",
    "hierarchy_subtree_rollup",
    "skew_salted_event_totals",
    "cohort_retention_daily",
    "longest_active_streaks",
    "fuzzy_match_customers",
    "copurchase_part_pairs",
    "copurchase_pagerank_3iter",
    "copurchase_triangles",
    "attribution_interval_join",
    "time_travel_orders_versions",
    "funnel_view_click_purchase",
    "file_format_roundtrip_orders",
    "csv_quarantine_split",
    "nested_flatten_roundtrip",
    "incremental_pipeline_events",
    "json_props_rollup",
    "variant_props_extract",
    "hll_distinct_users",
    "merge_upsert_events",
    "keep_latest_event_per_user",
    "set_null_missing_region",
    "hierarchy_closure_part",
    "key_skew_profile_events",
    "xml_roundtrip_orders",
    "kmv_sketch_rollup",
    "hll_union_rollup",
    "zorder_clustered_scan",
    "bucketed_join_revenue",
]

_RELATIONAL_NAMES = [
    "q1_pricing_summary",
    "agg_distinct_count",
    "agg_rollup",
    "agg_cube",
    "audit_counts",
    "data_profile_orders",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_left_enrich",
    "join_semi_customers_with_orders",
    "join_anti_orphan_audit",
    "join_full_outer_balance",
    "window_latest_order_per_customer",
    "window_running_total",
    "window_rank_price_in_status",
    "topk_expensive_orders",
    "setops_customer_nations",
    "scalar_functions_showcase",
    "exists_returned_orders",
    "subquery_small_quantity_revenue",
    "scalar_subquery_rich_idle_customers",
    "conditional_agg_returnflag",
    "promo_revenue_ratio",
    "monthly_revenue_trend",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_order_distribution",
    "q15_top_supplier",
    "q18_large_volume_customers",
    "q19_discount_revenue",
    "groupwise_min_cheapest_parts",
    "sql_q6_forecast_revenue",
    "quantiles_order_value_by_status",
    "window_moving_avg_daily_revenue",
    "window_navigation_showcase",
    "datetime_functions_showcase",
    "pivot_status_by_priority",
    "unpivot_nation_balances",
    "setops_bag_semantics",
    "deterministic_sample_orders",
    "stratified_sample_orders",
    "gapfill_daily_revenue",
    "anomaly_zscore_daily_revenue",
    "array_functions_showcase",
    "null_handling_showcase",
    "coercion_showcase",
    "approx_quantile_order_totals",
]


_FRONT_50 = [
    "nfc_normalize_docs",
    "domain_blocklist_filter",
    "c4_line_filter_docs",
    "robots_txt_filter",
    "gopher_repetition_docs",
    "span_clean_and_fold_docs",
    "incremental_span_removal_docs",
    "gram_novelty_docs",
    "pq_topk_embeddings",
    "ivf_nprobe_recall_curve",
    "dedup_keep_canonical",
    "embedding_label_centroids",
    "xml_roundtrip_orders",
    "hll_union_rollup",
    "agg_cube",
    "agg_distinct_count",
    "anomaly_zscore_daily_revenue",
    "audio_fingerprint_parity",
    "bloom_decontaminate_docs",
    "bm25i_incremental_index",
    "bm25i_retrieval_docs",
    "chunk_documents_stats",
    "data_profile_orders",
    "hierarchy_subtree_rollup",
    "image_dhash_parity",
    "join_anti_orphan_audit",
    "join_full_outer_balance",
    "join_left_enrich",
    "minhash_signatures",
    "minhash_store_neardup",
    "mp4_container_parity",
    "multimodal_frame_sample",
    "pandas_udaf_weighted_price",
    "paragraph_dedup_docs",
    "perceptual_checker_parity",
    "pii_redact_docs",
    "pivot_status_by_priority",
    "q13_order_distribution",
    "q15_top_supplier",
    "q18_large_volume_customers",
    "q19_discount_revenue",
    "scalar_subquery_rich_idle_customers",
    "setops_customer_nations",
    "time_travel_orders_versions",
    "topk_expensive_orders",
    "udtf_word_positions",
    "video_neardup_parity",
    "window_latest_order_per_customer",
    "window_moving_avg_daily_revenue",
    "winnow_fingerprint_docs",
]


def all_queries() -> dict[str, QueryFn]:
    pool: dict[str, QueryFn] = {}
    pool.update(LLM_QUERIES)
    pool.update(TPCH_EXTRA_QUERIES)
    pool.update(UDF_SURFACE_QUERIES)
    pool.update(STREAMING_QUERIES)
    for name in _ETL_NAMES:
        pool[name] = getattr(etl_queries, name)
    for name in _RELATIONAL_NAMES:
        pool[name] = getattr(relational, name)

    queries: dict[str, QueryFn] = {n: pool[n] for n in _FRONT_50}
    for name, fn in pool.items():
        queries.setdefault(name, fn)
    assert len(queries) == len(pool), "front-50 must be a subset of the pool"
    return queries


def all_oracles() -> dict[str, str]:
    oracles: dict[str, str] = {}
    oracles.update(RELATIONAL_ORACLES)
    oracles.update(TPCH_EXTRA_ORACLES)
    oracles.update(UDF_SURFACE_ORACLES)
    oracles.update(ETL_ORACLES)
    oracles.update(LLM_ORACLES)
    oracles.update(STREAMING_ORACLES)
    return oracles
