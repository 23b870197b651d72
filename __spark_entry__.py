"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query; `queries()` / `oracle_sql()`
expose every implemented operator from SURVEY.md §2 with its DuckDB
oracle. See statcan_etl_pipeline_spark/registry.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from statcan_etl_pipeline_spark.registry import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# The driver's correctness harness checks queries() in dict order (it
# verified exactly the first 50 in round 1), so order the registry to put
# not-yet-hash-verified and newly added queries first; queries already
# hash-verified in a prior round's CORRECTNESS_r*.json come after.
_CHECK_FIRST = [
    # --- Positions 0-11: the one pair emitter
    # (operators/dedup.group_pairs). The dedup module's char-shingle
    # document and capped-LSH-pair helpers, the co-purchase edge and
    # hub-capped adjacency helpers and the label-propagation pair build
    # moved these hashes; dedup_ngram_jaccard (jaccard_pairs) is the
    # operator's direct consumer, and ann_planted_recall_contract's
    # helper docstring names the emitter. Plans unchanged except
    # copurchase_part_similarity, which loses one renaming Project. ---
    "dedup_ngram_jaccard",
    "dedup_lsh_bucket_census",
    "dedup_connected_groups",
    "dedup_cluster_size_census",
    "dedup_token_savings_by_source",
    "dedup_simhash",
    "dedup_incremental_delta",
    "copurchase_band_census",
    "copurchase_minhash_calibration",
    "copurchase_degree_distribution",
    "part_label_propagation_communities",
    "ann_planted_recall_contract",
    # --- Positions 12-13: the hand-rolled latest-revision windows now
    # call operators.incremental.latest_revision (same executed plan
    # node sequence). ---
    "statcan_latest_revision",
    "scd2_user_daily_value",
    # --- Positions 14-22: changed since the snapshot before this
    # change — the r15 dedup-below-verify rewrites
    # (_embedding_lsh_pairs, copurchase_part_similarity), the k-core
    # broadcast guard, part_copurchase_triangles, the LSH pair
    # consumers dedup_minhash_lsh and minhash_jaccard_calibration, and
    # the two queries that gained a same-module helper in the module
    # regroup. ---
    "dedup_embedding_lsh",
    "dedup_embedding_groups",
    "part_kcore_decomposition",
    "part_copurchase_triangles",
    "copurchase_part_similarity",
    "dedup_minhash_lsh",
    "minhash_jaccard_calibration",
    "kruskal_wallis_order_value",
    "spearman_price_acctbal",
    # --- Positions 23-28: the six r8-stale deferrals. ---
    "stratified_sample_exact",
    "survey_ht_total_audit",
    "text_stopword_profile",
    "user_weekly_survival",
    "approx_distinct_parts_by_flag",
    "approx_quantiles_order_value",
    # --- Positions 29-49: the r9 block, next-stalest first (21 of
    # 44; the rest lead the tail below). ---
    "asof_join_cogrouped",
    "bom_explosion_recursive",
    "business_day_ship_latency",
    "collated_segment_rollup",
    "corpus_cross_source_overlap",
    "customer_value_migration",
    "asof_join_purchase_to_view",
    "atkinson_inequality_by_nation",
    "boilerplate_ngram_ratio",
    "corpus_temperature_sampling",
    "customer_repurchase_cycle",
    "doc_bm25_search",
    "doc_dsir_importance_weights",
    "doc_perplexity_buckets",
    "doc_rrf_quality_fusion",
    "doc_shingle_containment",
    "event_type_trigrams",
    "events_bounce_rate_daily",
    "events_cuped_variance_reduction",
    "hll_mergeable_rollup",
    "mwu_order_value_segments",
    # --- everything below position 49 is driver-green from r9-r14;
    # next-stalest first so future rotations read top-down: the
    # remaining r9 names, then the members verified in r14. ---
    "nation_trade_balance",
    "orders_chain_ladder_completion",
    "orders_kaplan_meier_ship_latency",
    "pipeline_topk_per_segment",
    "price_qty_regression_by_type",
    "q18_large_orders",
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "sessionize_events",
    "statcan_allocation_largest_remainder",
    "statcan_gvf_cv_model",
    "statcan_random_rounding_base5",
    "survey_jackknife_variance",
    "survey_neyman_allocation",
    "survey_winsorized_total",
    "text_fingerprint",
    "text_quality_score",
    "text_rake_keywords",
    "text_stats",
    "tukey_hsd_pairwise",
    "window_top3_parts_per_supplier",
    "graph_pagerank",
    "agg_rollup_sales",
    "tfidf_top_terms",
    "doc_novelty_by_order",
    "doc_script_mix",
    "doc_token_arrow_stats",
    "embedding_interclass_similarity",
    "er_supplier_name_pairs",
    "events_autocorr_lags",
    "events_cusum_drift",
    "events_error_alert_transitions",
    "events_error_pchart",
    "events_ewma_daily",
    "events_hour_of_week_profile",
    "events_multitouch_attribution",
    "events_ohlc_hourly",
    "events_value_quartile_bands",
    "events_zseason_weekday_lift",
    "join_key_skew_report",
    "lineitem_quantity_mode_profile",
    "lineitem_tax_audit",
    "multimodal_frame_catalog",
    "ngram_pmi_collocations",
    "orders_backlog_aging",
    "orders_calendar_spine_recursive",
    "orders_column_profile",
    "orders_latency_qq_by_priority",
    "orders_priority_mix_shift",
    "part_brand_price_ladder",
    "price_index_fisher",
    "revenue_contribution_growth",
    "session_top_paths",
    "statcan_calendarization",
    "statcan_cell_suppression",
    "statcan_cv_quality_grades",
    "statcan_revision_analysis",
]



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out = {k: QUERIES[k] for k in _CHECK_FIRST if k in QUERIES}
    out.update({k: v for k, v in QUERIES.items() if k not in out})
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, same column names."""
    return dict(ORACLES)
