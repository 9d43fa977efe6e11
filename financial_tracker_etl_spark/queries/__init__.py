"""Query registry: every implemented operator exposed as a named query.

Each :class:`QuerySpec` pairs a Spark callable ``(spark, sf_dir) ->
DataFrame`` with the equivalent DuckDB oracle SQL (None for genuinely
non-SQL-expressible ops, which the driver checks rows-only). The driver
contract (``__spark_entry__.py``) is a thin view over this registry.

Column-name parity between the two sides is load-bearing: the driver
sorts columns by name before hashing values.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    bench: bool = False  # include in bench.py headline set
    # bench.py tail group: newest heavy queries, timed in the same run
    # but summed separately so the 14-query headline total stays
    # comparable across rounds (round-3 judge task 3)
    bench_tail: bool = False


# The driver's CORRECTNESS gate checks exactly the first 50 registry
# entries, so registry order decides which queries it sees. The 150
# queries partition into three 50-query blocks, and the gate rotates
# through them: each round the block whose driver evidence is oldest
# becomes the prefix, the block checked last round becomes the suffix,
# and the third block sits in between. COVERAGE.md records the
# per-query last-green round.
#
# Current assignment. Prefix: the round-4/7/8/11/14 block (exactly the
# CORRECTNESS_r14.json key set). Suffix: the round-6/10/13/17 block,
# the previous prefix. The round-5/9/12/15 block sits in the middle
# and is the next prefix.
#
# The registry is frozen at 150 queries; the round-4 twin retirements
# and the queries that cover them are recorded in COVERAGE.md.
_CHECK_FIRST = [
    "binned_range_join",
    "bloom_pruned_anti_join",
    "bm25_doc_ranking",
    "bpe_pair_counts",
    "brand_price_regression",
    "brand_supplier_concentration",
    "brand_triangle_counts",
    "bucketed_colocated_join",
    "cdc_apply_roundtrip",
    "cms_token_frequencies",
    "cogroup_state_reconciliation",
    "copurchase_brand_pairs",
    "curation_pipeline_v2",
    "curriculum_difficulty_buckets",
    "dq_expectations_report",
    "embedding_ann_ivfpq",
    "event_type_transitions",
    "hierarchical_time_rollup",
    "histogram_quantile_sketch",
    "hll_shard_merge",
    "ivm_maintained_agg",
    "key_skew_report",
    "nb_quality_filter",
    "ngram_novelty_scores",
    "order_fulfillment_latency",
    "per_stratum_sample",
    "phrase_search_index",
    "pit_customer_features",
    "pps_weighted_sample",
    "purchase_graph_bfs_hops",
    "purchase_graph_pagerank",
    "referential_integrity_audit",
    "salted_skew_join_revenue",
    "scd2_part_prices",
    "skew_safe_count_distinct",
    "source_length_gini",
    "state_time_travel",
    "stream_cdc_apply",
    "stream_docs_ingest_dedup",
    "stream_sliding_window_counts",
    "table_diff_buckets",
    "target_encoding_loo",
    "top_supplier_revenue",
    "udaf_event_value_median",
    "unpivot_market_measures",
    "user_activity_streaks",
    "value_drift_report",
    "weekly_growth_accounting",
    "winsorized_quantity_stats",
    "zorder_layout_stats",
]

_CHECK_LAST = [
    "a1_historical_batches",
    "a4_latest_monthly_price",
    "asof_quote_join",
    "brand_revenue_share",
    "cdc_market_changes",
    "cube_monthly_summary",
    "dedup_clusters",
    "doc_fingerprints",
    "duplicate_span_stats",
    "embedding_ann_pq",
    "embedding_topk_cosine",
    "events_funnel_stages",
    "events_hourly_anomalies",
    "events_hourly_rollup",
    "events_props_rollup",
    "events_sessionization",
    "events_weekly_retention",
    "historical_fetch_windows",
    "historical_repair_summary",
    "hll_distinct_users",
    "j1_symbols_needing_update",
    "j2_existing_state_semi_join",
    "j4_coverage_counts",
    "j5_coverage_index",
    "longest_month_gap",
    "multimodal_decode_features",
    "ngram_jaccard_near_dups",
    "order_priority_count",
    "p1_invalid_quote_rows",
    "p2_index_quote_projection",
    "p4_typed_quotes",
    "p5_payload_envelopes",
    "pivot_monthly_by_type",
    "pricing_summary",
    "quantiles_by_returnflag",
    "region_nation_rollup",
    "s6_asset_dispatch",
    "stream_dedup_exact",
    "stream_events_hourly_rollup",
    "stream_interval_join",
    "stream_session_windows",
    "stream_static_enrichment",
    "text_language_id",
    "text_quality_scores",
    "text_token_stats",
    "top_revenue_customers",
    "training_shard_plan",
    "udtf_month_spine",
    "upsert_market_data",
    "x1_exact_dedup",
]


def registry() -> dict[str, QuerySpec]:
    from . import analytics, core, ext, stream

    merged: dict[str, QuerySpec] = {}
    for mod in (core, analytics, ext, stream):
        dup = set(merged) & set(mod.QUERIES)
        if dup:
            raise ValueError(f"duplicate query names: {dup}")
        merged.update(mod.QUERIES)
    out: dict[str, QuerySpec] = {}
    for name in _CHECK_FIRST:
        out[name] = merged[name]
    for name in merged:
        if name not in out and name not in _CHECK_LAST:
            out[name] = merged[name]
    for name in _CHECK_LAST:
        out[name] = merged[name]
    return out
