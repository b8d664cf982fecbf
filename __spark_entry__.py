"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 (and the
LLM-pipeline extensions), as (spark, sf_dir) -> DataFrame callables.
``oracle_sql()`` — matching DuckDB SQL per query (omitted only for
genuinely non-SQL-expressible ops, which get a rows-only check).

Implementation lives in the ``dbt_fal_spark`` package (see SURVEY.md and
README.md); this module is just the registry adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_fal_spark.registry import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    from dbt_fal_spark.operators.relational import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


# The correctness harness walks queries() in dict order and records
# exactly the first 50 entries per round. Standing rule for staging that
# window: lead with every entry whose plan, semantics or source changed
# since its last driver row (tools/window_guard.py enforces this against
# the tools/plan_hashes.json snapshot), then the stalest remaining rows.
# Names absent from the registry are ignored; registry entries not
# listed keep their registration order after these. Window history
# lives in git.
_CHECK_FIRST = (
    # Changed since the snapshot — verify first (43). The operators the
    # readers width probes reach (every spread caller, t_tfidf_top_terms),
    # the four that lost their scale-profile branches (latency plans
    # unchanged) and the flow entries:
    "e_retention_cohorts", "e_dau_hll_sketch", "d_ngram_jaccard_pairs",
    "d_lsh_levenshtein_refine", "t_tfidf_top_terms",
    "d_substring_dedup_clean", "d_substring_dedup_keep_first",
    "d_substring_dup_fraction", "d_substring_spans", "d_winnow_neardup",
    "t_cms_heavy_hitters", "t_lm_surprise_fraction",
    "t_rolling_fingerprint", "t_top_bigrams", "d_bloom_prefilter",
    "d_containment_pairs", "d_decontaminate", "d_dup_ngram_fraction",
    "d_embedding_neardup_lsh", "d_minhash_lsh_pairs",
    "d_neardup_components", "d_neardup_triangles",
    "p_sentiment_batch_inference", "p_fal_model_pandas_forecast",
    "p_flow_run_customer_stats", "s_knn_bruteforce", "s_knn_int8",
    "s_knn_ivf", "s_knn_lsh_bucketed", "s_knn_lsh_multitable",
    # the streaming entries: the shared drain now drops its temp view on
    # return and the upsert target moved to the application's temp dir;
    # the three interval joins share one pair builder (analyzed plans
    # unchanged),
    "st_upsert_stream", "st_hourly_stream", "st_session_stream",
    "st_user_totals_stateful", "st_enriched_stream",
    "st_interval_join_stream", "st_dedup_stream",
    "st_dedup_within_watermark_stream", "st_left_outer_interval_stream",
    "st_full_outer_interval_stream",
    # the rank entries: the distributed rank keeps one pinning strategy
    # (plans unchanged),
    "q_customer_value_deciles", "q_customer_value_deciles_ranged",
    "q_gini_customer_value",
    # then the stale refresh: seven of the r13-evidence cohort. The other
    # three (q_salted_join_supplier_volume, q_status_set_per_priority,
    # q_topk_orders_per_segment) lead the next stale refresh, then the 35
    # r14-evidence rows, alphabetically from d_exact_dedup.
    "q_pii_masked_customers", "q_priority_distinct_customers",
    "q_quantity_quartiles", "q_range_join_price_band",
    "q_region_rollup_revenue", "q_repeat_customers_intersect",
    "q_revenue_trend_by_priority",
)


def _ordered():
    specs = all_queries()
    order = [n for n in _CHECK_FIRST if n in specs]
    order += [n for n in specs if n not in set(order)]
    return {n: specs[n] for n in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}
