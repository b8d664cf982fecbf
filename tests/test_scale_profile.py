"""Scale-profile correctness: the session's big-data configuration (AQE
on, skew-join handling, wide shuffles) must produce byte-identical
results to the latency profile every test already runs under.

AQE re-plans at stage boundaries (runtime coalescing, dynamic broadcast,
skew splitting) — a different physical plan space entirely — so this is
a real second execution path, not a config no-op. These are runtime
confs, so the shared session can flip them per-test.

The profile marker itself selects no plan shape: an operator builds the
same plan, and launches no job while building it, whichever profile the
session declares.
"""

from __future__ import annotations

import re

import pytest

from dbt_fal_spark.registry import all_queries
from dbt_fal_spark.session import _SCALE_PROFILE
from tests.conftest import SF_DIR

# Queries chosen to exercise what AQE actually changes: multi-join
# broadcast decisions (q05), shuffle-heavy self-joins (jaccard), window
# partitioning (topk), and two-level aggregation (q13).
_QUERIES = [
    "q05_region_nation_revenue",
    "q13_order_count_distribution",
    "q_topk_orders_per_segment",
    "d_ngram_jaccard_pairs",
    # round-4 additions with shuffle-bearing plans: digest df join,
    # bucket-level pair expansion, token-frequency rewrite, SQ8 stats
    # reduce — each re-planned by AQE at stage boundaries
    "d_dup_ngram_fraction",
    "d_containment_pairs",
    "t_unk_replace",
    "s_knn_int8",
    "s_knn_lsh_multitable",
]


@pytest.mark.parametrize("name", _QUERIES)
def test_scale_profile_matches_latency_profile(spark, name):
    fn = all_queries()[name].fn
    baseline = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    saved = {k: spark.conf.get(k, None) for k in _SCALE_PROFILE}
    try:
        for k, v in _SCALE_PROFILE.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
        scale = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
        spark.catalog.clearCache()
    assert scale == baseline


# Entries whose plans once forked on the profile marker.
_ONE_PLAN = [
    "d_ngram_jaccard_pairs",
    "d_lsh_levenshtein_refine",
    "e_dau_hll_sketch",
    "e_retention_cohorts",
]


def _executed_plan(df) -> str:
    """Executed plan text without expression ids and exchange plan ids
    (both count up across builds in one session)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+|plan_id=\d+", "", plan)


@pytest.mark.parametrize("name", _ONE_PLAN)
def test_scale_marker_builds_the_latency_plan_without_jobs(spark, name):
    fn = all_queries()[name].fn
    key, sc = "spark.dbt_fal.profile", spark.sparkContext
    group = f"plan-build-{name}"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "latency")
        latency = _executed_plan(fn(spark, SF_DIR))  # also warms the scan cache
        spark.catalog.clearCache()
        spark.conf.set(key, "scale")
        sc.setJobGroup(group, group)
        try:
            df = fn(spark, SF_DIR)
        finally:
            sc.setJobGroup("idle", "idle")
        scale = _executed_plan(df)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
        spark.catalog.clearCache()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert scale == latency
