"""Pin the bench contract (bench.py).

The query set has ONE definition, in bench.py, read by these tests:
every oracled registry entry earns wall-time evidence either per-round
(composite set) or via the rotating slice, and the rotation provably
cycles through its whole pool. The timed action runs the work
``toPandas()`` runs, and one in-process run of ``bench.main`` locks the
keys and order of its last output lines.
"""

from __future__ import annotations

import json
import os
import sys

import pytest
from py4j.protocol import Py4JJavaError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from dbt_fal_spark.registry import all_queries  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


def test_headline_entries_exist_and_are_oracled():
    specs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in specs]
    assert not missing, f"HEADLINE names absent from the registry: {missing}"
    # composite ratios pair engine vs oracle — an oracle-less HEADLINE
    # entry would silently drop from the paired totals
    unoracled = [n for n in bench.HEADLINE if specs[n].oracle is None]
    assert not unoracled, f"HEADLINE entries without oracles: {unoracled}"


def test_every_oracled_entry_earns_timing_evidence():
    """composite set ∪ rotation pool ∪ documented skips == all oracled
    entries — nothing can silently fall outside wall-time coverage."""
    specs = all_queries()
    composite = bench.composite_names(specs)
    pool = bench.rotate_pool(specs)
    covered = set(composite) | set(pool) | bench.SKIP
    oracled = {n for n in specs if specs[n].oracle is not None}
    uncovered = oracled - covered
    assert not uncovered, f"oracled entries with no timing evidence path: {uncovered}"
    # and the two sets are disjoint: an entry timed in the composite must
    # not also consume a rotation slot
    assert not (set(composite) & set(pool))


def test_rotation_cycles_through_entire_pool():
    """Consecutive rounds' slices must cover the whole pool within
    ceil(len(pool)/ROTATE_N) rounds — the deterministic advance can't
    skip entries."""
    specs = all_queries()
    pool = bench.rotate_pool(specs)
    if not pool:
        return
    n = bench.ROTATE_N
    rounds_needed = -(-len(pool) // n) + 1  # ceil + 1 for wraparound
    seen: set[str] = set()
    for rnd in range(13, 13 + rounds_needed):
        start = (rnd * n) % len(pool)
        doubled = pool + pool
        seen.update(doubled[start : start + min(n, len(pool))])
    assert seen == set(pool), f"rotation never reaches: {set(pool) - seen}"


def test_skips_are_still_oracle_checked():
    """The bench skip set opts entries out of TIMING pairing only —
    they must still carry oracles so the correctness gate covers them."""
    specs = all_queries()
    for name in bench.SKIP:
        assert name in specs and specs[name].oracle is not None


# ---------------------------------------------------------------------------
# the timed action: the full result, not a pruned count
# ---------------------------------------------------------------------------


def _counters(spark, group, action, df):
    """Jobs, stages and tasks that ``action(df)`` ran under its own job
    group, as the status store saw them (skipped stages count as nothing)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action(df)
    finally:
        sc.setJobGroup("idle", "idle")
        spark.catalog.clearCache()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages, tasks = 0, 0
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted: skipped
                continue
            if str(stage.status()) != "SKIPPED":
                stages += 1
                tasks += stage.numTasks()
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


@pytest.mark.parametrize("name", ["t_repetition_stats", "p_sentiment_batch_inference"])
def test_full_result_runs_what_to_pandas_runs(spark, name):
    """Both entries lose operators under ``.count()``: projections and
    the Arrow inference stage. The timed action must keep them."""
    fn = all_queries()[name].fn
    collected = _counters(spark, f"{name}:toPandas", lambda df: df.toPandas(), fn(spark, SF_DIR))
    timed = _counters(spark, f"{name}:full_result", bench._full_result, fn(spark, SF_DIR))
    assert timed["stages"] > 0
    assert timed == collected


# ---------------------------------------------------------------------------
# bench.main end to end: the last two lines and the final line's keys
# ---------------------------------------------------------------------------

ALWAYS = {
    "metric", "value", "unit", "sf", "n_queries", "n_failures", "n_passes",
    "engine_pass_totals", "oracle_pass_totals", "slowest", "queries",
    "queries_truncated_to_tail_budget",
}
PAIRED = {"n_paired", "oracle_total_sec", "raw_ratio", "floor_adjusted_ratio"}
FLOORS = {"engine_floor_sec", "oracle_floor_sec"}


def test_bench_main_final_line_carries_the_kept_keys(spark, monkeypatch, capsys):
    two = ["q01_pricing_summary", "q06_filtered_revenue"]
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(bench, "composite_names", lambda specs: list(two))
    for knob, value in {
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        "SPARK_GRAFT_BENCH_PASSES": "1",
        "SPARK_GRAFT_BENCH_RUNS_PER_PASS": "1",
        "SPARK_GRAFT_BENCH_ROTATE": "0",
    }.items():
        monkeypatch.setenv(knob, value)
    bench.main()
    *_, before_last, last = capsys.readouterr().out.splitlines()
    final, per_query = json.loads(last), json.loads(before_last)
    floors = FLOORS if os.path.abspath(SF_DIR) != os.path.abspath(bench.FLOOR_DIR) else set()
    assert set(final) == ALWAYS | PAIRED | floors
    assert not [k for k in final if k.startswith("canary")]
    assert "degraded_window" not in final and "engine_regression" not in final
    assert final["n_queries"] == 2 and final["n_failures"] == 0 and final["n_paired"] == 2
    assert set(final["queries"]) == set(two)
    assert per_query["metric"] == "per_query_timings"
    assert set(per_query["per_query"]) == set(two)
