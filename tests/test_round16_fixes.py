"""Round-16 regression locks (VERDICT r15 items 4/6 + ADVICE r15).

Findings fixed this round:
- ADVICE r15 (low): _vacuum_versions re-reads the live pointer PER
  DIRECTORY (after the in-flight re-check — order matters, writers
  deregister only after the pointer rewrite) before each rmtree, so a
  concurrent rebuild that commits + deregisters between the caller's
  keep snapshot and the delete loop can no longer have its now-live
  version dir deleted with retainSeconds=0.
- VERDICT r15 item 6: the r15 tfidf fix handed the df-join strategy to
  AQE, but at every test SF AQE picks broadcast, so the shuffle-join
  branch was untested — locked here by forcing the thresholds to -1 and
  asserting a shuffle join in the plan AND unchanged values vs the
  DuckDB oracle. Same lock for t_lm_surprise_fraction (the r14
  precedent).
- r16 adversarial review on the r15-new surfaces:
  * crashed-writer ``.__live_tmp_*`` litter (SIGKILL between mkstemp
    and rename) is now reaped opportunistically by later pointer
    writes, with a 1-hour age floor protecting concurrent writers;
  * window_guard now FAILS on _CHECK_FIRST names absent from the
    registry (a rename/delete leaves the staged window pointing at
    nothing while an unstaged entry silently fills the 50th slot) and
    reports stale snapshot keys;
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# ADVICE r15 low: per-directory live-pointer re-read in _vacuum_versions
# ---------------------------------------------------------------------------


def test_vacuum_rereads_live_pointer_per_directory(tmp_path):
    """A version dir that became live AFTER the caller's keep snapshot
    (concurrent rebuild committed + deregistered) must survive a vacuum
    whose keep set predates it — only the per-dir pointer re-read can
    save it with retainSeconds=0."""
    import dbt_fal_spark.materialize as mat

    base = str(tmp_path / "tbl")
    newlive = str(tmp_path / "tbl__vffffffff")
    dead = str(tmp_path / "tbl__vdeadbeef")
    os.makedirs(newlive)
    os.makedirs(dead)
    # the concurrent rebuild committed: pointer names newlive, and the
    # rebuild already deregistered its in-flight entry
    mat._write_live_pointer(base, newlive)
    # keep is EMPTY — the stale snapshot the racing vacuum caller took
    removed = mat._vacuum_versions(base, keep=set())
    assert os.path.isdir(newlive), "now-live version dir was rmtree'd"
    assert not os.path.isdir(dead)
    assert removed == 1


# ---------------------------------------------------------------------------
# r16 adversarial: crashed-writer .__live_tmp_* litter reaping
# ---------------------------------------------------------------------------


def test_stale_live_tmp_litter_reaped_on_next_write(tmp_path):
    import dbt_fal_spark.materialize as mat

    base = str(tmp_path / "t")
    loc = str(tmp_path / "t__v01234567")
    stale = tmp_path / ".__live_tmp_crashed"
    fresh = tmp_path / ".__live_tmp_concurrent"
    stale.write_text("half-written")
    fresh.write_text("mid-write")
    old = time.time() - 7200
    os.utime(stale, (old, old))  # crashed 2h ago
    # fresh keeps its just-now mtime: a CONCURRENT writer's file
    mat._write_live_pointer(base, loc)
    assert not stale.exists(), "stale crashed-writer tmp file not reaped"
    assert fresh.exists(), "reaper killed a concurrent writer's tmp file"
    assert mat._read_live_pointer(base) == os.path.abspath(loc)


# ---------------------------------------------------------------------------
# VERDICT r15 item 6: the AQE-demoted shuffle-join branch, value-checked
# ---------------------------------------------------------------------------


def _oracle_df(oracle, sql):
    return oracle.execute(sql).df()


def _assert_matches_oracle(df, want, name):
    got = df.toPandas()
    cols = sorted(got.columns)
    assert cols == sorted(want.columns), name
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert len(g) == len(w), name
    for col in cols:
        for a, b in zip(g[col], w[col]):
            if isinstance(a, float):
                assert abs(a - b) < 1e-9, (name, col, a, b)
            else:
                assert a == b, (name, col, a, b)


def _with_forced_shuffle_join(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    return prev, prev_aqe


def _restore_join_conf(spark, prev, prev_aqe):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    if prev_aqe is None:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    else:
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)


def test_tfidf_shuffle_join_branch_values_unchanged(spark, oracle):
    """With broadcast forced off, the df join must plan as a shuffle
    join (the 100 TB-vocabulary path the r15 fix enabled) and produce
    hash-identical values — AQE picking broadcast at every test SF left
    this branch unexecuted until now."""
    from dbt_fal_spark.operators.text import t_tfidf_top_terms
    from dbt_fal_spark.registry import all_queries

    prev, prev_aqe = _with_forced_shuffle_join(spark)
    try:
        df = t_tfidf_top_terms(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), (
            "df join did not demote to a shuffle join under threshold -1"
        )
        assert "BroadcastHashJoin" not in plan
        want = _oracle_df(oracle, all_queries()["t_tfidf_top_terms"].oracle)
        _assert_matches_oracle(df, want, "t_tfidf_top_terms")
    finally:
        _restore_join_conf(spark, prev, prev_aqe)
        spark.catalog.clearCache()


def test_lm_surprise_shuffle_join_branch_values_unchanged(spark, oracle):
    """Same lock for t_lm_surprise_fraction (the r14 precedent that set
    the demote-to-AQE pattern)."""
    from dbt_fal_spark.operators.text import t_lm_surprise_fraction
    from dbt_fal_spark.registry import all_queries

    prev, prev_aqe = _with_forced_shuffle_join(spark)
    try:
        df = t_lm_surprise_fraction(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        assert "BroadcastHashJoin" not in plan
        want = _oracle_df(oracle, all_queries()["t_lm_surprise_fraction"].oracle)
        _assert_matches_oracle(df, want, "t_lm_surprise_fraction")
    finally:
        _restore_join_conf(spark, prev, prev_aqe)
        spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# r16 adversarial: window_guard on deleted/renamed registry entries
# ---------------------------------------------------------------------------


def test_window_guard_detects_dead_window_names():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import window_guard as wg

    # at HEAD the staged window must be fully alive and the snapshot
    # free of stale keys (plan_hashes.json is rewritten at staging time)
    assert wg.dead_window_names() == []
    assert wg.stale_snapshot_names() == []


def test_window_guard_cli_fails_on_dead_name(tmp_path, monkeypatch):
    """Simulate a rename that left the old name in _CHECK_FIRST: the
    guard must exit nonzero naming it."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import window_guard as wg

    monkeypatch.setattr(
        wg, "dead_window_names", lambda: ["d_entry_that_was_renamed"]
    )
    monkeypatch.setattr(wg, "changed_entries", lambda: [])
    monkeypatch.setattr(wg, "unstaged_changes", lambda: [])
    monkeypatch.setattr(wg, "stale_snapshot_names", lambda: [])
    monkeypatch.setattr(sys, "argv", ["window_guard.py"])
    assert wg.main() == 1
