"""Round-14 regression locks (VERDICT r13 item 6 adversarial review):
maintenance verbs racing a concurrent rebuild of the same model.

Findings fixed this round:
- compact() read-then-swap was last-writer-wins: a rebuild committing
  between compact's read and its flip was silently replaced by
  recompacted STALE data (lost update). Now optimistic: compact
  captures a table_swap_token before reading and the swap commits only
  if the token is unchanged (checked under the per-table commit lock
  every rebuild's swap also takes), else ConcurrentRebuildError.
- the post-flip vacuum (and the vacuum() verb) could rmtree a
  concurrent writer's half-written version directory — it matches the
  version pattern and was in nobody's keep set. Writers now register
  in-flight dirs (materialize._INFLIGHT_DIRS) and every vacuum path
  keeps them.
"""

from __future__ import annotations

import os
import threading

import pytest

from dbt_fal_spark.api import FalSpark
from dbt_fal_spark.materialize import (
    ConcurrentRebuildError,
    _table_location,
    inflight_version_dirs,
    replace_relation_atomic,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _proj(tmp_path, name, models):
    proj = tmp_path / name
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(f"name: {name}\n")
    for mname, sql in models.items():
        (proj / "models" / f"{mname}.sql").write_text(sql)
    return proj


def test_compact_aborts_when_rebuild_committed_after_its_read(
    spark, tmp_path, monkeypatch
):
    """A rebuild landing between compact's read and its commit must
    abort the compaction (stale data may not overwrite the rebuild) and
    leave no orphan version directory behind."""
    import glob as _glob

    import dbt_fal_spark.materialize as mat

    proj = _proj(tmp_path, "c14a", {"t": "SELECT id AS k FROM range(50)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")

    # deterministic interleaving: the FIRST table_swap_token call is
    # compact's pre-read capture — commit a real rebuild right after it,
    # so the token compact holds is stale by the time its swap checks it
    real_token_fn = mat.table_swap_token
    new_df = spark.range(90).selectExpr("id AS k")
    state = {"captures": 0}

    def hooked(spark_, ident_):
        tok = real_token_fn(spark_, ident_)
        if state["captures"] == 0:
            state["captures"] += 1
            replace_relation_atomic(spark_, new_df, ident_)
            return tok  # pre-rebuild (now stale) token
        return tok

    monkeypatch.setattr(mat, "table_swap_token", hooked)
    with pytest.raises(ConcurrentRebuildError):
        fal.compact("t", target_partitions=1)
    monkeypatch.undo()

    # the rebuild's data is live (the stale compaction never committed),
    # and the aborted swap's version dir was cleaned up (only live +
    # grace window remain)
    assert spark.table(ident).count() == 90
    loc = _table_location(spark, ident)
    base = loc.split("__v")[0]
    dirs = [
        d
        for d in _glob.glob(base + "__v*") + [base]
        if os.path.isdir(d)
    ]
    assert len(dirs) <= 2, f"aborted compact leaked version dirs: {dirs}"


def test_rebuild_data_always_wins_compact_race(spark, tmp_path):
    """Whatever the interleaving, after a rebuild races a compact the
    table holds the REBUILD's rows — either the compact committed data
    it read from the rebuilt version, or it aborted. It must never
    commit the pre-rebuild rows it read earlier."""
    proj = _proj(tmp_path, "c14b", {"t": "SELECT id AS k FROM range(40)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")

    new_df = spark.range(90).selectExpr("id AS k")
    errors: list[Exception] = []

    def rebuild():
        try:
            replace_relation_atomic(spark, new_df, ident)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    th = threading.Thread(target=rebuild)
    th.start()
    aborted = 0
    try:
        fal.compact("t", target_partitions=1)
    except ConcurrentRebuildError:
        aborted += 1
    th.join()
    assert not errors, errors
    # the rebuild's 90 rows are live regardless of who won the race
    assert spark.table(ident).count() == 90, (
        f"lost update: compact overwrote the rebuild (aborted={aborted})"
    )


def test_vacuum_keeps_inflight_writer_dirs(spark, tmp_path):
    """A half-written version dir registered by a concurrent in-process
    writer must survive both the vacuum() verb and look like a normal
    version dir otherwise (it is deleted once deregistered)."""
    import dbt_fal_spark.materialize as mat

    proj = _proj(tmp_path, "c14c", {"t": "SELECT id AS k FROM range(30)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")
    # two compacts mint versioned dirs + pointer
    fal.compact("t", target_partitions=1)
    fal.compact("t", target_partitions=1)
    loc = _table_location(spark, ident)
    base = loc.split("__v")[0]

    fake = base + "__vdeadbeef"
    os.makedirs(fake, exist_ok=True)
    # age it so no mtime heuristic could be what saves it
    os.utime(fake, (1, 1))
    with mat._INFLIGHT_LOCK:
        mat._INFLIGHT_DIRS.add(fake)
    try:
        assert fake in inflight_version_dirs()
        fal.vacuum("t")
        assert os.path.isdir(fake), "vacuum deleted an in-flight writer's dir"
        # a further compact's trailing vacuum must spare it too
        fal.compact("t", target_partitions=1)
        assert os.path.isdir(fake), "post-flip vacuum deleted an in-flight dir"
    finally:
        with mat._INFLIGHT_LOCK:
            mat._INFLIGHT_DIRS.discard(fake)
    # deregistered → it is an ordinary dead version, reaped by vacuum
    fal.vacuum("t")
    assert not os.path.isdir(fake)
    assert spark.table(ident).count() == 30
