"""Round-8 regression locks (VERDICT r7 / ADVICE items): pointer-flip
rollback safety, live-pointer re-attach, vacuum's concurrent-rebuild
guard + time-based retention."""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time

import pytest

from dbt_fal_spark.api import FalSpark
from dbt_fal_spark.materialize import (
    RETAIN_CONF,
    _live_pointer_path,
    _read_live_pointer,
    _table_location,
    replace_relation_atomic,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _proj(tmp_path, name, models):
    proj = tmp_path / name
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(f"name: {name}\n")
    for mname, sql in models.items():
        (proj / "models" / f"{mname}.sql").write_text(sql)
    return proj


def _version_dirs(live):
    db_dir = os.path.dirname(live)
    name = os.path.basename(live).split("__v")[0]
    return [
        d
        for d in glob.glob(os.path.join(db_dir, f"{name}__v*"))
        + [os.path.join(db_dir, name)]
        if os.path.isdir(d)
    ]


# --- ADVICE medium: failure AFTER the SET LOCATION commit ------------------


def test_flip_failure_after_set_location_rolls_back(spark, tmp_path, monkeypatch):
    """A failure after the SET LOCATION commit (here, in the live
    pointer write that follows it) must NOT leave the catalog pointing
    at a deleted directory: the flip rolls the location back to the old
    one and only then removes the new dir, so the table keeps reading
    the previous version."""
    import dbt_fal_spark.materialize as mat

    spark.sql("DROP DATABASE IF EXISTS rbproj CASCADE")  # hermetic warehouse
    proj = _proj(tmp_path, "rbproj", {"t": "SELECT id AS k FROM range(70)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")
    old_loc = _table_location(spark, ident)
    before = set(_version_dirs(old_loc))

    tripped = []

    def fail_once(base, loc):
        # the pointer write runs right after SET LOCATION; the location
        # must already name the new version when it fails
        tripped.append(_table_location(spark, ident))
        raise RuntimeError("injected failure at: live pointer write")

    monkeypatch.setattr(mat, "_write_live_pointer", fail_once)
    df2 = spark.range(70).selectExpr("id AS k")
    with pytest.raises(RuntimeError, match="injected failure"):
        replace_relation_atomic(spark, df2, ident)
    monkeypatch.undo()
    assert len(tripped) == 1 and tripped[0] != old_loc, tripped
    # catalog must reference a LIVE directory: every read still works
    assert spark.table(ident).count() == 70
    loc = _table_location(spark, ident)
    assert os.path.isdir(loc), f"catalog points at missing dir {loc}"
    assert loc == old_loc, "failed flip did not roll back to the old location"
    # the aborted new version dir was cleaned up after the rollback
    assert set(_version_dirs(loc)) == before, _version_dirs(loc)
    # and a later, healthy rebuild still lands
    replace_relation_atomic(spark, spark.range(71).selectExpr("id AS k"), ident)
    assert spark.table(ident).count() == 71


# --- live-pointer re-attach (ADVICE low, api.py) ---------------------------


def test_reattach_prefers_live_pointer_over_newer_commit(spark, tmp_path):
    """A rebuild that committed parquet but crashed before SET LOCATION
    leaves a NEWER version dir with real data; restart re-attach must
    follow the live pointer to the last COMMITTED version, not pick the
    never-live dir by mtime."""
    spark.sql("DROP DATABASE IF EXISTS ptrproj CASCADE")
    proj = _proj(tmp_path, "ptrproj", {"t": "SELECT id AS k FROM range(40)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    fal.compact("t", target_partitions=1)  # pointer-flips: live = t__v*
    ident = fal._identifier("t")
    live = _table_location(spark, ident)
    assert "__v" in live
    db_dir = os.path.dirname(live)
    base = os.path.join(db_dir, "t")
    assert _read_live_pointer(base) == os.path.abspath(live)

    saved = str(tmp_path / "saved_live")
    shutil.copytree(live, saved)
    spark.sql(f"DROP TABLE {ident}")  # restart analogue (drops managed dir)
    if not os.path.isdir(live):
        shutil.copytree(saved, live)
    # fabricate the crashed-rebuild dir: committed parquet, NEWER mtime,
    # WRONG content (7 rows) — the mtime heuristic would pick it
    time.sleep(0.05)
    crashed = os.path.join(db_dir, "t__vfeedc0de")
    spark.range(7).selectExpr("id AS k").coalesce(1).write.parquet(crashed)

    try:
        fal2 = FalSpark(proj, spark=spark)  # triggers _reattach_catalog
        assert spark.table(fal2._identifier("t")).count() == 40
        assert _table_location(spark, fal2._identifier("t")) == os.path.abspath(live)
    finally:
        shutil.rmtree(crashed, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {ident}")


def test_reattach_glob_requires_hex_suffix(spark, tmp_path):
    """'t__vNOTAHEX0' (8 chars, not hex) must not be considered a
    version-dir candidate on re-attach."""
    spark.sql("DROP DATABASE IF EXISTS hexproj CASCADE")
    proj = _proj(tmp_path, "hexproj", {"t": "SELECT id AS k FROM range(30)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")
    live = _table_location(spark, ident)
    db_dir = os.path.dirname(live)

    saved = str(tmp_path / "saved_hex")
    shutil.copytree(live, saved)
    spark.sql(f"DROP TABLE {ident}")
    if not os.path.isdir(live):
        shutil.copytree(saved, live)
    ptr = _live_pointer_path(os.path.join(db_dir, "t"))
    if os.path.exists(ptr):  # force the mtime fallback path
        os.remove(ptr)
    time.sleep(0.05)
    decoy = os.path.join(db_dir, "t__vNOTAHEX0")
    spark.range(3).selectExpr("id AS k").coalesce(1).write.parquet(decoy)
    try:
        fal2 = FalSpark(proj, spark=spark)
        assert spark.table(fal2._identifier("t")).count() == 30
    finally:
        shutil.rmtree(decoy, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {ident}")


# --- vacuum: concurrent-rebuild guard + retention (VERDICT item 5) ---------


def test_vacuum_skips_version_dir_newer_than_pointer(spark, tmp_path):
    """A version dir newer than the last committed flip is a rebuild in
    flight — vacuum must leave it alone while still removing the stale
    grace dir."""
    spark.sql("DROP DATABASE IF EXISTS vguardproj CASCADE")
    proj = _proj(tmp_path, "vguardproj", {"t": "SELECT id AS k FROM range(50)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    fal.compact("t", target_partitions=1)
    ident = fal._identifier("t")
    live = _table_location(spark, ident)
    db_dir = os.path.dirname(live)
    assert len(_version_dirs(live)) == 2  # live + grace
    time.sleep(0.05)
    inflight = os.path.join(db_dir, "t__vabcd1234")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "wb") as f:
        f.write(b"half-written")
    try:
        removed = fal.vacuum("t")
        assert removed == 1  # the grace dir only
        assert os.path.isdir(inflight), "vacuum deleted an in-flight rebuild dir"
        assert _version_dirs(live) == sorted([live, inflight]) or set(
            _version_dirs(live)
        ) == {live, inflight}
        assert spark.table(ident).count() == 50
    finally:
        shutil.rmtree(inflight, ignore_errors=True)


def test_vacuum_concurrent_with_rebuilds_threaded(spark, tmp_path):
    """vacuum racing a rebuild loop: every compact must succeed (its
    half-written version dir is protected by the newer-than-pointer
    guard) and the table must stay correct throughout."""
    spark.sql("DROP DATABASE IF EXISTS vthreadproj CASCADE")
    proj = _proj(tmp_path, "vthreadproj", {
        "t": "SELECT id AS k FROM range(4000)",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")
    errors: list[str] = []
    stop = threading.Event()

    def vacuum_loop():
        while not stop.is_set():
            try:
                fal.vacuum("t")
            except Exception as e:  # noqa: BLE001 — the assertion IS "no exception"
                errors.append(f"vacuum: {e!r}")

    v = threading.Thread(target=vacuum_loop, daemon=True)
    v.start()
    try:
        for i in range(6):
            fal.compact("t", target_partitions=1 + (i % 3))
    except Exception as e:  # noqa: BLE001
        errors.append(f"compact: {e!r}")
    finally:
        stop.set()
        v.join(timeout=60)
    assert not errors, errors[:3]
    assert spark.table(ident).count() == 4000


def test_retention_window_protects_recent_versions(spark, tmp_path):
    """With retainSeconds set, neither the swap's tail cleanup nor an
    explicit vacuum removes version dirs modified inside the window —
    the slow-reader cover ADVICE asked for; with it back at 0, vacuum
    prunes to the live dir."""
    spark.sql("DROP DATABASE IF EXISTS retproj CASCADE")
    proj = _proj(tmp_path, "retproj", {"t": "SELECT id AS k FROM range(20)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")
    spark.conf.set(RETAIN_CONF, "3600")
    try:
        for i in range(3):
            fal.compact("t", target_partitions=1 + (i % 2))
        live = _table_location(spark, ident)
        assert len(_version_dirs(live)) >= 3, "retention window was not honored"
        assert fal.vacuum("t") == 0
        spark.conf.set(RETAIN_CONF, "0")
        assert fal.vacuum("t") >= 2
        assert _version_dirs(live) == [live]
        assert spark.table(ident).count() == 20
    finally:
        spark.conf.set(RETAIN_CONF, "0")
