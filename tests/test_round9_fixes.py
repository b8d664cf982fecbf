"""Round-9 regression locks (r8 ADVICE items): vacuum's flip-TOCTOU
keep-set, selectors.yml nested composition, and the
live-pointer tmp-file leak."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from dbt_fal_spark.api import FalSpark
from dbt_fal_spark.materialize import (
    _live_pointer_path,
    _table_location,
    _write_live_pointer,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _proj(tmp_path, name, models):
    proj = tmp_path / name
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(f"name: {name}\n")
    for mname, sql in models.items():
        (proj / "models" / f"{mname}.sql").write_text(sql)
    return proj


# --- ADVICE medium: vacuum TOCTOU — flip between catalog and mtime reads ---


def test_vacuum_keeps_post_flip_live_dir_from_pointer_content(spark, tmp_path):
    """Race shape: vacuum reads the catalog location (old live), a
    concurrent flip commits (new live dir, fresh pointer), THEN vacuum
    reads the pointer mtime. The new live dir's mtime predates the
    fresh pointer's, so the mtime guard alone won't protect it — the
    re-read of the pointer CONTENT must. Simulated deterministically:
    catalog still points at the old dir (stale read), pointer content
    names a new dir whose mtime we backdate below the pointer's."""
    spark.sql("DROP DATABASE IF EXISTS toctouproj CASCADE")
    proj = _proj(tmp_path, "toctouproj", {"t": "SELECT id AS k FROM range(25)"})
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    fal.compact("t", target_partitions=1)  # live = t__v*, grace = t
    ident = fal._identifier("t")
    live = _table_location(spark, ident)
    db_dir = os.path.dirname(live)
    base = os.path.join(db_dir, "t")

    # the "concurrent flip": new version dir with data, pointer -> it
    newlive = os.path.join(db_dir, "t__vfeedbeef")
    spark.range(25).selectExpr("id AS k").coalesce(1).write.parquet(newlive)
    _write_live_pointer(base, newlive)
    ptr_mtime = os.path.getmtime(_live_pointer_path(base))
    backdated = ptr_mtime - 10
    os.utime(newlive, (backdated, backdated))  # dir mtime < pointer mtime
    try:
        fal.vacuum("t")
        assert os.path.isdir(newlive), (
            "vacuum deleted the post-flip live dir the pointer names"
        )
        # catalog-side live dir is always kept too
        assert os.path.isdir(live)
    finally:
        shutil.rmtree(newlive, ignore_errors=True)
        _write_live_pointer(base, live)  # restore for later tests


# --- ADVICE low: _write_live_pointer must not leak mkstemp tmp files -------


def test_write_live_pointer_failure_leaves_no_tmp_litter(tmp_path):
    """If the rename fails after mkstemp succeeded (here: the pointer
    path is an existing DIRECTORY, so os.replace raises), the tmp file
    must be unlinked — repeated failures must not accumulate
    .__live_tmp_* litter in the database dir."""
    db = tmp_path / "db"
    db.mkdir()
    base = str(db / "t")
    os.makedirs(_live_pointer_path(base))  # forces os.replace to fail
    for _ in range(3):
        _write_live_pointer(base, "/anywhere")  # swallows the OSError
    litter = [f for f in os.listdir(db) if f.startswith(".__live_tmp_")]
    assert litter == [], litter


# --- ADVICE low: selectors.yml nested composition ---------------------------


def _abc_graph():
    """Models a, b, c and ab (tagged a and b) — enough to tell (a∪b)∩c
    from a∩b∩c."""
    from dbt_fal_spark.plans.node_graph import NodeGraph
    from dbt_fal_spark.project.manifest import DbtModel, Manifest

    m = Manifest(project_name="t", project_dir=Path("."))
    for name, tags in {"a": ["c"], "b": [], "c": [], "ab": ["a", "b"]}.items():
        m.models[f"model.t.{name}"] = DbtModel(
            name=name, unique_id=f"model.t.{name}", raw_sql="select 1", tags=tags
        )
    return NodeGraph.from_manifest(m)


def _select(definition):
    from dbt_fal_spark.plans.selectors import select_nodes

    return {n.split(".")[-1] for n in select_nodes(_abc_graph(), definition)}


def test_selector_terms_distributes_union_inside_intersection():
    # (a ∪ b) ∩ tag:c — NOT a ∩ b ∩ tag:c, which is empty
    assert _select({"intersection": [{"union": ["a", "b"]}, "tag:c"]}) == {"a"}


def test_selector_terms_nested_intersection_inside_union():
    # (tag:a ∩ tag:b) ∪ c
    assert _select({"union": [{"intersection": ["tag:a", "tag:b"]}, "c"]}) == {"ab", "c"}


def test_selector_terms_intersection_of_intersections_flattens():
    # intersection composes associatively
    nested = {"intersection": [{"intersection": ["tag:a", "tag:b"]}, "ab"]}
    assert _select(nested) == {"ab"}
    assert _select({"intersection": [{"intersection": ["tag:a", "tag:b"]}, "a"]}) == set()
