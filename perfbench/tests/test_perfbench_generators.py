"""Seeded inputs: determinism, DAG shape, and the DuckDB oracle."""

import filecmp
import os

import duckdb
import pytest

import datagen
import projgen
from dbt_fal_spark.plans.node_graph import NodeGraph
from dbt_fal_spark.project.loader import load_project


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_datagen_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rows = datagen.generate(str(a), 7, 0.001)
    datagen.generate(str(b), 7, 0.001)
    assert rows["lineitem"] == 4 * rows["orders"]
    for f in _files(a):
        assert filecmp.cmp(a / f, b / f, shallow=False), f
    datagen.generate(str(tmp_path / "c"), 8, 0.001)
    assert not filecmp.cmp(a / "orders.parquet", tmp_path / "c" / "orders.parquet", shallow=False)


def test_project_same_seed_same_bytes(tmp_path):
    projgen.generate(3, str(tmp_path / "a"))
    projgen.generate(3, str(tmp_path / "b"))
    files = _files(tmp_path / "a")
    assert files == _files(tmp_path / "b")
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert not mismatch and not errors


def test_different_seeds_give_different_dags():
    edges = {
        seed: sorted((p, m.name) for m in projgen.plan(seed).models for p in m.parents)
        for seed in range(5)
    }
    assert len({tuple(e) for e in edges.values()}) == 5


@pytest.mark.parametrize("seed", range(8))
def test_dag_shape_and_coverage(tmp_path, seed):
    project = projgen.generate(seed, str(tmp_path))
    manifest = load_project(tmp_path)
    graph = NodeGraph.from_manifest(manifest)
    order = graph.sort_nodes()  # raises on a cycle
    models = {m.name: m for m in project.models}
    assert len(order) >= len(models)
    # depth: the longest parent chain below the staging views
    depth = {}
    for m in project.models:
        depth[m.name] = 1 + max((depth[p] for p in m.parents), default=-1)
    assert max(depth.values()) >= 6
    assert max(len(m.parents) for m in project.models) <= 3
    n_nodes = len(project.models) + project.n_tests + len(project.hook_lines)
    assert 30 <= n_nodes <= 60
    kinds = {m.kind for m in project.models}
    assert kinds == {"view", "table", "incremental", "python", "pandas"}
    tests = {t.test_type for t in manifest.tests.values()}
    assert tests == {"unique", "not_null", "accepted_values", "relationships"}
    hooks = {line.split(":")[0] for line in project.hook_lines}
    assert hooks == {"pre", "post", "before", "after"}
    assert manifest.models[f"model.{projgen.PROJECT_NAME}.{project.models[-1].name}"].materialization


@pytest.mark.parametrize("seed", [0, 1])
def test_oracle_evaluates_every_model(tmp_path, seed):
    data = tmp_path / "data"
    datagen.generate(str(data), seed, 0.001)
    project = projgen.generate(seed, str(tmp_path / "proj"))
    con = duckdb.connect()
    projgen.oracle_tables(project, con, str(data))
    for m in project.materialized:
        assert con.execute(f"SELECT count(*) FROM {m.name}").fetchone()[0] >= 0
    incremental = [m for m in project.models if m.kind == "incremental"]
    for m in incremental:
        n, distinct = con.execute(f"SELECT count(*), count(DISTINCT uid) FROM {m.name}").fetchone()
        assert n == distinct > 0
