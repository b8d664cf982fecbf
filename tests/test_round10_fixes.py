"""Round-10 regression locks (r9 ADVICE items): the selectors.yml DNF
cross-product cap. The window-guard constant-hashing fixes live in
test_window_guard.py.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# --- ADVICE low: selectors.yml DNF term-count cap ---------------------------


def test_selector_terms_dnf_cap_fails_fast():
    from dbt_fal_spark.cli import _MAX_DNF_TERMS, _selector_terms

    wide = {"union": [f"m{i}" for i in range(25)]}
    bomb = {"intersection": [wide, wide, wide]}  # 25^3 = 15625 > cap
    with pytest.raises(ValueError, match="expands to 15625 terms"):
        _selector_terms(bomb)
    # realistic nesting stays under the cap and still distributes
    ok = _selector_terms({"intersection": [{"union": ["a", "b"]}, "c"]})
    assert ok == ["a,c", "b,c"]
    assert _MAX_DNF_TERMS >= 1000  # cap must not bite realistic projects


# --- r10 adversarial review: --vars is a YAML string (reference parity) -----


def test_cli_vars_accepts_yaml_and_json():
    from dbt_fal_spark.cli import _parse_cli_vars

    # the reference's documented example: a YAML string, not JSON
    assert _parse_cli_vars("{my_variable: my_value}") == {"my_variable": "my_value"}
    assert _parse_cli_vars('{"k": 1}') == {"k": 1}  # JSON still works
    assert _parse_cli_vars("{}") == {}
    assert _parse_cli_vars("") == {}
    with pytest.raises(ValueError, match="YAML dict"):
        _parse_cli_vars("[1, 2]")
    with pytest.raises(ValueError, match="not valid YAML"):
        _parse_cli_vars("{unclosed: [")


# --- r10 adversarial review: layout configs accept dbt's list form ----------


def test_layout_cols_accepts_both_forms():
    from dbt_fal_spark.materialize import layout_cols

    assert layout_cols("k1, k2") == ["k1", "k2"]
    assert layout_cols(["k1", "k2"]) == ["k1", "k2"]
    assert layout_cols(("k1",)) == ["k1"]
    assert layout_cols(None) == []
    assert layout_cols("") == []
    # the pre-fix failure: str(list).split(",") produced "['k1'" garbage
    assert "[" not in "".join(layout_cols(["k1", "k2"]))


# --- r10 adversarial review: snapshot composite-key contract error ----------


def test_snapshot_list_unique_key_errors_clearly(spark):
    from dbt_fal_spark.materialize import snapshot_scd2

    staged = spark.range(3).selectExpr("id AS k", "id AS v", "timestamp'2024-01-01' AS ts")
    with pytest.raises(ValueError, match="single column name"):
        snapshot_scd2(
            spark, staged, "default.snap_badkey", ["k", "v"],
            strategy="timestamp", updated_at="ts",
        )


# --- r10 adversarial review: salted_join rejects small-side-preserving joins


def test_salted_join_rejects_outer_shapes(spark):
    """A right/full outer salted join would emit unmatched small-side
    rows once PER SALT (the small side is replicated) — phantom rows.
    Big-side-preserving types stay result-invariant."""
    from dbt_fal_spark.functions.skew import salted_join

    big = spark.range(100).selectExpr("id % 10 AS k", "id AS v")
    small = spark.range(5).selectExpr("id AS k", "id * 10 AS w")
    for bad in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="not big-side-preserving"):
            salted_join(big, small, on="k", how=bad)
    # left outer on the BIG side stays exact: row count = plain join's
    plain = big.join(small, on="k", how="left").count()
    assert salted_join(big, small, on="k", how="left").count() == plain
    # semi/anti preserved too
    assert (
        salted_join(big, small, on="k", how="left_semi").count()
        == big.join(small, on="k", how="left_semi").count()
    )


# --- r10 dbt parity: glob + path selectors ----------------------------------


def test_selector_glob_and_path_matching(spark, tmp_path):
    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "globsel"
    (proj / "models" / "staging").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: globsel\n")
    (proj / "models" / "staging" / "stg_orders.sql").write_text(
        "{{ config(tags=['nightly_a']) }} SELECT 1 AS x"
    )
    (proj / "models" / "staging" / "stg_items.sql").write_text(
        "{{ config(tags=['nightly_b']) }} SELECT 2 AS x"
    )
    (proj / "models" / "final.sql").write_text(
        "SELECT * FROM {{ ref('stg_orders') }}"
    )
    fal = FalSpark(proj, spark=spark)
    from dbt_fal_spark.plans.node_graph import NodeGraph
    from dbt_fal_spark.plans.selectors import select_nodes

    graph = NodeGraph.from_manifest(fal.manifest)
    short = lambda ns: {n.split(".")[-1] for n in ns}  # noqa: E731
    # name glob (dbt: --select stg_*)
    assert short(select_nodes(graph, ["stg_*"])) == {"stg_orders", "stg_items"}
    # tag glob (dbt: --select tag:nightly*)
    assert short(select_nodes(graph, ["tag:nightly_*"])) == {
        "stg_orders", "stg_items",
    }
    # path form (dbt path: method emits bare paths)
    assert short(select_nodes(graph, ["staging/stg_orders.sql"])) == {"stg_orders"}
    assert short(select_nodes(graph, ["models/staging/*.sql"])) == {
        "stg_orders", "stg_items",
    }
    # graph ops compose with globs: descendants of the glob match
    assert "final" in short(select_nodes(graph, ["stg_*+"]))
    # exact names keep exact semantics (no accidental glob)
    assert short(select_nodes(graph, ["stg_orders"])) == {"stg_orders"}


# --- r10 adversarial review: var-conditional refs reach the DAG -------------


def test_var_conditional_ref_is_a_dag_edge(spark, tmp_path):
    """dbt parses with real project vars: a ref inside
    {% if var('flag') %} where dbt_project.yml sets the flag true MUST
    become a DAG edge (pre-fix: var-less parse took the else-branch,
    missed the edge, and the dependency could build after its
    consumer)."""
    from dbt_fal_spark.api import FalSpark

    spark.sql("DROP DATABASE IF EXISTS varcond CASCADE")
    proj = tmp_path / "varcond"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(
        "name: varcond\nvars:\n  enable_extra: true\n"
    )
    (proj / "models" / "base.sql").write_text("SELECT id AS k FROM range(5)")
    (proj / "models" / "top.sql").write_text(
        "{% if var('enable_extra') %}\n"
        "SELECT k FROM {{ ref('base') }}\n"
        "{% else %}\nSELECT 99 AS k\n{% endif %}"
    )
    fal = FalSpark(proj, spark=spark)
    top = next(m for m in fal.manifest.models.values() if m.name == "top")
    assert "model.varcond.base" in top.depends_on, top.depends_on
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    rows = sorted(r.k for r in fal.ref("top").collect())
    assert rows == [0, 1, 2, 3, 4]  # the TRUE branch ran against base
    spark.sql("DROP DATABASE IF EXISTS varcond CASCADE")


# --- VERDICT r9 item 5: pandas_udf batch-inference entry --------------------


def test_sentiment_batch_inference_shape_and_semantics(spark):
    from dbt_fal_spark.operators.inference import p_sentiment_batch_inference

    df = p_sentiment_batch_inference(spark, SF_DIR)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "n_tokens", "n_pos", "n_neg", "sentiment_score", "label",
    ]
    rows = df.collect()
    assert rows, "no scored documents"
    labels = {r.label for r in rows}
    assert labels <= {"positive", "negative", "neutral"}
    assert len(labels) >= 2, "degenerate scoring — lexicon missing from corpus"
    for r in rows:
        assert -1.0 <= r.sentiment_score <= 1.0
        assert (r.sentiment_score > 0) == (r.label == "positive")
        assert (r.sentiment_score < 0) == (r.label == "negative")
        assert r.n_pos + r.n_neg <= r.n_tokens


def test_circular_ref_reports_cycle_clearly(spark, tmp_path):
    """Two models ref'ing each other must fail with dbt's 'Found a cycle'
    wording naming the nodes, not a raw networkx.NetworkXUnfeasible
    leaking out of topological_sort."""
    import pytest as _pytest

    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "cyc"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: cyc\n")
    (proj / "models" / "a.sql").write_text("SELECT * FROM {{ ref('b') }}")
    (proj / "models" / "b.sql").write_text("SELECT * FROM {{ ref('a') }}")
    fal = FalSpark(proj, spark=spark)
    with _pytest.raises(ValueError, match="Found a cycle.*-->"):
        fal.run()
