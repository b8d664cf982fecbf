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


def test_list_form_layout_survives_run_and_compact(spark, tmp_path):
    """dbt users write partition_by/bucket_by cols as YAML/Jinja LISTS as
    often as comma strings; both must materialize AND survive compact
    with the declared layout intact (pre-fix: bracketed garbage column
    names -> AnalysisException)."""
    from dbt_fal_spark.api import FalSpark
    from dbt_fal_spark.materialize import _table_bucket_spec

    spark.sql("DROP DATABASE IF EXISTS listlayout CASCADE")
    proj = tmp_path / "listlayout"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: listlayout\n")
    (proj / "models" / "bkt.sql").write_text(
        "{{ config(materialized='table', bucket_by={'cols': ['k', 'v'], 'n': 4}) }}\n"
        "SELECT id AS k, id % 7 AS v FROM range(50)"
    )
    (proj / "models" / "parted.sql").write_text(
        "{{ config(materialized='table', partition_by=['p']) }}\n"
        "SELECT id AS x, id % 3 AS p FROM range(30)"
    )
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    assert _table_bucket_spec(spark, fal._identifier("bkt")) == (4, ("k", "v"))
    assert fal.compact("bkt") == 4
    assert _table_bucket_spec(spark, fal._identifier("bkt")) == (4, ("k", "v"))
    fal.compact("parted", target_partitions=2)
    assert spark.table(fal._identifier("parted")).count() == 30
    assert "p" in [
        r.col_name
        for r in spark.sql(
            f"DESCRIBE TABLE {fal._identifier('parted')}"
        ).collect()
    ]
    spark.sql("DROP DATABASE IF EXISTS listlayout CASCADE")


# --- r10 adversarial review: write_to_model alignment + layout --------------


def test_write_to_model_append_aligns_columns(spark, tmp_path):
    """insertInto is positional: appending a df whose columns arrive in a
    different order previously wrote values into the wrong columns."""
    from dbt_fal_spark.api import FalSpark

    spark.sql("DROP DATABASE IF EXISTS wtmalign CASCADE")
    proj = tmp_path / "wtmalign"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: wtmalign\n")
    (proj / "models" / "t.sql").write_text("SELECT id AS a, id * 100 AS b FROM range(3)")
    fal = FalSpark(proj, spark=spark)
    fal.run()
    # reordered columns: b first
    extra = spark.createDataFrame([(300, 3), (400, 4)], "b long, a long")
    fal.write_to_model(extra, "t", mode="append")
    rows = {(r.a, r.b) for r in fal.ref("t").collect()}
    assert (3, 300) in rows and (4, 400) in rows, rows
    assert (300, 3) not in rows, "append wrote columns positionally, not by name"
    spark.sql("DROP DATABASE IF EXISTS wtmalign CASCADE")


def test_write_to_model_overwrite_keeps_declared_layout(spark, tmp_path):
    """A script's write_to_model overwrite must not flatten the model's
    declared bucket layout."""
    from dbt_fal_spark.api import FalSpark
    from dbt_fal_spark.materialize import _table_bucket_spec

    spark.sql("DROP DATABASE IF EXISTS wtmlayout CASCADE")
    proj = tmp_path / "wtmlayout"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: wtmlayout\n")
    (proj / "models" / "bk.sql").write_text(
        "{{ config(materialized='table', bucket_by={'cols': 'k', 'n': 4}) }}\n"
        "SELECT id AS k, id AS v FROM range(20)"
    )
    fal = FalSpark(proj, spark=spark)
    fal.run()
    ident = fal._identifier("bk")
    assert _table_bucket_spec(spark, ident) == (4, ("k",))
    fal.write_to_model(spark.range(30).selectExpr("id AS k", "id*2 AS v"), "bk")
    assert spark.table(ident).count() == 30
    assert _table_bucket_spec(spark, ident) == (4, ("k",)), "overwrite flattened the bucket layout"
    spark.sql("DROP DATABASE IF EXISTS wtmlayout CASCADE")


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


def test_incremental_model_keeps_declared_bucket_layout(spark, tmp_path):
    """An incremental model's declared bucket layout must survive BOTH
    the first-run write and the merge swap (pre-fix: incremental_merge
    never received bucket_by/sort_by — the table was created unbucketed,
    and a bucketed table hitting the merge path was silently flattened
    by the swap, voiding the zero-shuffle-join contract). Also verifies
    the append strategy maintains bucketing via insertInto (bucket spec
    comes from the catalog there)."""
    import re

    from dbt_fal_spark.api import FalSpark
    from dbt_fal_spark.materialize import _table_bucket_spec, _table_location

    spark.sql("DROP DATABASE IF EXISTS incbkt CASCADE")
    proj = tmp_path / "incbkt"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: incbkt\n")
    (proj / "models" / "merged.sql").write_text(
        "{{ config(materialized='incremental', unique_key='k',"
        " bucket_by={'cols': 'k', 'n': 4}) }}\n"
        "SELECT id AS k, id % 7 AS v FROM range(50)"
    )
    (proj / "models" / "appended.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='append',"
        " bucket_by={'cols': 'k', 'n': 4}) }}\n"
        "SELECT id AS k, id % 7 AS v FROM range(20)"
    )
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    # first run creates the bucket layout
    for m in ("merged", "appended"):
        assert _table_bucket_spec(spark, fal._identifier(m)) == (4, ("k",)), m
    # second run: merge swap and append must both keep it
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    for m in ("merged", "appended"):
        assert _table_bucket_spec(spark, fal._identifier(m)) == (4, ("k",)), (
            f"{m}: incremental rerun flattened the bucket layout"
        )
    # the appended files are REALLY bucketed (bucket-id suffix), not just
    # catalog metadata over unbucketed data
    loc = _table_location(spark, fal._identifier("appended"))
    import os

    data_files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
    assert data_files and all(re.search(r"_\d{5}\.c\d+", f) for f in data_files)
    assert spark.table(fal._identifier("merged")).count() == 50
    assert spark.table(fal._identifier("appended")).count() == 40
    spark.sql("DROP DATABASE IF EXISTS incbkt CASCADE")


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
