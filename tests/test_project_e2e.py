"""End-to-end project runs — the reference's BDD layer
(SURVEY §5: 'which nodes ran, in what order, with what side effects')
plus the query-correctness layer it lacks.
"""

from __future__ import annotations

import dataclasses
import os
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dbt_fal_spark.api import FalSpark
from tests.conftest import SF_DIR

FIXTURES = Path(__file__).parent / "fixtures"


@pytest.fixture(scope="module")
def jaffle(spark):
    marker = tempfile.NamedTemporaryFile(mode="r", suffix=".txt", delete=False)
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("TESTDATA_DIR", SF_DIR)
        mp.setenv("AUDIT_MARKER_FILE", marker.name)
        spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
        fal = FalSpark(FIXTURES / "jaffle_spark", spark=spark)
        statuses = fal.run(threads=4)
        yield fal, statuses, marker.name
    os.unlink(marker.name)


def test_all_models_succeed(jaffle):
    fal, statuses, _ = jaffle
    assert statuses, "no nodes ran"
    assert all(s == "success" for s in statuses.values()), statuses


def test_customers_matches_oracle(jaffle, oracle):
    fal, _, _ = jaffle
    rows = {
        r["customer_id"]: (r["number_of_orders"], r["customer_lifetime_value"])
        for r in fal.ref("customers").collect()
    }
    exp = {
        r[0]: (r[1], r[2])
        for r in oracle.execute(
            """
            SELECT c_custkey,
                   count(o_orderkey),
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
            """
        ).fetchall()
    }
    assert rows == exp


def test_python_model_ran(jaffle):
    fal, _, _ = jaffle
    seg = {r["segment"]: r["n_customers"] for r in fal.ref("segment_stats").collect()}
    assert sum(seg.values()) == fal.ref("customers").count()


def test_view_model_is_view(jaffle):
    fal, _, _ = jaffle
    # views resolve through ref() and honor vars
    big = fal.ref("big_orders")
    assert big.count() > 0
    assert big.filter("order_total <= 100").count() == 0


def test_after_script_ran_with_context(jaffle):
    fal, _, marker = jaffle
    content = Path(marker).read_text().strip().splitlines()
    assert any(line.startswith("customers:") for line in content)
    name, n_rows, status = content[0].split(":")
    assert int(n_rows) == fal.ref("customers").count()


def test_incremental_rerun_is_stable(jaffle):
    fal, _, _ = jaffle
    n1 = fal.ref("orders_inc").count()
    fal.run(select="orders_inc")
    n2 = fal.ref("orders_inc").count()
    assert n1 == n2  # no new data → merge adds nothing


def test_generic_and_singular_tests_pass(jaffle):
    fal, _, _ = jaffle
    results = fal.test()
    assert results
    failed = [r for r in results if r["status"] != "tested"]
    assert not failed, failed


def test_test_select_scopes_to_model(jaffle):
    fal, _, _ = jaffle
    all_tests = fal.test()
    scoped = fal.test(select="stg_orders")
    assert scoped and len(scoped) < len(all_tests)
    assert all("stg_orders" in t["test"] for t in scoped)
    # a selector matching nothing runs nothing
    assert fal.test(select="no_such_model") == []


@pytest.mark.parametrize(
    "to, field, status",
    [
        ("ref('stg_customers')", "customer_id", "tested"),  # the fixture's own
        ('ref("stg_customers")', "customer_id", "tested"),
        ("ref('jaffle_spark', 'stg_customers')", "customer_id", "tested"),
        ("source('testdata', 'customer')", "c_custkey", "tested"),
        ("stg_customers", "customer_id", "tested"),
        ("model('stg_customers')", "customer_id", "error"),
    ],
)
def test_relationships_to_spellings(jaffle, monkeypatch, to, field, status):
    fal, _, _ = jaffle
    rel = next(t for t in fal.manifest.tests.values() if t.test_type == "relationships")
    monkeypatch.setitem(
        fal.manifest.tests,
        rel.unique_id,
        dataclasses.replace(rel, params={**rel.params, "to": to, "field": field}),
    )
    [result] = [r for r in fal.test(select="stg_orders") if r["test"] == rel.name]
    assert result["status"] == status, result
    if status == "tested":
        assert result["violations"] == 0
    else:
        assert "relationships 'to'" in result["error"]


def test_source_freshness_statuses(jaffle):
    fal, _, _ = jaffle
    res = fal.source_freshness()
    assert len(res) == 1
    assert res[0]["source"] == "testdata.events"
    # events data is from 2024 → older than the 30-day error threshold
    assert res[0]["status"] == "error"


def test_selector_subset_run(spark, monkeypatch):
    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    fal = FalSpark(FIXTURES / "jaffle_spark", spark=spark)
    statuses = fal.run(select="+orders_daily")
    names = {uid.split(".")[-1] for uid in statuses}
    assert names == {"stg_orders", "orders_daily"}


def test_run_results_artifact(jaffle):
    fal, _, _ = jaffle
    path = fal.project_dir / "target" / "run_results.json"
    assert path.exists()
    import json

    payload = json.loads(path.read_text())
    assert {r["status"] for r in payload["results"]} == {"success"}


def test_list_api(jaffle):
    fal, _, _ = jaffle
    models = {m.name for m in fal.list_models()}
    assert {"customers", "orders_daily", "stg_orders", "segment_stats"} <= models
    # reference semantics (r11): .name is the SOURCE name; .full_name combines
    assert {s.full_name for s in fal.list_sources()} >= {"testdata.orders", "testdata.events"}
    assert {s.name for s in fal.list_sources()} == {"testdata"}
    assert len(fal.list_tests()) >= 4
    feats = fal.list_features()
    assert len(feats) == 1 and feats[0].column == "customer_lifetime_value"


def test_execute_sql_with_jinja(jaffle):
    fal, _, _ = jaffle
    df = fal.execute_sql("select count(*) as n from {{ ref('customers') }}")
    assert df.collect()[0]["n"] == fal.ref("customers").count()


def test_write_to_model_roundtrip(jaffle):
    fal, _, _ = jaffle
    df = fal.execute_sql("select customer_id, number_of_orders from {{ ref('customers') }} limit 10")
    fal.write_to_model(df, "audit_snapshot", mode="overwrite")
    assert fal.ref("audit_snapshot").count() == 10
    fal.write_to_model(df, "audit_snapshot", mode="append")
    assert fal.ref("audit_snapshot").count() == 20


def test_write_to_model_rejects_unknown_mode(jaffle):
    """A misspelled mode fails loudly instead of falling through to an
    append (or any other write)."""
    fal, _, _ = jaffle
    df = fal.execute_sql("select customer_id from {{ ref('customers') }} limit 3")
    with pytest.raises(ValueError, match="overwite"):
        fal.write_to_model(df, "mode_typo_target", mode="overwite")
    assert not fal.spark.catalog.tableExists(f"{fal.schema}.mode_typo_target")


def test_failure_propagation(spark, monkeypatch):
    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    spark.sql("DROP DATABASE IF EXISTS broken_proj CASCADE")
    fal = FalSpark(FIXTURES / "broken_proj", spark=spark)
    statuses = fal.run()
    by_name = {uid.split(".")[-1]: s for uid, s in statuses.items()}
    assert by_name["ok_orders"] == "success"
    assert by_name["bad_model"] == "error"
    assert by_name["downstream_of_bad"] == "skipped"


def test_run_results_message_names_the_failing_node(spark, monkeypatch):
    """run_results.json ties a failure to its node: the failed node's
    entry carries its traceback as ``message``, every other entry has
    ``message: null``, and there is no run-level error list. The same
    traceback stays on ``FalSpark.errors``."""
    import json

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    spark.sql("DROP DATABASE IF EXISTS broken_proj CASCADE")
    fal = FalSpark(FIXTURES / "broken_proj", spark=spark)
    fal.run()
    payload = json.loads((fal.target_dir / "run_results.json").read_text())
    assert "errors" not in payload
    messages = {r["unique_id"]: r["message"] for r in payload["results"]}
    bad = messages.pop("model.broken_proj.bad_model")
    assert bad.startswith("Traceback") and "nonexistent_column" in bad
    assert messages == {
        "model.broken_proj.ok_orders": None,
        "model.broken_proj.downstream_of_bad": None,
    }
    assert fal.errors == {"model.broken_proj.bad_model": bad}


def test_pre_hook_receives_with_arguments(jaffle):
    import json
    payload = json.loads((FIXTURES / "jaffle_spark" / "target" / "pre_note.json").read_text())
    assert payload["model"] == "customers"
    assert payload["arguments"] == {"note": "pre-customers", "threshold": 7}


def test_write_to_source_append_and_dtype(jaffle, spark):
    fal = jaffle[0]
    base = fal.source("testdata", "customer").limit(3).select("c_custkey", "c_acctbal")
    n0 = base.count()
    fal.write_to_source(base, "testdata", "audit_sink", mode="overwrite", dtype={"c_acctbal": "decimal(12,2)"})
    fal.write_to_source(base, "testdata", "audit_sink", mode="append", dtype={"c_acctbal": "decimal(12,2)"})
    got = fal.source("testdata", "audit_sink")
    assert got.count() == 2 * n0
    assert dict(got.dtypes)["c_acctbal"] == "decimal(12,2)"


def test_teleport_roundtrip(jaffle, tmp_path):
    fal = jaffle[0]
    url = str(tmp_path / "tele" / "customers.parquet")
    fal.teleport_export("customers", url)
    fal.teleport_import(url, "customers_imported")
    a = fal.ref("customers")
    b = fal.ref("customers_imported")
    assert a.count() == b.count() and set(a.columns) == set(b.columns)


def test_init_fal_injects_globals(jaffle, spark):
    from dbt_fal_spark.magics import init_fal
    ns: dict = {}
    handle = init_fal(str(FIXTURES / "jaffle_spark"), spark=spark, namespace=ns)
    assert callable(ns["ref"]) and callable(ns["execute_sql"]) and ns["session"] is spark
    assert ns["ref"]("customers").count() == handle.ref("customers").count()


def test_unset_env_var_in_source_path_fails_fast(jaffle, monkeypatch):
    """A source path referencing an unset $VAR must raise a clear error
    naming the variable, not hand Spark a literal '$VAR' path."""
    import pytest as _pytest

    from dbt_fal_spark.api import FalSpark

    monkeypatch.delenv("TESTDATA_DIR", raising=False)
    with _pytest.raises(ValueError, match="TESTDATA_DIR"):
        FalSpark._expand_source_path("$TESTDATA_DIR/orders.parquet")


def test_json_source_reads_via_generic_format(spark, tmp_path):
    """A source declared with format: json flows through the generic
    `reader.format(...).load(...)` path — any Spark-supported format
    (json/orc/text) works without a dedicated branch."""
    import json as _json

    proj = tmp_path / "jsonproj"
    (proj / "models").mkdir(parents=True)
    data = proj / "data"
    data.mkdir()
    with open(data / "items.json", "w") as f:
        for i in range(5):
            f.write(_json.dumps({"item_id": i, "price": 10.0 * i}) + "\n")
    (proj / "dbt_project.yml").write_text("name: jsonproj\nmodel-paths: ['models']\n")
    (proj / "models" / "schema.yml").write_text(
        "sources:\n"
        "  - name: raw\n"
        "    tables:\n"
        "      - name: items\n"
        "        meta:\n"
        "          path: data/items.json\n"
        "          format: json\n"
    )
    (proj / "models" / "expensive_items.sql").write_text(
        "SELECT item_id, price FROM {{ source('raw', 'items') }} WHERE price > 15"
    )
    spark.sql("DROP DATABASE IF EXISTS jsonproj CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    rows = sorted(r["item_id"] for r in fal.ref("expensive_items").collect())
    assert rows == [2, 3, 4]


def test_full_refresh_rebuilds_incremental(jaffle, spark):
    """--full-refresh: the incremental model re-renders with
    is_incremental()=False and its table is rebuilt, so duplicate rows an
    append-style rerun would have produced are reset."""
    fal, _, _ = jaffle
    base = fal.ref("orders_inc").count()
    fal.run(select="orders_inc")  # normal incremental rerun: stays stable
    assert fal.ref("orders_inc").count() == base
    fal.run(select="orders_inc", full_refresh=True)
    assert fal.ref("orders_inc").count() == base  # rebuilt, same contents


def test_docs_generate_writes_catalog(jaffle):
    """docs generate: catalog.json carries every materialized model's
    columns/types and row counts (dbt catalog artifact shape)."""
    import json as _json

    fal, _, _ = jaffle
    out = fal.generate_docs()
    catalog = _json.loads(out.read_text())
    entry = catalog["nodes"]["model.jaffle_spark.customers"]
    assert entry["metadata"]["type"] == "table"
    assert "customer_id" in entry["columns"]
    assert entry["stats"]["row_count"] == fal.ref("customers").count()


def test_bucket_by_model_config_gives_zero_shuffle_join(spark, tmp_path, monkeypatch):
    """Models declaring bucket_by on the same key materialize bucketed
    tables; joining them plans with ZERO shuffle exchanges (the 100 TB
    co-located-join contract, now reachable from project config)."""
    proj = tmp_path / "bkproj"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: bkproj\nmodel-paths: ['models']\n")
    (proj / "models" / "schema.yml").write_text(
        "sources:\n"
        "  - name: td\n"
        "    tables:\n"
        "      - name: orders\n"
        "        meta: {path: $TESTDATA_DIR/orders.parquet}\n"
        "      - name: lineitem\n"
        "        meta: {path: $TESTDATA_DIR/lineitem.parquet}\n"
    )
    (proj / "models" / "ord_b.sql").write_text(
        "{{ config(bucket_by={'cols': 'o_orderkey', 'n': 4}) }}\n"
        "SELECT o_orderkey, o_totalprice FROM {{ source('td', 'orders') }}"
    )
    (proj / "models" / "li_b.sql").write_text(
        "{{ config(bucket_by={'cols': 'l_orderkey', 'n': 4}) }}\n"
        "SELECT l_orderkey, l_quantity FROM {{ source('td', 'lineitem') }}"
    )
    monkeypatch.setenv("TESTDATA_DIR", os.environ.get("TESTDATA_DIR", SF_DIR))
    spark.sql("DROP DATABASE IF EXISTS bkproj CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = fal.ref("ord_b").join(
            fal.ref("li_b"), F.col("o_orderkey") == F.col("l_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located bucketed join: no shuffle exchanges at all
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_notebook_model_ran(jaffle):
    # segment_peak.ipynb: magic lines stripped, code cells joined, same
    # model(dbt, session) contract as .py models (reference scans both)
    fal, statuses, _ = jaffle
    assert statuses.get("model.jaffle_spark.segment_peak") == "success"
    peak = {r["segment"]: r["max_value"] for r in fal.ref("segment_peak").collect()}
    seg = fal.ref("customers").groupBy("segment").agg(
        F.max("customer_lifetime_value").alias("mx")
    )
    assert peak == {r["segment"]: r["mx"] for r in seg.collect()}


def test_custom_macros_in_models_and_execute_sql(spark, tmp_path):
    """dbt macro-paths parity (reference: cli_tests/projects/
    009_execute_sql_function, custom_macros/multiply_by_ten.sql): {% macro %}
    definitions from every listed dir are callable from model SQL AND from
    execute_sql, and macro-internal ref() calls record dependencies."""
    import textwrap

    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "macroproj"
    (proj / "models").mkdir(parents=True)
    (proj / "custom_macros").mkdir()
    (proj / "dbt_project.yml").write_text(
        'name: macroproj\nmacro-paths: ["macros", "custom_macros"]\n'
    )
    (proj / "custom_macros" / "multiply_by_ten.sql").write_text(
        "{% macro multiply_by_ten(column_name) %}\n"
        "    cast({{ column_name }} * 10 as INT)\n"
        "{% endmacro %}\n"
    )
    (proj / "models" / "base.sql").write_text("SELECT 4 AS my_int")
    # macro used inside a model; ref() INSIDE the macro must still
    # register the dependency on base
    (proj / "custom_macros" / "from_base.sql").write_text(
        "{% macro base_rows() %}(SELECT my_int FROM {{ ref('base') }}){% endmacro %}\n"
    )
    (proj / "models" / "times_ten.sql").write_text(
        textwrap.dedent(
            """
            SELECT {{ multiply_by_ten('my_int') }} AS my_int_times_ten
            FROM {{ base_rows() }}
            """
        )
    )
    spark.sql("DROP DATABASE IF EXISTS macroproj CASCADE")
    fal = FalSpark(proj, spark=spark)
    # dependency extracted through the macro body: times_ten depends on base
    m = fal.manifest.model_by_name("times_ten")
    assert any(d.endswith(".base") for d in m.depends_on)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    assert fal.ref("times_ten").collect()[0]["my_int_times_ten"] == 40
    # the reference's run_macro.py shape: execute_sql with a macro call
    df = fal.execute_sql(
        "select {{ multiply_by_ten('my_int') }} as my_int_times_ten from {{ ref('base') }}"
    )
    assert df.collect()[0]["my_int_times_ten"] == 40
    spark.sql("DROP DATABASE IF EXISTS macroproj CASCADE")


def test_global_scripts_run_once_with_reference_gating(spark, tmp_path):
    """Reference 004_globals parity: a top-level `fal:` block in
    schema.yml defines GLOBAL scripts that run once per invocation with
    context.current_model None — before pre-hooks on the BEFORE side,
    after everything on the AFTER side — and are SKIPPED when a selector
    or script filter is passed unless forced (reference
    fal_runner.py:66-77, the --globals flag)."""
    import textwrap

    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "globalsproj"
    (proj / "models").mkdir(parents=True)
    (proj / "fal_scripts").mkdir()
    (proj / "dbt_project.yml").write_text("name: globalsproj")
    (proj / "models" / "some_model.sql").write_text("SELECT 1 AS x")
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            version: 2
            models:
              - name: some_model
                meta:
                  fal:
                    scripts:
                      after:
                        - fal_scripts/model_after.py
            fal:
              scripts:
                before:
                  - fal_scripts/global_before.py
                after:
                  - fal_scripts/global_after.py
            """
        )
    )
    (proj / "fal_scripts" / "model_after.py").write_text(
        "open(__file__ + '.ran', 'w').write(context.current_model.name)\n"
    )
    for g in ("global_before", "global_after"):
        (proj / "fal_scripts" / f"{g}.py").write_text(
            "assert context.current_model is None\n"
            "open(__file__ + '.ran', 'w').write('global')\n"
        )
    spark.sql("DROP DATABASE IF EXISTS globalsproj CASCADE")
    fal = FalSpark(proj, spark=spark)
    assert fal.manifest.global_scripts == {
        "before": ["fal_scripts/global_before.py"],
        "after": ["fal_scripts/global_after.py"],
    }
    fal.run()
    ran = fal.run_scripts(use_last_run=False)  # plain `fal run`: AFTER side + both? default before=None -> both
    # globals ran once on each side, model script ran with its model
    assert "script.GLOBAL.BEFORE.fal_scripts/global_before.py" in ran
    assert "script.GLOBAL.AFTER.fal_scripts/global_after.py" in ran
    assert (proj / "fal_scripts" / "global_before.py.ran").exists()
    assert (proj / "fal_scripts" / "global_after.py.ran").read_text() == "global"
    assert (proj / "fal_scripts" / "model_after.py.ran").read_text() == "some_model"
    # a selection suppresses globals (reference gating)...
    ran_sel = fal.run_scripts(select="some_model", use_last_run=False)
    assert not any("GLOBAL" in r for r in ran_sel)
    # ...unless forced with include_globals (the --globals flag)
    ran_forced = fal.run_scripts(
        select="some_model", use_last_run=False, include_globals=True
    )
    assert any("GLOBAL" in r for r in ran_forced)
    spark.sql("DROP DATABASE IF EXISTS globalsproj CASCADE")


def test_fal_scripts_path_and_models_paths_vars(spark, tmp_path):
    """Reference 006_script_paths parity: `fal-scripts-path` resolves
    meta.fal script names against a configured dir, and
    `fal-models-paths` dirs contribute Python models outside
    model-paths (reference parse.py:120-151)."""
    import textwrap

    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "pathproj"
    (proj / "models").mkdir(parents=True)
    (proj / "scripts").mkdir()
    (proj / "fal_models").mkdir()
    (proj / "dbt_project.yml").write_text(
        textwrap.dedent(
            """
            name: pathproj
            vars:
              fal-scripts-path: scripts
              fal-models-paths: [fal_models]
            """
        )
    )
    (proj / "models" / "base.sql").write_text("SELECT 7 AS y")
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            version: 2
            models:
              - name: base
                meta:
                  fal:
                    scripts:
                      after:
                        - marker.py
            """
        )
    )
    (proj / "scripts" / "marker.py").write_text(
        "open(__file__ + '.ran', 'w').write(context.current_model.name)\n"
    )
    (proj / "fal_models" / "doubled.py").write_text(
        "def model(dbt, session):\n"
        "    return dbt.ref('base').selectExpr('y * 2 AS y2')\n"
    )
    spark.sql("DROP DATABASE IF EXISTS pathproj CASCADE")
    fal = FalSpark(proj, spark=spark)
    # the fal_models dir contributed a model with the extracted dependency
    m = fal.manifest.model_by_name("doubled")
    assert any(d.endswith(".base") for d in m.depends_on)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    assert fal.ref("doubled").collect()[0]["y2"] == 14
    # the after-script resolved through fal-scripts-path
    assert (proj / "scripts" / "marker.py.ran").read_text() == "base"
    spark.sql("DROP DATABASE IF EXISTS pathproj CASCADE")


def test_teleport_url_schemes(jaffle, tmp_path, monkeypatch):
    """Teleport accepts object-store URLs (reference: teleport/info.py:
    32-73 builds s3:// URLs): file:// round-trips (the scheme stand-in
    for s3a/gs — same Hadoop FileSystem dispatch), s3:// normalizes to
    the s3a connector, $VARs expand, and relative local paths anchor at
    project_dir."""
    fal = jaffle[0]
    # file:// scheme round-trip through the Hadoop FS layer
    url = f"file://{tmp_path}/tele_url/customers.parquet"
    out = fal.teleport_export("customers", url)
    assert out == url
    fal.teleport_import(url, "customers_url_imported")
    assert fal.ref("customers_url_imported").count() == fal.ref("customers").count()
    # $VAR expansion inside a URL
    monkeypatch.setenv("TELE_BASE", f"file://{tmp_path}/tele_env")
    out2 = fal.teleport_export("customers", "$TELE_BASE/customers.parquet")
    assert out2 == f"file://{tmp_path}/tele_env/customers.parquet"
    # s3:// spelling → s3a:// connector (resolution only; no bucket here)
    assert fal._resolve_path_or_url("s3://bucket/k") == "s3a://bucket/k"
    assert fal._resolve_path_or_url("gs://bucket/k") == "gs://bucket/k"
    assert fal._resolve_path_or_url("abfss://c@a.dfs.example/k") == "abfss://c@a.dfs.example/k"
    # relative local path anchors at the project dir
    resolved = fal._resolve_path_or_url("exports/x.parquet")
    assert resolved == str(fal.project_dir / "exports/x.parquet")


def test_orders_forecast_pandas_interop_e2e(jaffle, oracle):
    """The ported reference flagship fal model (fal_models/
    orders_forecast.py, near-verbatim from A/cli_tests/projects/
    002_jaffle_shop) runs under flow run with meta interop=pandas: ref()
    hands it a pandas frame, the pandas-idiom pipeline (.rename,
    .join(lsuffix/rsuffix), .map strftime) runs unchanged, and
    write_to_model accepts the pandas result. Differential check: the
    SAME model file is re-executed over a DuckDB-computed orders_daily
    frame and the outputs must match exactly — what's verified is the
    Spark plumbing (source → staged view → aggregate → pandas boundary
    → write-back), not the forecast arithmetic, which is shared."""
    import pandas as pd

    fal, statuses, _ = jaffle
    assert statuses.get("model.jaffle_spark.orders_forecast") == "success"
    got = (
        fal.ref("orders_forecast")
        .toPandas()
        .sort_values("ds")
        .reset_index(drop=True)
    )
    assert list(got.columns) == ["ds", "yhat_count", "yhat_amount"]

    # recompute via the DuckDB data path: exec the model file with ref()
    # returning DuckDB's orders_daily and write_to_model capturing
    daily = oracle.execute(
        """
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_amount
        FROM orders GROUP BY 1 ORDER BY 1
        """
    ).df()
    captured = {}
    ns = {
        "ref": lambda name: daily.copy(),
        "write_to_model": lambda df, **kw: captured.setdefault("df", df),
        "print": lambda *a, **k: None,
    }
    path = FIXTURES / "jaffle_spark" / "fal_models" / "orders_forecast.py"
    exec(compile(path.read_text(), str(path), "exec"), ns)
    exp = captured["df"].sort_values("ds").reset_index(drop=True)

    assert len(got) == len(exp) == len(daily) + 50  # 50 future days
    pd.testing.assert_frame_equal(
        got[["ds", "yhat_count", "yhat_amount"]],
        exp[["ds", "yhat_count", "yhat_amount"]],
        check_exact=True,
    )


def test_python_model_dbt_style_pandas_config(jaffle, tmp_path, spark):
    """dbt-style opt-in: dbt.config(interop='pandas') makes dbt.ref()
    return pandas inside model(dbt, session), and a pandas return value
    materializes; without the opt-in, ref stays a lazy Spark DataFrame
    carrying the .to_pandas() escape hatch."""
    import shutil

    proj = tmp_path / "pandas_proj"
    shutil.copytree(FIXTURES / "jaffle_spark", proj)
    (proj / "models" / "seg_pandas.py").write_text(
        "import pandas as pd\n"
        "def model(dbt, session):\n"
        "    dbt.config(interop='pandas')\n"
        "    customers = dbt.ref('customers')\n"
        "    assert isinstance(customers, pd.DataFrame)\n"
        "    out = customers.groupby('segment', as_index=False).agg(\n"
        "        n_customers=('customer_id', 'count'))\n"
        "    return out\n"
    )
    (proj / "models" / "seg_spark_escape.py").write_text(
        "def model(dbt, session):\n"
        "    customers = dbt.ref('customers')\n"
        "    pdf = customers.to_pandas()  # documented escape hatch\n"
        "    return session.createDataFrame(pdf).groupBy('segment').count()\n"
    )
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(threads=2)
    assert statuses["model.jaffle_spark.seg_pandas"] == "success"
    assert statuses["model.jaffle_spark.seg_spark_escape"] == "success"
    seg = {r["segment"]: r["n_customers"] for r in fal.ref("seg_pandas").collect()}
    assert sum(seg.values()) == fal.ref("customers").count()
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")


def test_seed_and_model_sharing_a_name_fail_to_load(tmp_path):
    """A seed and a model named alike would both write ``schema.c`` and
    make ``ref('c')`` ambiguous; the load refuses the pair, as it refuses
    two models named alike."""
    from dbt_fal_spark.project.loader import load_project

    (tmp_path / "models").mkdir()
    (tmp_path / "seeds").mkdir()
    (tmp_path / "dbt_project.yml").write_text("name: p\n")
    (tmp_path / "seeds" / "c.csv").write_text("k\n1\n")
    (tmp_path / "models" / "c.sql").write_text("select 1 as k\n")
    with pytest.raises(ValueError, match="duplicate model name 'c'"):
        load_project(tmp_path)


# --- the reference's attribute spellings; singular-test configs ---

FIXTURE = FIXTURES / "jaffle_spark"


def test_property_spellings_match_reference_example(tmp_path, spark, monkeypatch):
    """The reference programmatic example iterates faldbt.models /
    .sources / .tests as ATTRIBUTES (002_jaffle_shop/fal_dbt.py);
    FalSpark exposes the same spellings alongside the list_* methods."""

    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    fal = FalSpark(FIXTURE, spark=spark)
    assert [m.name for m in fal.models] == [m.name for m in fal.list_models()]
    assert len(fal.sources) == len(fal.list_sources())
    assert len(fal.tests) == len(fal.list_tests())
    # the reference example's loop shape works verbatim
    for model in fal.models:
        _ = (model.name, [(t.name, t.status) for t in model.tests])
    for source in fal.sources:
        _ = (source.source_name, source.table_name,
             [(t.name, t.status) for t in source.tests])


def _one_model_project(tmp_path: Path, model_sql: str) -> Path:
    proj = tmp_path / "tproj13"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(
        "name: tproj13\nprofile: tproj13\nmodel-paths: [models]\n"
    )
    (proj / "models" / "probe.sql").write_text(model_sql)
    (proj / "models" / "schema.yml").write_text("models:\n  - name: probe\n")
    return proj


def test_singular_test_where_filters_violations(tmp_path, spark):
    """`{{ config(where=...) }}` on a singular test filters the violation
    rows — same relation algebra as the generic-test branch. Previously
    the loader parsed `where` but dropped it for singular tests while
    honoring severity/limit from the same config (ADVICE r12)."""
    from dbt_fal_spark.api import FalSpark

    proj = _one_model_project(
        tmp_path, "select * from values ('A', 1), ('A', 2), ('B', 3) t(status, id)\n"
    )
    (proj / "tests").mkdir()
    (proj / "tests" / "status_a_rows.sql").write_text(
        "{{ config(where=\"id >= 2\") }}\n"
        "select * from {{ ref('probe') }} where status = 'A'\n"
    )
    spark.sql("DROP DATABASE IF EXISTS tproj13 CASCADE")
    fal = FalSpark(proj, spark=spark)
    fal.run()
    t = fal.manifest.tests["test.tproj13.status_a_rows"]
    assert t.where == "id >= 2"  # loader keeps it for singular tests now
    by_name = {r["test"]: r for r in fal.test()}
    sg = by_name["status_a_rows"]
    # 2 rows have status='A'; the where config keeps only id >= 2 → 1
    assert sg["violations"] == 1 and sg["status"] == "error"
    spark.sql("DROP DATABASE IF EXISTS tproj13 CASCADE")
