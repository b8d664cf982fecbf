"""CLI surface tests (reference: projects/adapter/tests/test_cli.py —
verb/flag parsing — plus the cli_tests behave suites' "models are
calculated" assertions, here in-process)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from dbt_fal_spark.cli import build_parser, main

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "jaffle_spark")


def test_parser_flow_run_flags():
    args = build_parser().parse_args(
        ["flow", "run", "--project-dir", "p", "--select", "a+", "tag:x", "--exclude", "b", "--threads", "7"]
    )
    assert args.command == "flow" and args.flow_command == "run"
    assert args.select == ["a+", "tag:x"] and args.exclude == ["b"] and args.threads == 7


def test_parser_run_scripts_flags():
    args = build_parser().parse_args(["run", "--all", "--scripts", "s.py"])
    assert args.command == "run" and args.all and args.scripts == ["s.py"]
    assert not args.before and not args.both  # default = AFTER scripts only
    assert build_parser().parse_args(["run", "--before"]).before
    with pytest.raises(SystemExit):  # mutually exclusive
        build_parser().parse_args(["run", "--before", "--both"])


def test_parser_source_freshness():
    args = build_parser().parse_args(["source", "freshness"])
    assert args.command == "source" and args.source_command == "freshness"


@pytest.fixture(scope="module")
def cli_env(spark):
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("TESTDATA_DIR", os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001"))
        yield


def test_cli_flow_run_then_post_run_and_test(cli_env, capsys):
    assert main(["flow", "run", "--project-dir", FIXTURE]) == 0
    out = capsys.readouterr().out
    assert "success  model.jaffle_spark.customers" in out
    # post-run scripts mode consumes the run_results the flow run wrote;
    # plain `run` scopes to AFTER scripts/post-hooks (reference default)
    assert main(["run", "--project-dir", FIXTURE]) == 0
    out = capsys.readouterr().out
    assert "AFTER" in out and "after_audit.py" in out
    assert "PRE" not in out and "BEFORE" not in out
    # `run --before` flips to the BEFORE side (here: the pre-hook)
    assert main(["run", "--project-dir", FIXTURE, "--before"]) == 0
    out = capsys.readouterr().out
    assert "PRE" in out and "pre_note.py" in out
    assert "AFTER" not in out
    assert main(["test", "--project-dir", FIXTURE]) == 0
    out = capsys.readouterr().out
    assert "tested" in out and "error" not in out
    assert main(["source", "freshness", "--project-dir", FIXTURE]) == 0


def test_cli_flow_run_names_the_failing_node_beside_its_error(cli_env, capsys):
    """A failing `flow run` prints each node's status, then the failed
    node's id beside its exception line (not the plan text a Spark
    error's message goes on with), and exits 1."""
    broken = os.path.join(os.path.dirname(__file__), "fixtures", "broken_proj")
    assert main(["flow", "run", "--project-dir", broken]) == 1
    captured = capsys.readouterr()
    assert "error    model.broken_proj.bad_model" in captured.out
    assert "skipped  model.broken_proj.downstream_of_bad" in captured.out
    details = [line for line in captured.err.splitlines() if line.startswith("error detail")]
    assert len(details) == 1, details
    assert details[0].startswith("error detail (model.broken_proj.bad_model): ")
    assert "nonexistent_column" in details[0]


def test_parser_maintenance_flags():
    args = build_parser().parse_args(
        ["maintenance", "compact", "--select", "wide", "--partitions", "4"]
    )
    assert args.command == "maintenance" and args.maint_command == "compact"
    assert args.select == ["wide"] and args.partitions == 4
    args = build_parser().parse_args(["maintenance", "analyze", "--no-columns"])
    assert args.maint_command == "analyze" and args.no_columns
    args = build_parser().parse_args(["maintenance", "vacuum", "--select", "t"])
    assert args.maint_command == "vacuum" and args.select == ["t"]


def test_cli_maintenance_verbs(cli_env, capsys):
    assert main(["flow", "run", "--project-dir", FIXTURE, "--select", "+orders_daily"]) == 0
    capsys.readouterr()
    assert main(
        ["maintenance", "compact", "--project-dir", FIXTURE,
         "--select", "orders_daily", "--partitions", "2"]
    ) == 0
    assert "compacted orders_daily" in capsys.readouterr().out
    assert main(
        ["maintenance", "analyze", "--project-dir", FIXTURE, "--select", "orders_daily"]
    ) == 0
    assert "analyzed orders_daily" in capsys.readouterr().out
    # views have no files to maintain: explicit select errors clearly
    import pytest
    with pytest.raises(ValueError, match="table-materialized"):
        main(["maintenance", "compact", "--project-dir", FIXTURE,
              "--select", "big_orders"])


# --- -m/--models alias + named selectors (reference args.py:121-142) -------


def test_parser_models_alias_and_short_select():
    args = build_parser().parse_args(["flow", "run", "-m", "a", "b"])
    assert args.select == ["a", "b"]
    args = build_parser().parse_args(["flow", "run", "--models", "tag:x"])
    assert args.select == ["tag:x"]
    args = build_parser().parse_args(["flow", "run", "-s", "c+"])
    assert args.select == ["c+"]


def test_named_selector_resolution(tmp_path):
    from dbt_fal_spark.cli import resolve_named_selector
    from dbt_fal_spark.plans.node_graph import NodeGraph
    from dbt_fal_spark.plans.selectors import model_checksums, select_nodes
    from dbt_fal_spark.project.manifest import DbtModel, Manifest

    (tmp_path / "selectors.yml").write_text(
        """
selectors:
  - name: plain
    definition: "tag:nightly stg_a+"
  - name: listed
    definition:
      - model_a
      - model_b
  - name: both
    definition:
      intersection:
        - tag:nightly
        - state:modified
  - name: crit
    definition:
      method: tag
      value: nightly
      parents: true
      children: true
      children_depth: 2
"""
    )
    # raw → stg_a (nightly) → mid → top → leaf; lone (nightly); model_a; model_b
    deps = {"raw": [], "stg_a": ["raw"], "mid": ["stg_a"], "top": ["mid"], "leaf": ["top"],
            "lone": [], "model_a": [], "model_b": []}
    m = Manifest(project_name="t", project_dir=tmp_path)
    for name, parents in deps.items():
        m.models[f"model.t.{name}"] = DbtModel(
            name=name, unique_id=f"model.t.{name}", raw_sql=f"select '{name}'",
            depends_on=[f"model.t.{d}" for d in parents],
            tags=["nightly"] if name in ("stg_a", "lone") else [],
        )
    graph = NodeGraph.from_manifest(m)
    state = model_checksums(m)
    del state["lone"]  # new since the saved state, so modified too

    def selected(name):
        definition = resolve_named_selector(str(tmp_path), name)
        return {n.split(".")[-1] for n in select_nodes(graph, definition, state=state)}

    assert selected("plain") == {"stg_a", "lone", "mid", "top", "leaf"}
    assert selected("listed") == {"model_a", "model_b"}
    assert selected("both") == {"lone"}
    assert selected("crit") == {"raw", "stg_a", "lone", "mid", "top"}
    with pytest.raises(ValueError, match="not found"):
        resolve_named_selector(str(tmp_path), "nope")


def test_selector_flag_conflicts_and_e2e(cli_env, capsys, tmp_path):
    import shutil

    proj = tmp_path / "selproj"
    shutil.copytree(FIXTURE, proj)
    (proj / "selectors.yml").write_text(
        "selectors:\n  - name: just_customers\n    definition: customers\n"
    )
    # both --select and --selector is an error (dbt parity)
    assert main(["flow", "run", "--project-dir", str(proj),
                 "--select", "customers", "--selector", "just_customers"]) == 2
    # unknown selector name errors cleanly
    assert main(["flow", "run", "--project-dir", str(proj),
                 "--selector", "missing"]) == 2
    # resolved selector runs exactly the named set
    capsys.readouterr()
    assert main(["flow", "run", "--project-dir", str(proj),
                 "--selector", "just_customers"]) == 0
    out = capsys.readouterr().out
    assert "model.jaffle_spark.customers" in out
    assert "orders_daily" not in out


def test_cli_maintenance_accepts_selector_syntax(cli_env, capsys):
    """maintenance --select previously compared raw model NAMES, so
    selector syntax (tag:, +model) failed as 'unknown model(s)'; now it
    routes through the same selector engine as flow run and, like bulk
    mode, keeps only table-materialized matches (a tag sweep may match
    views — skipped, not an error)."""
    assert main(["flow", "run", "--project-dir", FIXTURE]) == 0
    capsys.readouterr()
    # graph selector: orders_daily and its ancestors, views filtered out
    assert main(
        ["maintenance", "analyze", "--project-dir", FIXTURE,
         "--select", "+orders_daily"]
    ) == 0
    out = capsys.readouterr().out
    assert "analyzed orders_daily" in out
    # a selector matching only views is a clear usage error, not a crash
    assert main(
        ["maintenance", "compact", "--project-dir", FIXTURE,
         "--select", "big_orders+"]
    ) in (0, 2)  # depends on downstream tables; must not raise


def test_cli_maintenance_named_selector_routes_through_selectors(cli_env, capsys, tmp_path):
    """A named selector never takes the exact-name branch, even when its
    definition is a plain model name: it is evaluated like any selector,
    so a view it matches is skipped, not an error."""
    import shutil

    proj = tmp_path / "maintsel"
    shutil.copytree(FIXTURE, proj)
    (proj / "selectors.yml").write_text(
        "selectors:\n  - name: a_view\n    definition: big_orders\n"
    )
    capsys.readouterr()
    assert main(["maintenance", "compact", "--project-dir", str(proj),
                 "--selector", "a_view"]) == 2
    assert "matched no table-materialized models" in capsys.readouterr().err


def test_cli_maintenance_glob_routes_through_selectors(cli_env, capsys):
    """ADVICE r10: '?' and '[' are fnmatch glob characters honored by
    selectors._name_match, so 'orders_dail?' must route through the
    selector engine (previously it took the exact-name branch and failed
    as 'unknown model(s)')."""
    assert main(["flow", "run", "--project-dir", FIXTURE]) == 0
    capsys.readouterr()
    assert main(
        ["maintenance", "analyze", "--project-dir", FIXTURE,
         "--select", "orders_dail?"]
    ) == 0
    out = capsys.readouterr().out
    assert "analyzed orders_daily" in out
    capsys.readouterr()
    assert main(
        ["maintenance", "analyze", "--project-dir", FIXTURE,
         "--select", "orders_dail[xy]"]
    ) == 0
    assert "analyzed orders_daily" in capsys.readouterr().out


def test_salted_join_rejects_cross(spark):
    """ADVICE r10: salted_join always joins on [on, SALT]; how='cross'
    degenerates to a conditioned join and is not big-side-preserving in
    any meaningful sense — reject it like right/full."""
    import pytest as _pytest
    from dbt_fal_spark.functions.skew import salted_join

    big = spark.range(10).withColumnRenamed("id", "k")
    small = spark.range(3).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError, match="not big-side-preserving"):
        salted_join(big, small, on="k", how="cross")


def test_parser_profiles_dir_and_log_flags():
    args = build_parser().parse_args(
        ["flow", "run", "--profiles-dir", "/etc/dbt", "--debug"]
    )
    assert args.profiles_dir == "/etc/dbt" and args.debug and not args.disable_logging
    args = build_parser().parse_args(["test", "--disable-logging"])
    assert args.disable_logging


def test_cli_profiles_dir_missing_is_usage_error(cli_env, capsys):
    """--profiles-dir pointing nowhere is a clear exit-2 usage error,
    not a traceback (reference: args.py:45-52)."""
    assert main(
        ["flow", "run", "--project-dir", FIXTURE, "--profiles-dir", "/nonexistent_dir"]
    ) == 2
    assert "has no profiles.yml" in capsys.readouterr().err


def test_cli_debug_flag_emits_debug_logs(cli_env, capsys, caplog):
    """--debug opens the package logger: the run-planning debug line
    (node selection counts) must appear; without the flag it must not."""
    import logging

    logging.getLogger("dbt_fal_spark").setLevel(logging.WARNING)  # reset
    with caplog.at_level(logging.DEBUG, logger="dbt_fal_spark"):
        assert main(["flow", "run", "--project-dir", FIXTURE, "--debug",
                     "--select", "customers"]) == 0
    assert any("nodes selected" in r.message for r in caplog.records)
    caplog.clear()
    logging.getLogger("dbt_fal_spark").setLevel(logging.WARNING)
    assert main(["flow", "run", "--project-dir", FIXTURE,
                 "--select", "customers"]) == 0
    assert not any("nodes selected" in r.message for r in caplog.records)


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


def test_cli_test_exclude_drops_the_excluded_models_tests(cli_env, capsys):
    """`test --exclude` runs every test but those of the excluded model;
    the singular test, owned by no model, still runs."""
    main(["test", "--project-dir", FIXTURE, "--exclude", "stg_orders"])
    ran = capsys.readouterr().out.splitlines()
    assert any("clv_not_negative" in line for line in ran), ran
    assert not any("stg_orders" in line for line in ran), ran


# --- source freshness artifacts and the debug verb ---


def test_sources_artifact_statusless_rows_skipped(tmp_path, spark, monkeypatch):
    """An artifact row without `status` is unusable (the `freshness`
    property promises `.status`; reference scripts do
    `node.freshness.status`) — load-time attach now filters it, matching
    source_freshness()'s own reuse gate (ADVICE r12)."""

    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    proj = tmp_path / "proj"
    shutil.copytree(FIXTURE, proj)
    uid = "source.jaffle_spark.testdata.events"
    canned = {
        "metadata": {},
        "results": [
            {
                # no `status` key: e.g. a runtime-errored freshness row in
                # a real dbt artifact
                "unique_id": uid,
                "max_loaded_at": "2026-08-14 12:00:00",
            }
        ],
    }
    (proj / "target").mkdir(exist_ok=True)
    (proj / "target" / "sources.json").write_text(json.dumps(canned))
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
    fal = FalSpark(proj, spark=spark)
    src = next(s for s in fal.manifest.sources.values() if s.unique_id == uid)
    # the status-less row must NOT attach: freshness is None (never
    # evaluated), not a namespace missing .status
    assert src.freshness_result is None
    assert src.freshness is None
    # and the freshness command falls through to live compute
    res = fal.source_freshness()
    assert all("from_artifact" not in r for r in res)
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")


def test_debug_verb_reports_project_load_failure(tmp_path, capsys):
    """`debug` exists to diagnose a broken setup: a project that fails
    to LOAD (bad YAML) must print a FAIL report and exit 1, not
    traceback (r13 review finding)."""
    from dbt_fal_spark.cli import main

    proj = tmp_path / "broken"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: [unclosed\n")  # invalid YAML
    rc = main(["debug", "--project-dir", str(proj)])
    out = capsys.readouterr().out
    assert rc == 1
    assert "project load: FAIL" in out


def test_source_freshness_all_null_loaded_at_is_runtime_error(tmp_path, spark, monkeypatch):
    """An empty / all-NULL loaded_at source reports dbt's 'runtime
    error' status instead of crashing the whole freshness run (r13
    review finding)."""

    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    proj = tmp_path / "proj"
    shutil.copytree(FIXTURE, proj)
    (proj / "target" / "sources.json").unlink(missing_ok=True)
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
    fal = FalSpark(proj, spark=spark)
    src = next(s for s in fal.manifest.sources.values() if s.loaded_at_field)
    # point the source at an empty relation with the same loaded_at col
    empty = spark.range(0).selectExpr(
        f"CAST(NULL AS TIMESTAMP) AS {src.loaded_at_field}"
    )
    empty.createOrReplaceTempView("__empty_freshness_probe")
    orig_source = fal.source
    fal.source = lambda s, t: (
        spark.table("__empty_freshness_probe")
        if (s, t) == (src.source_name, src.table_name)
        else orig_source(s, t)
    )
    res = {r["source"]: r for r in fal.source_freshness(recompute=True)}
    r = res[src.full_name]
    assert r["status"] == "runtime error"
    assert r["age_sec"] is None and r["max_loaded_at"] is None
    # the row still round-trips through the artifact writer
    fal._write_sources_artifact()
    import json as _json

    doc = _json.loads((proj / "target" / "sources.json").read_text())
    row = next(
        x for x in doc["results"] if x["unique_id"] == src.unique_id
    )
    assert row["status"] == "runtime error"
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
