"""The benchmark's layer tracer against the package it traces.

``perfbench/layertrace.install`` wraps names the package's modules look
up (``api.parallel_executor``, ``api.replace_relation_atomic``,
``Scheduler.finish``, the ``execute`` of the model and script tasks, …)
in every benchmark run. A rename there breaks every run; this test
installs the tracer on a small project run, checks the spans the
benchmark reads, and checks that the undo restores every name."""

from __future__ import annotations

import sys
from pathlib import Path

# appended, not prepended: perfbench/ holds a tests/ package of its own,
# which must not shadow this one
sys.path.append(str(Path(__file__).resolve().parents[1] / "perfbench"))

import layertrace  # noqa: E402


def _patched_names():
    from dbt_fal_spark import api, materialize
    from dbt_fal_spark.plans import schedule

    return {
        "api.parallel_executor": api.parallel_executor,
        "api.write_table": api.write_table,
        "api.replace_relation_atomic": api.replace_relation_atomic,
        "api.incremental_merge": api.incremental_merge,
        "api.load_project": api.load_project,
        "api.render_model_sql": api.render_model_sql,
        "api.select_nodes": api.select_nodes,
        "api.FalSpark.test": api.FalSpark.test,
        "api._ModelTask.execute": api._ModelTask.execute,
        "api._ScriptTask.execute": api._ScriptTask.execute,
        "materialize.replace_relation_atomic": materialize.replace_relation_atomic,
        "schedule.Scheduler.finish": schedule.Scheduler.finish,
    }


def test_layertrace_traces_a_flow_run_and_undoes_its_patches(spark, tmp_path):
    from dbt_fal_spark import api

    proj = tmp_path / "traced"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: traced\nmodel-paths: [models]\n")
    (proj / "models" / "base.sql").write_text("select id as k from range(3)\n")
    (proj / "models" / "top.sql").write_text("select count(*) as n from {{ ref('base') }}\n")
    (proj / "models" / "schema.yml").write_text(
        "models:\n  - name: top\n    meta: {fal: {scripts: {after: [after.py]}}}\n"
    )
    (proj / "after.py").write_text("pass\n")
    originals = _patched_names()
    spark.sql("DROP DATABASE IF EXISTS traced CASCADE")
    tracer = layertrace.Tracer()
    undo = layertrace.install(tracer, spark.sparkContext, str)
    try:
        fal = api.FalSpark(proj, spark=spark)
        statuses = fal.run(threads=2)
        fal.test()
    finally:
        undo()
    try:
        assert _patched_names() == originals
        assert statuses == {"model.traced.base": "success", "model.traced.top": "success"}
        names = {s.name for s in tracer.spans}
        assert {
            "project.load", "project.render", "plans.select", "plans.executor",
            "plans.finish", "api.model", "api.hook", "api.test", "materialize.swap",
        } <= names, names
        models = {s.attrs["node"]: s.attrs["kind"] for s in tracer.spans if s.name == "api.model"}
        assert models == {"model.traced.base": "sql_table", "model.traced.top": "sql_table"}
        hooks = [s.attrs for s in tracer.spans if s.name == "api.hook"]
        assert hooks == [{"node": "model.traced.top", "kind": "script"}]
        deps = {s.attrs["node"]: s.attrs["deps"] for s in tracer.spans if s.name == "plans.finish"}
        assert deps == {"model.traced.base": [], "model.traced.top": ["model.traced.base"]}
    finally:
        spark.sql("DROP DATABASE IF EXISTS traced CASCADE")
