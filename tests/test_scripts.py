"""User Python: before/after scripts, pre/post hooks, global scripts and
Python models (reference: FalScript.exec, fal_script.py:258-299), run
in-process or in a named environment.

- every kind of user Python runs as ``__main__``; hooks may not write
- ``fal run`` runs a model's scripts and hooks in ``flow run`` order;
  a script file is no selector term
- a Python model's ``context`` is the one its hooks get, tests included
- a Python model's ``write_to_model`` is bound to it; aliases are honoured
- global scripts obey the ``--scripts`` filter; ``fal-scripts-path``
  wins over the project root
- notebooks (``.ipynb``) run isolated as they run in-process
"""

from __future__ import annotations

import json
import shutil
import sys
import textwrap
from pathlib import Path

import pytest

from dbt_fal_spark.api import FalSpark

FIXTURE = Path(__file__).parent / "fixtures" / "jaffle_spark"


def _copy_project(tmp_path: Path) -> Path:
    proj = tmp_path / "proj"
    shutil.copytree(FIXTURE, proj)
    return proj


# --- scripts and Python models run as __main__; hooks cannot write ----------


def test_scripts_and_python_models_run_as_main(tmp_path, spark, monkeypatch):
    """Reference contract (cli_tests/features/main_module.feature):
    scripts and fal models execute with __name__ == '__main__', so
    `if __name__ == "__main__":` blocks run. Previously __name__ was
    absent from the exec namespace and the guard raised NameError."""
    import json as _json

    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    proj = _copy_project(tmp_path)
    out = tmp_path / "main_probe.json"
    (proj / "scripts" / "main_probe.py").write_text(
        "import json\n"
        "if __name__ == '__main__':\n"
        f"    json.dump({{'name': __name__}}, open({str(out)!r}, 'w'))\n"
    )
    (proj / "fal_models" / "main_model.py").write_text(
        "import pandas as pd\n"
        "assert __name__ == '__main__', __name__\n"
        "df = ref('orders_daily')\n"
        "write_to_model(df.limit(1), mode='overwrite')\n"
    )
    schema_yml = proj / "models" / "schema.yml"
    schema_yml.write_text(
        schema_yml.read_text().replace(
            "        scripts:\n          after:\n            - scripts/after_audit.py",
            "        scripts:\n          after:\n            - scripts/after_audit.py\n            - scripts/main_probe.py",
        )
    )
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(threads=2)
    assert statuses["model.jaffle_spark.main_model"] == "success"
    assert _json.load(open(out))["name"] == "__main__"
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")


def test_hooks_cannot_write_to_model_or_source(tmp_path, spark, monkeypatch):
    """Reference contract (run.feature 'Post hooks with write_to_model
    will fail', fal_script.py:284-296): hooks observe model runs; calling
    write_to_model/write_to_source from a hook raises, and the node
    reports error. Before/after SCRIPTS keep write access."""

    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    proj = _copy_project(tmp_path)
    (proj / "scripts" / "writing_hook.py").write_text(
        "write_to_model(ref('customers'), mode='overwrite')\n"
    )
    schema_yml = proj / "models" / "schema.yml"
    schema_yml.write_text(
        schema_yml.read_text().replace(
            "        pre-hook:",
            "        post-hook:\n"
            "          - path: scripts/writing_hook.py\n"
            "        pre-hook:",
        )
    )
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(threads=2)
    assert statuses["model.jaffle_spark.customers"] == "error"
    import json as _json

    results = _json.loads((fal.target_dir / "run_results.json").read_text())["results"]
    message = {r["unique_id"]: r["message"] for r in results}["model.jaffle_spark.customers"]
    assert "not allowed in hooks" in message, message
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")


# --- fal run global-script filter + scripts-path precedence -----------------


@pytest.fixture(scope="module")
def globals_project(tmp_path_factory):
    root = tmp_path_factory.mktemp("glb_proj")
    (root / "models").mkdir()
    (root / "fal_scripts").mkdir()
    (root / "dbt_project.yml").write_text(
        'name: glb_proj\nmodel-paths: ["models"]\n'
        "vars:\n  fal-scripts-path: fal_scripts\n"
    )
    (root / "models" / "m1.sql").write_text("select 1 as k\n")
    (root / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            fal:
              scripts:
                before:
                  - g_before.py
                after:
                  - g_after.py
            models:
              - name: m1
            """
        )
    )
    for name in ("g_before.py", "g_after.py"):
        (root / "fal_scripts" / name).write_text(
            "import os\n"
            "with open(os.environ['GLB_LOG'], 'a') as f:\n"
            f"    f.write('{name}\\n')\n"
        )
    # the precedence probe: same script name at project root AND at
    # fal-scripts-path; the fal-scripts-path copy must win
    (root / "probe.py").write_text(
        "import os\n"
        "with open(os.environ['GLB_LOG'], 'a') as f:\n"
        "    f.write('root-copy\\n')\n"
    )
    (root / "fal_scripts" / "probe.py").write_text(
        "import os\n"
        "with open(os.environ['GLB_LOG'], 'a') as f:\n"
        "    f.write('scripts-path-copy\\n')\n"
    )
    yield root


def test_globals_filtered_by_only_scripts(spark, globals_project, tmp_path, monkeypatch):
    log = tmp_path / "glb.log"
    log.write_text("")
    monkeypatch.setenv("GLB_LOG", str(log))
    spark.sql("DROP DATABASE IF EXISTS glb_proj CASCADE")
    fal = FalSpark(globals_project, spark=spark)
    fal.run()
    log.write_text("")  # keep only the run_scripts phase
    ran = fal.run_scripts(
        use_last_run=False, only_scripts=["g_after.py"], include_globals=True
    )
    lines = log.read_text().split()
    assert lines == ["g_after.py"], (ran, lines)
    spark.sql("DROP DATABASE IF EXISTS glb_proj CASCADE")


def test_scripts_path_precedence(spark, globals_project, tmp_path, monkeypatch):
    log = tmp_path / "prec.log"
    log.write_text("")
    monkeypatch.setenv("GLB_LOG", str(log))
    from dbt_fal_spark.api import _ScriptTask

    fal = FalSpark(globals_project, spark=spark)
    _ScriptTask(fal, None, "probe.py").execute({})
    assert log.read_text().split() == ["scripts-path-copy"]


# --- Python models: aliases and the bound write_to_model --------------------


def test_python_model_alias_config(tmp_path, spark, monkeypatch):
    """A dbt-style Python model with config.alias materializes under the
    ALIAS (like SQL models); downstream ref() by model name resolves to
    the aliased relation. Previously the python path wrote schema.name
    while refs read schema.alias (ADVICE r11 medium)."""

    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    proj = _copy_project(tmp_path)
    (proj / "models" / "py_aliased.py").write_text(
        "def model(dbt, session):\n"
        "    df = dbt.ref('stg_orders')\n"
        "    return df.groupBy('status').count()\n"
    )
    (proj / "models" / "py_script_aliased.py").write_text(
        "df = ref('stg_orders').limit(5)\n"
        "write_to_model(df)\n"
    )
    schema_yml = proj / "models" / "schema.yml"
    schema_yml.write_text(
        schema_yml.read_text()
        + "  - name: py_aliased\n"
        + "    config: {alias: py_alias_target}\n"
        + "  - name: py_script_aliased\n"
        + "    config: {alias: py_script_target}\n"
        + "  - name: py_downstream\n"
    )
    (proj / "models" / "py_downstream.sql").write_text(
        "select count(*) as n from {{ ref('py_aliased') }}\n"
    )
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(threads=2)
    assert statuses["model.jaffle_spark.py_aliased"] == "success"
    assert statuses["model.jaffle_spark.py_script_aliased"] == "success"
    assert statuses["model.jaffle_spark.py_downstream"] == "success"
    # physical relations carry the alias; model names are not tables
    assert spark.catalog.tableExists("jaffle_spark.py_alias_target")
    assert not spark.catalog.tableExists("jaffle_spark.py_aliased")
    assert spark.catalog.tableExists("jaffle_spark.py_script_target")
    assert not spark.catalog.tableExists("jaffle_spark.py_script_aliased")
    # downstream ref by MODEL name reads through the alias
    assert fal.ref("py_downstream").collect()[0]["n"] > 0
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")


def test_write_to_model_positional_target_raises(tmp_path, spark, monkeypatch):
    """Inside a fal-style python model, write_to_model is bound to THAT
    model: an explicit positional target must fail loudly (the reference
    hard-wires target_1 via functools.partial → TypeError), not be
    silently ignored (ADVICE r11)."""

    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    proj = _copy_project(tmp_path)
    (proj / "models" / "py_bad_target.py").write_text(
        "df = ref('stg_orders').limit(3)\n"
        "write_to_model(df, 'some_other_model')\n"
    )
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(select="py_bad_target")
    assert statuses["model.jaffle_spark.py_bad_target"] == "error"
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")


# --- one order per side: before-script, pre-hook, after-script, post-hook ---


def _four_kinds_project(root: Path) -> Path:
    """One model carrying a before script, a pre-hook, an after script and
    a post-hook; each appends its own name to the file $SIDE_LOG names."""
    (root / "models").mkdir(parents=True)
    (root / "dbt_project.yml").write_text("name: sideproj\nmodel-paths: [models]\n")
    (root / "models" / "m.sql").write_text("select 1 as k\n")
    (root / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            models:
              - name: m
                meta:
                  fal:
                    scripts:
                      before: [before.py]
                      after: [after.py]
                    pre-hook: [pre.py]
                    post-hook: [post.py]
            """
        )
    )
    for name in ("before", "pre", "after", "post"):
        (root / f"{name}.py").write_text(
            "import os\n"
            "with open(os.environ['SIDE_LOG'], 'a') as f:\n"
            f"    f.write('{name}\\n')\n"
        )
    return root


def test_fal_run_both_sides_keeps_flow_run_order(spark, tmp_path, monkeypatch):
    """`fal run --both` runs a model's scripts and hooks in the order
    `flow run` does: before-script, pre-hook, after-script, post-hook."""
    log = tmp_path / "side.log"
    monkeypatch.setenv("SIDE_LOG", str(log))
    spark.sql("DROP DATABASE IF EXISTS sideproj CASCADE")
    fal = FalSpark(_four_kinds_project(tmp_path / "sideproj"), spark=spark)
    fal.run()
    assert log.read_text().split() == ["before", "pre", "after", "post"]
    log.write_text("")
    ran = fal.run_scripts(use_last_run=False)
    assert log.read_text().split() == ["before", "pre", "after", "post"]
    assert ran == [
        "script.m.BEFORE.before.py",
        "hook.m.PRE.pre.py",
        "script.m.AFTER.after.py",
        "hook.m.POST.post.py",
    ]
    spark.sql("DROP DATABASE IF EXISTS sideproj CASCADE")


def test_run_scripts_follows_the_last_run_in_memory(spark, tmp_path, monkeypatch, caplog):
    """`fal run` after `flow run` in the same FalSpark runs the scripts of
    the models that run left successful, from the run record it keeps,
    whatever happens to run_results.json on disk afterwards. A new
    FalSpark over an unreadable artifact warns and counts no node as
    run."""
    root = tmp_path / "lastrun"
    (root / "models").mkdir(parents=True)
    (root / "dbt_project.yml").write_text("name: lastrun\nmodel-paths: [models]\n")
    (root / "models" / "good.sql").write_text("select 1 as k\n")
    (root / "models" / "bad.sql").write_text("select * from no_such_table_anywhere\n")
    (root / "models" / "schema.yml").write_text(
        "models:\n"
        + "".join(f"  - name: {m}\n    meta: {{fal: {{scripts: {{after: [after.py]}}}}}}\n" for m in ("good", "bad"))
    )
    (root / "after.py").write_text("pass\n")
    spark.sql("DROP DATABASE IF EXISTS lastrun CASCADE")
    fal = FalSpark(root, spark=spark)
    assert fal.run() == {"model.lastrun.good": "success", "model.lastrun.bad": "error"}
    (root / "target" / "run_results.json").unlink()
    assert fal.run_scripts() == ["script.good.AFTER.after.py"]
    assert fal.run(select="bad") == {"model.lastrun.bad": "error"}
    assert fal.run_scripts() == []
    (root / "target" / "run_results.json").write_text("{not json")
    with caplog.at_level("WARNING", logger="dbt_fal_spark"):
        fresh = FalSpark(root, spark=spark)
    assert any("run_results.json" in r.getMessage() for r in caplog.records)
    assert fresh.run_scripts() == []
    spark.sql("DROP DATABASE IF EXISTS lastrun CASCADE")


def test_script_file_selector_points_to_the_scripts_flag(spark, tmp_path, capsys):
    """Scripts run with their model and are not graph nodes: selecting a
    script file raises instead of running nothing, and the CLI turns the
    error into a usage message."""
    from dbt_fal_spark.cli import main

    root = _four_kinds_project(tmp_path / "sideproj")
    fal = FalSpark(root, spark=spark)
    with pytest.raises(ValueError, match="--scripts"):
        fal.run(select="after.py")
    with pytest.raises(ValueError, match="--scripts"):
        fal.run_scripts(select="after.py", use_last_run=False)
    capsys.readouterr()
    assert main(["run", "--project-dir", str(root), "--all", "--select", "after.py"]) == 2
    assert "--scripts" in capsys.readouterr().err


# --- a Python model's context carries its tests ------------------------------


def test_python_model_context_carries_its_tests(spark, tmp_path):
    """`context.current_model.tests` in a Python model lists the model's
    schema tests, as it does for the model's pre-hook."""
    proj = tmp_path / "pytests"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: pytests\nmodel-paths: [models]\n")
    seen = tmp_path / "seen.json"
    (proj / "models" / "py_m.py").write_text(
        "import json\n"
        "def model(dbt, session):\n"
        f"    log = json.load(open({str(seen)!r}))  # the pre-hook wrote it\n"
        "    log['model'] = [t.test_type for t in context.current_model.tests]\n"
        f"    json.dump(log, open({str(seen)!r}, 'w'))\n"
        "    return session.range(3).withColumnRenamed('id', 'k')\n"
    )
    (proj / "hook.py").write_text(
        "import json\n"
        f"json.dump({{'hook': [t.test_type for t in context.current_model.tests]}}, open({str(seen)!r}, 'w'))\n"
    )
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            models:
              - name: py_m
                meta:
                  fal:
                    pre-hook: [hook.py]
                columns:
                  - name: k
                    tests: [not_null]
            """
        )
    )
    spark.sql("DROP DATABASE IF EXISTS pytests CASCADE")
    statuses = FalSpark(proj, spark=spark).run()
    assert statuses == {"model.pytests.py_m": "success"}
    assert json.loads(seen.read_text()) == {"hook": ["not_null"], "model": ["not_null"]}
    spark.sql("DROP DATABASE IF EXISTS pytests CASCADE")


# --- notebooks run isolated --------------------------------------------------


def _notebook(*cells: list[str]) -> str:
    """A Jupyter notebook: the given code cells plus one markdown cell."""
    return json.dumps(
        {
            "cells": [{"cell_type": "code", "source": c} for c in cells]
            + [{"cell_type": "markdown", "source": ["# not code\n"]}],
            "nbformat": 4,
        }
    )


@pytest.fixture(scope="module")
def notebook_project(tmp_path_factory):
    """A venv environment with no requirements (it builds offline), an
    isolated notebook model and a model whose notebook post-hook runs in
    that environment."""
    root = tmp_path_factory.mktemp("nbenv")
    (root / "models").mkdir()
    (root / "dbt_project.yml").write_text("name: nbenv\nmodel-paths: [models]\n")
    (root / "fal_project.yml").write_text("environments:\n  - name: clean\n    type: venv\n")
    (root / "models" / "base.sql").write_text("SELECT * FROM VALUES (1), (2) AS t(v)")
    (root / "models" / "nb_model.ipynb").write_text(
        _notebook(
            ["%matplotlib inline\n", "import sys\n", "df = ref('base')\n"],
            ["df['n'] = df['v'] * 2\n", "df['interp'] = sys.executable\n", "write_to_model(df)\n"],
        )
    )
    (root / "hook.ipynb").write_text(
        _notebook(
            ["%load_ext faldbt.magics\n", "import sys\n"],
            ["open(context.arguments['out'], 'w').write(sys.executable)\n"],
        )
    )
    (root / "models" / "schema.yml").write_text(
        textwrap.dedent(
            f"""
            models:
              - name: nb_model
                meta: {{fal: {{environment: clean}}}}
              - name: hooked
                meta:
                  fal:
                    post-hook:
                      - path: hook.ipynb
                        environment: clean
                        with: {{out: {str(root / 'hook.out')!r}}}
            """
        )
    )
    (root / "models" / "hooked.sql").write_text("SELECT 1 AS x")
    yield root


def test_isolated_notebook_model_runs(spark, notebook_project):
    spark.sql("DROP DATABASE IF EXISTS nbenv CASCADE")
    fal = FalSpark(notebook_project, spark=spark)
    statuses = fal.run(select="+nb_model")
    assert statuses["model.nbenv.nb_model"] == "success", statuses
    rows = sorted((r["v"], r["n"]) for r in fal.ref("nb_model").collect())
    assert rows == [(1, 2), (2, 4)]
    interp = fal.ref("nb_model").collect()[0]["interp"]
    assert interp != sys.executable and ".fal_envs" in interp
    spark.sql("DROP DATABASE IF EXISTS nbenv CASCADE")


def test_isolated_notebook_hook_runs(spark, notebook_project):
    spark.sql("DROP DATABASE IF EXISTS nbenv CASCADE")
    fal = FalSpark(notebook_project, spark=spark)
    statuses = fal.run(select="hooked")
    assert statuses == {"model.nbenv.hooked": "success"}
    interp = (notebook_project / "hook.out").read_text()
    assert interp != sys.executable and ".fal_envs" in interp
    spark.sql("DROP DATABASE IF EXISTS nbenv CASCADE")
