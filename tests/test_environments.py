"""Per-model environment isolation (reference: packages/environments/
base.py:104-232, virtual_env.py:26-92): scripts of a model tagged with
meta.fal.environment run in that named venv's interpreter.
"""

from __future__ import annotations

import sys
import textwrap
from pathlib import Path

import pytest

from dbt_fal_spark.api import FalSpark
from dbt_fal_spark.environments import VirtualEnvironment, load_environments


def test_load_environments_absent_file(tmp_path):
    assert load_environments(tmp_path) == {}


def test_load_environments_rejects_unknown_type(tmp_path):
    (tmp_path / "fal_project.yml").write_text(
        "environments:\n  - name: x\n    type: docker\n"
    )
    with pytest.raises(ValueError, match="not supported"):
        load_environments(tmp_path)


def test_venv_script_runs_in_isolated_interpreter(tmp_path):
    env = VirtualEnvironment(name="clean", base_dir=tmp_path / "envs")
    script = tmp_path / "probe.py"
    script.write_text(
        "import sys\n"
        "context.result = {'python': sys.executable,\n"
        "                  'model': context.current_model['name'],\n"
        "                  'arg': context.arguments['k'],\n"
        "                  'target': context.target}\n"
    )
    res = env.run_script(
        script,
        {
            "current_model": {"name": "m1", "alias": "m1", "status": "success", "meta": {}},
            "arguments": {"k": 41},
            "target": "dev",
        },
    )
    assert res["status"] == "success"
    assert res["result"]["model"] == "m1" and res["result"]["arg"] == 41
    assert res["result"]["target"] == "dev"
    # ran under the venv interpreter, not this one
    assert res["result"]["python"].startswith(str(env.env_dir))
    assert res["result"]["python"] != sys.executable
    # venv reused on second call (same dir)
    assert env.ensure() == env.python


def test_model_scripts_use_declared_environment(spark, tmp_path):
    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: isoproj")
    (proj / "fal_project.yml").write_text(
        "environments:\n  - name: clean\n    type: venv\n"
    )
    (proj / "models" / "one.sql").write_text("SELECT 1 AS x")
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            version: 2
            models:
              - name: one
                config: {materialized: table}
                meta:
                  fal:
                    environment: clean
                    scripts:
                      after:
                        - record_env.py
            """
        )
    )
    (proj / "record_env.py").write_text(
        "import sys\n"
        "open(__file__ + '.interp', 'w').write(sys.executable)\n"
    )
    spark.sql("DROP DATABASE IF EXISTS isoproj CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    interp = Path(str(proj / "record_env.py.interp")).read_text()
    assert str(proj / ".fal_envs" / "clean-") in interp or interp.startswith(
        str(proj / ".fal_envs")
    )
    assert interp != sys.executable
    spark.sql("DROP DATABASE IF EXISTS isoproj CASCADE")


def test_missing_environment_fails_clearly(spark, tmp_path):
    proj = tmp_path / "proj2"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: isoproj2")
    (proj / "models" / "one.sql").write_text("SELECT 1 AS x")
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            version: 2
            models:
              - name: one
                config: {materialized: table}
                meta:
                  fal:
                    environment: ghost
                    scripts:
                      after: [s.py]
            """
        )
    )
    (proj / "s.py").write_text("pass\n")
    spark.sql("DROP DATABASE IF EXISTS isoproj2 CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    # the model itself builds; its post-script fails the node with the
    # clear missing-environment error recorded in run_results
    assert statuses["model.isoproj2.one"] == "error"
    import json

    results = json.loads((proj / "target" / "run_results.json").read_text())["results"]
    message = {r["unique_id"]: r["message"] for r in results}["model.isoproj2.one"]
    assert "ghost" in message
    spark.sql("DROP DATABASE IF EXISTS isoproj2 CASCADE")


# ---------------- conda backend (reference: conda.py:32-121) ----------------

FAKE_CONDA = """#!/bin/sh
# fake conda: understands `conda create --yes --prefix <dir> pkg...`
# records its argv and builds a minimal env whose bin/python is the
# host interpreter (enough for the shared script-runner protocol).
shift  # drop `create`
shift  # drop `--yes`
shift  # drop `--prefix`
PREFIX="$1"; shift
mkdir -p "$PREFIX/bin"
ln -s "{python}" "$PREFIX/bin/python"
echo "$@" > "$PREFIX/packages.txt"
"""


@pytest.fixture()
def fake_conda(tmp_path, monkeypatch):
    exe = tmp_path / "bin" / "conda"
    exe.parent.mkdir(parents=True)
    exe.write_text(FAKE_CONDA.format(python=sys.executable))
    exe.chmod(0o755)
    monkeypatch.setenv("CONDA_EXE", str(exe))
    monkeypatch.delenv("FAL_CONDA_HOME", raising=False)
    return exe


def test_conda_env_created_with_python_pin_and_runs_script(tmp_path, fake_conda):
    import sysconfig

    from dbt_fal_spark.environments import CondaEnvironment

    env = CondaEnvironment(name="sci", packages=["numpy", "pandas=2"], base_dir=tmp_path / "envs")
    script = tmp_path / "probe.py"
    script.write_text("context.result = context.arguments['k'] * 2\n")
    res = env.run_script(
        script,
        {
            "current_model": {"name": "m1", "alias": "m1", "status": "success", "meta": {}},
            "arguments": {"k": 21},
            "target": "dev",
        },
    )
    assert res["status"] == "success" and res["result"] == 42
    # the create call pinned the CURRENT python version (reference
    # conda.py:60-64 — cross-version handoff is unsupported)
    pkgs = (env.env_dir / "packages.txt").read_text().split()
    assert pkgs == ["numpy", "pandas=2", f"python={sysconfig.get_python_version()}"]
    # reused on second ensure: same prefix, no re-create
    assert env.ensure() == env.python


def test_conda_rejects_custom_python_version(tmp_path):
    from dbt_fal_spark.environments import CondaEnvironment

    with pytest.raises(RuntimeError, match="cannot customize their Python version"):
        CondaEnvironment(name="bad", packages=["python=3.7"], base_dir=tmp_path)


def test_conda_missing_executable_is_descriptive(tmp_path, monkeypatch):
    from dbt_fal_spark.environments import CondaEnvironment

    monkeypatch.setenv("CONDA_EXE", "definitely-not-a-real-conda")
    monkeypatch.delenv("FAL_CONDA_HOME", raising=False)
    env = CondaEnvironment(name="x", packages=[], base_dir=tmp_path / "envs")
    with pytest.raises(RuntimeError, match="conda executable"):
        env.ensure()


def test_conda_archive_requires_conda_pack(tmp_path, fake_conda):
    from dbt_fal_spark.environments import CondaEnvironment

    env = CondaEnvironment(name="ship", packages=[], base_dir=tmp_path / "envs")
    with pytest.raises(RuntimeError, match="conda-pack"):
        env.archive_for_spark()


def test_load_environments_dispatches_conda(tmp_path):
    from dbt_fal_spark.environments import CondaEnvironment

    (tmp_path / "fal_project.yml").write_text(
        "environments:\n"
        "  - name: clean\n"
        "    type: venv\n"
        "    requirements: [pyyaml]\n"
        "  - name: sci\n"
        "    type: conda\n"
        "    packages: [numpy]\n"
    )
    envs = load_environments(tmp_path)
    assert isinstance(envs["clean"], VirtualEnvironment)
    assert isinstance(envs["sci"], CondaEnvironment)
    assert envs["sci"].packages == ["numpy"]


# --- dependency replication (SURVEY D9, offline analogue) -------------------


def test_replicate_local_deps_pins_local_versions():
    from importlib import metadata

    from dbt_fal_spark.environments import REPLICATED_PACKAGES, replicate_local_deps

    pins = replicate_local_deps()
    by_name = {}
    for p in pins:
        if "==" in p:
            name, ver = p.split("==", 1)
            by_name[name] = ver
    for pkg in REPLICATED_PACKAGES:
        try:
            expected = metadata.version(pkg)
        except metadata.PackageNotFoundError:
            assert pkg not in by_name
            continue
        assert by_name[pkg] == expected
    # running from a dev checkout: this package contributes its local
    # path (the reference's pre-release local-path branch); an installed
    # distribution would contribute a == pin instead
    try:
        metadata.version("dbt-fal-spark")
        assert "dbt-fal-spark" in by_name
    except metadata.PackageNotFoundError:
        assert any("==" not in p and p.endswith(("repo", "dbt-fal-spark")) or
                   ("==" not in p) for p in pins[-1:])


def test_replicate_deps_merges_under_declared_pins(tmp_path):
    from importlib import metadata

    from dbt_fal_spark.environments import load_environments

    (tmp_path / "fal_project.yml").write_text(
        "environments:\n"
        "  - name: repl\n"
        "    type: venv\n"
        "    replicate_deps: true\n"
        "    requirements:\n"
        "      - pandas==1.5.3\n"
        "      - prophet==1.1\n"
        "  - name: plain\n"
        "    type: venv\n"
        "    requirements:\n"
        "      - prophet==1.1\n"
    )
    envs = load_environments(tmp_path)
    reqs = envs["repl"].requirements
    # declared pins win: the replicated pandas pin is suppressed
    assert reqs.count("pandas==1.5.3") == 1
    assert not any(r.startswith("pandas==") and r != "pandas==1.5.3" for r in reqs)
    # the local numpy version IS replicated (not declared)
    assert f"numpy=={metadata.version('numpy')}" in reqs
    # declared requirements stay last (install order: base stack first)
    assert reqs[-2:] == ["pandas==1.5.3", "prophet==1.1"]
    # without the flag, nothing is injected
    assert envs["plain"].requirements == ["prophet==1.1"]


def test_replicate_deps_conda_drops_path_installs(tmp_path):
    from importlib import metadata

    from dbt_fal_spark.environments import load_environments

    (tmp_path / "fal_project.yml").write_text(
        "environments:\n"
        "  - name: c\n"
        "    type: conda\n"
        "    replicate_deps: true\n"
        "    packages:\n"
        "      - prophet==1.1\n"
    )
    envs = load_environments(tmp_path)
    pkgs = envs["c"].packages
    assert f"numpy=={metadata.version('numpy')}" in pkgs
    # a dev-checkout path (no distribution name) cannot go to conda
    assert all("/" not in p for p in pkgs)


def test_venv_pip_failure_removes_halfbuilt_env(tmp_path, monkeypatch):
    """A failed pip install must not leave a venv whose interpreter
    exists: ensure()'s python.exists() fast path would then silently run
    scripts against system-site-packages versions instead of the
    declared pins (conda's ensure already had this cleanup)."""
    import subprocess as sp

    import dbt_fal_spark.environments as envmod

    env = VirtualEnvironment(
        name="broken",
        requirements=["definitely-not-a-real-package==1"],
        base_dir=tmp_path / "envs",
    )

    def fake_create(env_dir, **kwargs):
        Path(env_dir, "bin").mkdir(parents=True)
        Path(env_dir, "bin", "python").write_text("")

    monkeypatch.setattr(envmod.venv, "create", fake_create)
    monkeypatch.setattr(
        envmod.subprocess,
        "run",
        lambda *a, **k: sp.CompletedProcess(a, 1, stdout="", stderr="no network"),
    )
    with pytest.raises(RuntimeError, match="pip install failed"):
        env.ensure()
    assert not env.env_dir.exists()
    # the retry re-attempts the install instead of reusing the stale env
    with pytest.raises(RuntimeError, match="pip install failed"):
        env.ensure()


def test_conda_archive_path_keeps_dotted_names(tmp_path, fake_conda, monkeypatch):
    """Path.with_suffix truncates at the last dot, so a dotted env name
    ("py3.10-...") used to collapse to a colliding archive path; the
    archive must append .tar.gz to the FULL prefix dir name."""
    import types

    from dbt_fal_spark.environments import CondaEnvironment

    env = CondaEnvironment(name="py3.10-ship", packages=[], base_dir=tmp_path / "envs")
    fake = types.ModuleType("conda_pack")

    def pack(prefix, output):
        Path(output).write_bytes(b"tar")

    fake.pack = pack
    monkeypatch.setitem(sys.modules, "conda_pack", fake)
    out = env.archive_for_spark()
    assert out == Path(str(env.env_dir) + ".tar.gz")
    assert out.name.startswith("py3.10-ship-conda-")
    assert out.exists()


def test_isolated_python_model_runs_in_env(spark, tmp_path):
    """Python model with meta.fal.environment runs in the named venv
    (reference: structured_hooks.feature 'Run isolated models'). The
    data boundary is parquet interchange: declared refs are pre-exported,
    the child transforms in pandas (no SparkSession crosses), and the
    result materializes as the model table. Both contracts covered:
    script-style write_to_model and dbt-style model(dbt, session)."""
    import sys as _sys

    proj = tmp_path / "isomodel"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: isomodel")
    (proj / "fal_project.yml").write_text(
        "environments:\n  - name: clean\n    type: venv\n"
    )
    (proj / "models" / "base.sql").write_text(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'a') AS t(v, g)"
    )
    (proj / "models" / "iso_script.py").write_text(
        "import sys\n"
        "assert 'pyspark' not in sys.modules  # truly isolated: no Spark here\n"
        "df = ref('base')\n"
        "out = df.groupby('g', as_index=False).agg(total=('v', 'sum'))\n"
        "out['interp'] = sys.executable\n"
        "write_to_model(out)\n"
    )
    (proj / "models" / "iso_dbt.py").write_text(
        "def model(dbt, session):\n"
        "    assert session is None  # no SparkSession crosses interpreters\n"
        "    df = dbt.ref('base')\n"
        "    return df.groupby('g', as_index=False).agg(n=('v', 'count'))\n"
    )
    (proj / "models" / "schema.yml").write_text(
        "models:\n"
        "  - name: iso_script\n"
        "    meta: {fal: {environment: clean}}\n"
        "  - name: iso_dbt\n"
        "    meta: {fal: {environment: clean}}\n"
    )
    spark.sql("DROP DATABASE IF EXISTS isomodel CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(threads=2)
    assert all(s == "success" for s in statuses.values()), statuses
    rows = {r["g"]: r["total"] for r in fal.ref("iso_script").collect()}
    assert rows == {"a": 4, "b": 2}
    interp = fal.ref("iso_script").collect()[0]["interp"]
    assert interp != _sys.executable and ".fal_envs" in interp
    counts = {r["g"]: r["n"] for r in fal.ref("iso_dbt").collect()}
    assert counts == {"a": 2, "b": 1}
    spark.sql("DROP DATABASE IF EXISTS isomodel CASCADE")


def test_hook_environment_overrides(spark, tmp_path):
    """Per-hook environment override (reference: fal_script.py:43-83 +
    013_structured_hooks model_e/f): a hook without `environment:`
    inherits the model's env; `environment: local` forces in-process
    even on an isolated model; a named env wins over the model's."""
    import sys as _sys
    import json as _json

    proj = tmp_path / "hookenv"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: hookenv")
    (proj / "fal_project.yml").write_text(
        "environments:\n"
        "  - name: clean\n    type: venv\n"
        "  - name: other\n    type: venv\n"
    )
    (proj / "models" / "one.sql").write_text("SELECT 1 AS x")
    (proj / "models" / "schema.yml").write_text(
        "models:\n"
        "  - name: one\n"
        "    meta:\n"
        "      fal:\n"
        "        environment: clean\n"
        "        post-hook:\n"
        "          - path: probe_inherit.py\n"
        "          - path: probe_local.py\n"
        "            environment: local\n"
        "          - path: probe_other.py\n"
        "            environment: other\n"
    )
    for name in ("probe_inherit", "probe_local", "probe_other"):
        (proj / f"{name}.py").write_text(
            "import sys, json\n"
            f"open({str(tmp_path / (name + '.out'))!r}, 'w').write(sys.executable)\n"
        )
    spark.sql("DROP DATABASE IF EXISTS hookenv CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    inherit = (tmp_path / "probe_inherit.out").read_text()
    local = (tmp_path / "probe_local.out").read_text()
    other = (tmp_path / "probe_other.out").read_text()
    assert "/clean-" in inherit and inherit != _sys.executable
    assert local == _sys.executable  # forced in-process
    assert "/other-" in other and other != _sys.executable
    spark.sql("DROP DATABASE IF EXISTS hookenv CASCADE")
