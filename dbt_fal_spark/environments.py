"""Per-model environment isolation (reference: A/src/fal/dbt/packages/
environments/base.py:104-232 BaseEnvironment/setup-teardown protocol,
virtual_env.py:26-92 venv creation + requirements install,
conda.py:32-121 conda prefix creation + executable discovery).

The reference ran fal scripts in named virtual environments so that
models with conflicting Python dependencies (Prophet vs torch pins)
could coexist in one project. On Spark the heavy compute runs on
executors, so isolation here is DRIVER-side and deliberately narrow:
an isolated script, hook or Python model executes in the environment's
own interpreter as a subprocess — one child runner for all of them
(``_ScriptRunner._exec_in_env``; a model adds parquet ``ref``/``source``
and ``write_to_model``). The child receives the user code (a notebook's
code cells) and the ``context`` (model metadata, arguments, target) over
a JSON handoff, and exchanges data with the pipeline through files — it
does NOT get a live SparkSession (a JVM handle cannot cross an
interpreter boundary; the reference had the same restriction for its
cloud/isolated backends and re-created connections inside the
environment).

Environments are declared in ``fal_project.yml`` (the reference's file):

    environments:
      - name: clean
        type: venv
        requirements:
          - prophet==1.1

and attached per model via ``meta.fal.environment: clean``.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import shutil
import subprocess
import sysconfig
import tempfile
import threading
import venv
from dataclasses import dataclass, field
from pathlib import Path

import yaml

from dbt_fal_spark.project.loader import process_ipynb

# per-env-dir creation locks (see VirtualEnvironment.ensure): defaultdict
# is itself guarded by the GIL for single-key access patterns used here
_ENSURE_LOCKS: dict[str, threading.Lock] = collections.defaultdict(threading.Lock)


def user_code(path: Path) -> str:
    """The source of a user script or Python model: a notebook's code
    cells with magics stripped, else the file's text."""
    code = Path(path).read_text()
    return process_ipynb(code) if Path(path).suffix == ".ipynb" else code


# The child's program: load the payload, build the ``context`` shim and
# run the user code as ``__main__`` (reference: main_module.feature). A
# Python model inserts _MODEL_PART before the exec and gets its output
# check in ``_finish``.
_RUNNER_HEAD = (
    "import json, sys\n"
    "payload = json.load(open(sys.argv[1]))\n"
    "class _Ctx:\n"
    "    result = None\n"
    "context = _Ctx()\n"
    "context.current_model = payload['current_model']\n"
    "context.arguments = payload['arguments']\n"
    "context.target = payload['target']\n"
    "ns = {'context': context, '__file__': payload['script'], '__name__': '__main__'}\n"
    "def _finish():\n"
    "    pass\n"
)
_MODEL_PART = (
    "import pandas as pd\n"
    "rels, srcs = payload['relations'], payload['sources']\n"
    "def ref(*parts):\n"
    "    name = parts[-1]\n"
    "    if name not in rels:\n"
    "        raise ValueError(\n"
    "            f'isolated model ref({name!r}): only DECLARED (AST-visible, '\n"
    "            f'literal-name) dependencies are exported to the environment; '\n"
    "            f'available: {sorted(rels)}')\n"
    "    return pd.read_parquet(rels[name])\n"
    "def source(s, t):\n"
    "    key = s + '::' + t\n"
    "    if key not in srcs:\n"
    "        raise ValueError(\n"
    "            f'isolated model source({s!r}, {t!r}): only declared literal-name '\n"
    "            f'sources are exported; available: {sorted(srcs)}')\n"
    "    return pd.read_parquet(srcs[key])\n"
    "def write_to_model(df, *a, **kw):\n"
    "    df.to_parquet(payload['out'])\n"
    "    write_to_model.called = True\n"
    "write_to_model.called = False\n"
    "class _Dbt:\n"
    "    this = payload['this']\n"
    "    ref, source = staticmethod(ref), staticmethod(source)\n"
    "    config = staticmethod(lambda **kw: '')\n"
    "ns.update(ref=ref, source=source, write_to_model=write_to_model, session=None)\n"
    "def _finish():\n"
    "    fn = ns.get('model')\n"
    "    if fn is not None:\n"
    "        res = fn(_Dbt(), None)\n"
    "        if res is None:\n"
    "            raise ValueError('python model returned no DataFrame')\n"
    "        write_to_model(res)\n"
    "    if not write_to_model.called:\n"
    "        raise ValueError('isolated python model produced no output: '\n"
    "                         'define model(dbt, session) or call write_to_model(...)')\n"
)
_RUNNER_TAIL = (
    "exec(compile(payload['code'], payload['script'], 'exec'), ns)\n"
    "_finish()\n"
    "json.dump({'status': 'success', 'result': context.result, 'python': sys.executable},\n"
    "          open(sys.argv[2], 'w'))\n"
)


class _ScriptRunner:
    """Shared isolated-run protocol: subclasses provide ``ensure()``
    (returning the environment's interpreter) and ``name``; the JSON
    handoff runner is identical for every backend, as in the reference
    (base.py's shared run protocol over per-backend connections)."""

    name: str

    def ensure(self) -> Path:  # pragma: no cover - abstract
        raise NotImplementedError

    def run_script(self, script_path: Path, payload: dict) -> dict:
        """Execute a fal script inside this environment. The child gets a
        ``context`` shim (``payload``'s current_model dict, arguments and
        target) and ``__file__``; status and any ``context.result`` come
        back as JSON."""
        return self._exec_in_env(script_path, payload, model=False)

    def run_python_model(self, model_path: Path, payload: dict) -> dict:
        """Execute a PYTHON MODEL inside this environment (reference:
        structured_hooks.feature 'Run isolated models'). A SparkSession
        cannot cross interpreters, so the boundary is the pandas interop
        one: the parent pre-exports the model's declared dependencies as
        parquet (payload['relations'] name→path, payload['sources']
        's::t'→path), the child's injected ``ref``/``source`` read them
        with pandas, and the result lands at payload['out'] as parquet
        for the parent to materialize. Both model contracts run:
        script-style bodies call ``write_to_model``; dbt-style
        ``model(dbt, session)`` gets ``session=None`` (there is no Spark
        in the env — the reference's isolated backends had the same
        restriction) and returns a pandas frame."""
        return self._exec_in_env(model_path, payload, model=True)

    def _exec_in_env(self, path: Path, payload: dict, *, model: bool) -> dict:
        """The one child runner: build the environment, hand it the
        payload plus the user code (a notebook's code cells) as JSON, and
        report crashes and ``sys.exit`` escapes clearly."""
        python = self.ensure()
        what = f"{'python model' if model else 'script'} {path}"
        runner = _RUNNER_HEAD + (_MODEL_PART if model else "") + _RUNNER_TAIL
        with tempfile.TemporaryDirectory() as td:
            pf, rf, runf = Path(td, "payload.json"), Path(td, "result.json"), Path(td, "runner.py")
            # default=str: a YAML date in the model's meta or columns
            # reaches the child as text instead of failing the handoff
            pf.write_text(json.dumps(
                {**payload, "script": str(path), "code": user_code(path)}, default=str
            ))
            runf.write_text(runner)
            proc = subprocess.run(
                [str(python), str(runf), str(pf), str(rf)],
                capture_output=True,
                text=True,
            )
            if proc.returncode != 0:
                raise RuntimeError(
                    f"isolated {what} failed in environment "
                    f"{self.name!r}:\n{proc.stderr[-2000:]}"
                )
            if not rf.exists():
                # A script that calls sys.exit(0)/os._exit(0) skips the
                # runner's handoff dump; surface that instead of a bare
                # FileNotFoundError.
                raise RuntimeError(
                    f"isolated {what} exited 0 in environment "
                    f"{self.name!r} without producing a result (did it call "
                    f"sys.exit()?)\nstdout: {proc.stdout[-1000:]}\n"
                    f"stderr: {proc.stderr[-1000:]}"
                )
            return json.loads(rf.read_text())


@dataclass
class VirtualEnvironment(_ScriptRunner):
    """A named venv keyed by its requirement set; created lazily, reused
    across runs (same requirements → same directory, like the reference's
    cache key — virtual_env.py:26-40)."""

    name: str
    requirements: list[str] = field(default_factory=list)
    base_dir: Path = Path(".fal_envs")

    @property
    def env_dir(self) -> Path:
        key = hashlib.md5("\n".join(sorted(self.requirements)).encode()).hexdigest()[:12]
        return self.base_dir / f"{self.name}-{key}"

    @property
    def python(self) -> Path:
        return self.env_dir / "bin" / "python"

    def ensure(self) -> Path:
        """Create the venv (and install requirements) if absent; returns
        the interpreter path. system-site-packages keeps the base stack
        (pandas/pyarrow) visible — requirements only ADD or PIN on top,
        matching how the reference seeded environments.

        Thread-safe (r11): two models sharing an environment run
        concurrently under the parallel executor, and two venv.create
        calls racing on one directory half-overwrite each other. A
        per-env_dir lock serializes creation in-process; the venv is
        built under a unique sibling dir and atomically renamed in, so
        even a cross-process race leaves one winner and no torn env."""
        if self.python.exists():
            return self.python
        with _ENSURE_LOCKS[str(self.env_dir)]:
            if self.python.exists():  # built while we waited
                return self.python
            self.env_dir.parent.mkdir(parents=True, exist_ok=True)
            build_dir = self.env_dir.with_name(
                self.env_dir.name + f".build-{os.getpid()}"
            )
            shutil.rmtree(build_dir, ignore_errors=True)
            venv.create(
                build_dir,
                with_pip=bool(self.requirements),
                system_site_packages=True,
            )
            if self.requirements:
                proc = subprocess.run(
                    [str(build_dir / "bin" / "python"), "-m", "pip",
                     "install", "--quiet", *self.requirements],
                    capture_output=True,
                    text=True,
                )
                if proc.returncode != 0:
                    # Remove the half-built venv: its interpreter already
                    # exists, so leaving it would make every retry hit the
                    # python.exists() fast path and silently run scripts
                    # against system-site-packages versions instead of the
                    # declared pins (conda's ensure has the same cleanup).
                    shutil.rmtree(build_dir, ignore_errors=True)
                    raise RuntimeError(
                        f"environment {self.name!r}: pip install failed "
                        f"(offline container or bad pin?):\n{proc.stderr[-2000:]}"
                    )
            try:
                os.rename(build_dir, self.env_dir)
            except OSError:
                # cross-process race: someone else renamed theirs in first
                shutil.rmtree(build_dir, ignore_errors=True)
                if not self.python.exists():
                    raise
        return self.python


def find_conda_executable() -> Path:
    """Locate conda (or mamba) like the reference does (conda.py:110-121):
    honor $CONDA_EXE, then $FAL_CONDA_HOME as a search dir, then PATH."""
    cmd = os.environ.get("CONDA_EXE", "conda")
    for search_path in (os.getenv("FAL_CONDA_HOME"), None):
        found = shutil.which(cmd, path=search_path)
        if found:
            return Path(found)
    raise RuntimeError(
        "Could not find a conda executable. Install conda/mamba, or point "
        "CONDA_EXE / FAL_CONDA_HOME at one."
    )


@dataclass
class CondaEnvironment(_ScriptRunner):
    """A named conda environment (reference: conda.py:32-107). Semantics
    mirrored: the package list is augmented with a pin to the CURRENT
    Python version (cross-version pickling of the handoff is not
    supported — reference conda.py:60-64), user pins of a different
    Python are rejected, and the environment directory is keyed by the
    package set so identical declarations share one prefix.

    Cluster note: driver-side isolation covers fal scripts; to ship a
    conda env to executors, ``archive_for_spark()`` packs the prefix
    with conda-pack for ``spark.archives`` (the standard PySpark
    dependency-shipping path); it degrades to a clear error where
    conda-pack is absent (this sandbox)."""

    name: str
    packages: list[str] = field(default_factory=list)
    base_dir: Path = Path(".fal_envs")

    def __post_init__(self) -> None:
        for raw in self.packages:
            spec = raw.replace(" ", "")
            if spec.startswith("python") and spec[len("python"):][:1] in ("=", "<", ">", "!"):
                raise RuntimeError(
                    "Conda environments cannot customize their Python version."
                )

    @property
    def _final_packages(self) -> list[str]:
        return [*self.packages, f"python={sysconfig.get_python_version()}"]

    @property
    def env_dir(self) -> Path:
        key = hashlib.sha256(" ".join(self._final_packages).encode()).hexdigest()[:12]
        return self.base_dir / f"{self.name}-conda-{key}"

    @property
    def python(self) -> Path:
        return self.env_dir / "bin" / "python"

    def ensure(self) -> Path:
        if self.python.exists():
            return self.python
        conda = find_conda_executable()
        self.env_dir.parent.mkdir(parents=True, exist_ok=True)
        proc = subprocess.run(
            [str(conda), "create", "--yes", "--prefix", str(self.env_dir), *self._final_packages],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0 or not self.python.exists():
            shutil.rmtree(self.env_dir, ignore_errors=True)
            raise RuntimeError(
                f"environment {self.name!r}: conda create failed "
                f"(offline container or bad spec?):\n{proc.stderr[-2000:]}"
            )
        return self.python

    def archive_for_spark(self) -> Path:
        """Pack the env into a relocatable .tar.gz for ``spark.archives``
        (executors then run ``./environment/bin/python``)."""
        self.ensure()
        try:
            import conda_pack  # type: ignore[import-not-found]
        except ImportError as exc:
            raise RuntimeError(
                "conda-pack is required to ship a conda environment to "
                "executors via spark.archives; pip install conda-pack"
            ) from exc
        # NOT with_suffix: a dotted env name ("py3.10") has a bogus
        # Path suffix, and with_suffix would truncate at the last dot —
        # colliding archives across environments that share the prefix.
        out = Path(str(self.env_dir) + ".tar.gz")
        if not out.exists():
            conda_pack.pack(prefix=str(self.env_dir), output=str(out))
        return out


# Packages whose version skew breaks the host↔environment handoff: the
# isolated script exchanges parquet/JSON files with the pipeline, so
# pandas/pyarrow/numpy disagreement is the classic silent corruption,
# and a pyspark mismatch breaks any env that re-creates its own session.
REPLICATED_PACKAGES = ("pandas", "pyarrow", "numpy", "pyspark")


def replicate_local_deps() -> list[str]:
    """Dependency replication (reference: fal/dbt/packages/
    dependency_analysis.py:79-191): the reference sniffs the LOCAL
    interpreter's installed dbt/fal distributions and pins those exact
    versions into the isolated environment so both sides interoperate.
    The Spark-native analogue replicates the data-interchange stack
    (REPLICATED_PACKAGES) plus this package itself — an installed
    distribution pins its version, a dev checkout contributes its local
    path (the reference's pre-release local-path branch). Everything is
    computed OFFLINE from importlib.metadata; network is only touched by
    pip at ensure() time, exactly as for user-declared requirements."""
    from importlib import metadata

    pins: list[str] = []
    for pkg in REPLICATED_PACKAGES:
        try:
            pins.append(f"{pkg}=={metadata.version(pkg)}")
        except metadata.PackageNotFoundError:
            continue
    try:
        pins.append(f"dbt-fal-spark=={metadata.version('dbt-fal-spark')}")
    except metadata.PackageNotFoundError:
        root = Path(__file__).resolve().parent.parent
        if (root / "pyproject.toml").exists():
            pins.append(str(root))
    return pins


def _spec_name(spec: str) -> str:
    """Distribution name of a requirement spec ('' for path installs).
    Extras (``pandas[performance]==2.2``) and environment markers
    (``numpy==1.26; python_version<"3.12"``) must not hide the name —
    otherwise a declared pin fails to suppress the replicated one and
    pip receives two conflicting specs for the same distribution."""
    if os.sep in spec or spec.startswith("."):
        return ""
    try:
        from packaging.requirements import Requirement

        return Requirement(spec).name.strip().lower()
    except Exception:
        import re

        head = re.split(r"==|>=|<=|~=|!=|<|>|=|\[|;|\s", spec, maxsplit=1)[0]
        return head.strip().lower()


def _merge_replicated(declared: list[str]) -> list[str]:
    """Replicated pins + declared requirements; a declared spec for the
    same distribution wins (the user's explicit pin outranks replication,
    mirroring how the reference lets fal_project.yml override)."""
    declared_names = {_spec_name(s) for s in declared} - {""}
    inherited = [
        p for p in replicate_local_deps() if _spec_name(p) not in declared_names
    ]
    return inherited + declared


def load_environments(project_dir: str | Path) -> dict[str, _ScriptRunner]:
    """Parse fal_project.yml's ``environments:`` list → name → env. An
    absent file (the common case) yields no environments; every script
    then runs in-process exactly as before. ``replicate_deps: true`` on
    an entry merges the local interchange-stack pins (see
    replicate_local_deps) under the declared requirements."""
    path = Path(project_dir) / "fal_project.yml"
    if not path.exists():
        return {}
    doc = yaml.safe_load(path.read_text()) or {}
    out: dict[str, _ScriptRunner] = {}
    for env in doc.get("environments", []):
        etype = env.get("type", "venv")
        replicate = bool(env.get("replicate_deps", False))
        if etype == "venv":
            reqs = list(env.get("requirements", []))
            out[env["name"]] = VirtualEnvironment(
                name=env["name"],
                requirements=_merge_replicated(reqs) if replicate else reqs,
                base_dir=Path(project_dir) / ".fal_envs",
            )
        elif etype == "conda":
            # the reference's conda config key is `packages`; accept
            # `requirements` too for symmetry with venv declarations
            pkgs = list(env.get("packages", env.get("requirements", [])))
            if replicate:
                # conda accepts pip-style == pins; path installs are a
                # pip concept and are dropped for conda declarations
                pkgs = [p for p in _merge_replicated(pkgs) if _spec_name(p)]
            out[env["name"]] = CondaEnvironment(
                name=env["name"],
                packages=pkgs,
                base_dir=Path(project_dir) / ".fal_envs",
            )
        elif etype == "remote" or env.get("host") is not None:
            # D10 interface stub (reference: adapter.py:68-149 routes an
            # environment with a FalServerlessHost + machine_type to the
            # serverless backend): the declaration PARSES — an existing
            # fal_project.yml with a cloud environment still loads — but
            # any execution raises the documented out-of-scope error.
            out[env["name"]] = CloudEnvironment(
                name=env["name"],
                host=str(env.get("host", "")),
                machine_type=str(env.get("machine_type", "")),
            )
        else:
            raise ValueError(
                f"environment {env.get('name')!r}: type {etype!r} not supported "
                "(supported: 'venv', 'conda'; 'remote' declarations parse but "
                "execution is out of scope — SURVEY §2 D10)"
            )
    return out


@dataclass
class CloudEnvironment(_ScriptRunner):
    """D10 cloud execution — INTERFACE STUB ONLY (out of scope per the
    build brief: the Spark cluster is this engine's scale-out; there is
    no serverless-vendor backend to submit to). The reference ships the
    real thing in ``adapter.py:68-149`` — an ``@isolated`` function
    dispatched to a FalServerlessHost with a machine_type, local scripts
    zipped along. Declaring ``type: remote`` in fal_project.yml parses,
    so projects migrating from the reference load cleanly; the first
    attempt to RUN in the environment raises this documented error."""

    name: str
    host: str = ""
    machine_type: str = ""

    _MSG = (
        "environment {name!r} declares cloud execution (host={host!r}, "
        "machine_type={machine!r}) — out of scope for dbt_fal_spark: this "
        "engine scales out through the Spark cluster itself (size the "
        "cluster / use spark.archives for env shipping), not through a "
        "serverless vendor. Use a 'venv' or 'conda' environment for "
        "isolated local execution (SURVEY §2 D8-D10)."
    )

    def ensure(self) -> Path:
        # every run builds its environment first, so this refuses them all
        raise NotImplementedError(
            self._MSG.format(name=self.name, host=self.host, machine=self.machine_type)
        )
