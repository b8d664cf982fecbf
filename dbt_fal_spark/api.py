"""FalSpark — the programmatic API (the reference's ``FalDbt``).

Every method mirrors a reference entry point (reference: projects/
adapter/src/fal/dbt/integration/project.py:447-887) but returns lazy
PySpark DataFrames instead of driver-memory pandas — the single biggest
scalability fix over the reference, which materializes whole relations
into RAM on every ``ref`` (project.py:696-715).

    fal = FalSpark(project_dir, spark=spark)
    fal.run(select="orders_daily+")          # fal flow run
    df = fal.ref("orders_daily")             # lazy DataFrame
    fal.write_to_model(df2, "audit", mode="append")
    fal.execute_sql("SELECT * FROM {{ ref('customers') }} LIMIT 10")

User Python (before/after scripts, pre/post hooks, global scripts and
Python models — reference: FalScript.exec, fal_script.py:258-299) has
one path: ``FalSpark._globals`` builds the namespace, ``_exec_user_code``
is the one in-process ``exec``, a model with ``meta.fal.environment``
hands its code to that environment's one child runner instead
(``environments.py``), and ``FalSpark._side_tasks`` lists one side of a
model's scripts and hooks for both ``run`` and ``run_scripts``.

A model's table has one write, ``FalSpark._materialize``: seeds, SQL
tables, an incremental model's first build and full refresh, Python
models, ``write_to_model`` overwrites and ``teleport_import`` all commit
the model's alias table in its declared layout (``DbtModel.layout``);
only an incremental run on an existing table merges instead. That layout
is the model's one config, resolved at load: schema.yml ``config:`` with
the model file's own ``config()`` on top.

A run has one record. ``run`` and ``snapshot`` hand one task group per
node to ``plans/schedule.parallel_executor``; a task fails by raising,
each node ends ``success``, ``error`` or ``skipped`` (dbt's words), and a
failed node's traceback is kept in ``FalSpark.errors`` and written as
its ``message`` in ``run_results.json``. ``FalSpark.__init__`` is the one
reader of that artifact; ``run`` replaces what it read.
"""

from __future__ import annotations

import ast
import json
import logging
import os
import re
import tempfile
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from dbt_fal_spark.materialize import (
    apply_dtype_casts,
    attach_live_table,
    compact_table,
    incremental_merge,
    replace_relation_atomic,
    snapshot_scd2,
    table_exists,
    vacuum_table,
    write_table,
)
from dbt_fal_spark.plans.node_graph import NodeGraph
from dbt_fal_spark.plans.schedule import Scheduler, TaskGroup, parallel_executor
from dbt_fal_spark.plans.selectors import Selector, SelectorError, model_checksums, select_nodes
from dbt_fal_spark.project.jinja import render_model_sql
from dbt_fal_spark.environments import CloudEnvironment, load_environments, user_code
from dbt_fal_spark.project.loader import load_profile, load_project
from dbt_fal_spark.project.manifest import DbtModel, DbtSnapshot, DbtTest
from dbt_fal_spark.session import get_spark

# `--debug` CLI flag opens this logger up (reference: args.py:205-276);
# default WARNING keeps programmatic use silent
log = logging.getLogger("dbt_fal_spark")


# --- script/hook context (reference: fal_script.py:86-153 Context) ---

@dataclass
class CurrentAdapterResponse:
    """Reference: fal_script.py:87-91 — what the warehouse adapter
    reported for the model's materialization."""

    message: str
    code: str | None
    rows_affected: int | None


@dataclass
class CurrentModel:
    name: str
    alias: str
    status: str
    columns: dict
    tests: list
    meta: dict
    # reference fal_script.py:94-102: incremental-aware post-hooks read
    # these two off context.current_model
    is_incremental: bool = False
    adapter_response: CurrentAdapterResponse | None = None


@dataclass
class Context:
    current_model: CurrentModel | None
    config: dict = field(default_factory=dict)
    arguments: dict = field(default_factory=dict)
    # active profiles.yml target name (reference: parse.py:59-98), None
    # when the project has no profiles.yml
    target: str | None = None


def _model_bound_write(fal: "FalSpark", model: "DbtModel"):
    """write_to_model bound to ONE model, the reference's
    ``functools.partial(write_to_model, target_1=model.name)``
    (fal_script.py): a positional target re-binds target_1 and raises
    TypeError there — mirror that loudly instead of silently ignoring
    it. ``target_2=`` is deliberately REJECTED here: the
    reference's partial happens to let it slip through and silently
    redirect the write to a different model — an accidental hole, not a
    contract — so this binding raises TypeError on it too (documented
    deviation). ``.called`` turns True once a write has succeeded: a
    fal-style Python model must have written itself."""

    def _write(df, *_a, **kw):
        if _a:
            raise TypeError(
                f"write_to_model bound to model {model.name!r} got multiple "
                f"values for target_1 ({_a!r}) — it writes to its own model; "
                "call it as write_to_model(data)"
            )
        if "target_1" in kw or "target_2" in kw:
            # the reference's partial happens to let target_2= slip
            # through to a DIFFERENT model — an accidental hole, not a
            # contract; a bound write redirecting silently is the exact
            # bug the positional guard exists to stop
            raise TypeError(
                f"write_to_model bound to model {model.name!r} takes no "
                "target_1/target_2 — it writes to its own model"
            )
        kw.setdefault("mode", "overwrite")
        fal.write_to_model(df, model.name, **kw)
        _write.called = True

    _write.called = False
    return _write


def _to_pandas(fn):
    """``fn`` with its DataFrame result pulled to the driver as pandas."""
    return lambda *a, **kw: fn(*a, **kw).toPandas()


def _exec_user_code(path: Path, namespace: dict) -> dict:
    """Run the script or Python model at ``path`` in ``namespace`` as the
    ``__main__`` module (reference: main_module.feature — ``if __name__ ==
    "__main__":`` blocks run); a notebook runs its code cells. Returns the
    namespace."""
    namespace.update(__name__="__main__", __file__=str(path))
    exec(compile(user_code(path), str(path), "exec"), namespace)
    return namespace


def _test_threshold(count: int, expr: str) -> bool:
    """Evaluate a dbt warn_if/error_if threshold expression ("!=0",
    ">10", ">= 5") against a failure count. dbt splices the expression
    into SQL (`count(*) {expr}`); the grammar is operator + integer, so
    a tiny parser keeps it off any eval path."""
    m = re.fullmatch(r"\s*(!=|==|>=|<=|>|<|=)\s*(-?\d+)\s*", expr or "!=0")
    if not m:
        raise ValueError(f"unsupported test threshold expression {expr!r}")
    op, n = m.group(1), int(m.group(2))
    return {
        "!=": count != n,
        "==": count == n,
        "=": count == n,
        ">=": count >= n,
        "<=": count <= n,
        ">": count > n,
        "<": count < n,
    }[op]


class FalSpark:
    def __init__(
        self,
        project_dir: str | Path,
        spark: SparkSession | None = None,
        vars: dict[str, Any] | None = None,
        schema: str | None = None,
        target: str | None = None,
        state_path: str | Path | None = None,
        defer: bool = False,
        profiles_dir: str | Path | None = None,
    ) -> None:
        self.project_dir = Path(project_dir)
        # --state PATH: external artifact dir for state: selectors and
        # --defer (reference: args.py:69-75,104). Defaults to this
        # project's own target/ (the last local run).
        self.state_path = Path(state_path) if state_path else None
        self.defer = defer
        self._run_selected: set[str] | None = None  # short names, during run()
        self._full_refresh = False  # dbt --full-refresh, during run()
        # profiles.yml-lite: the active target supplies schema, warehouse
        # location, thread default and per-target Spark conf (reference:
        # parse.py:59-98 + load_db_profile.py:40-60); absent profiles.yml
        # everything keeps its project-derived defaults.
        profile = load_profile(project_dir, target=target, profiles_dir=profiles_dir) or {}
        self.target_name: str | None = profile.get("target")
        self.threads: int = int(profile.get("threads", 4))
        self._warehouse_dir: Path | None = (
            Path(profile["warehouse_dir"]) if profile.get("warehouse_dir") else None
        )
        # FAIR scheduling: the executor runs independent DAG branches
        # concurrently from threads; FAIR pools keep a wide model from
        # starving its siblings. (Single-query sessions default to FIFO —
        # see session.py.)
        if spark is None:
            spark = get_spark(
                **{"spark.scheduler.mode": "FAIR", **profile.get("spark_conf", {})}
            )
        else:
            # caller-provided session: apply only runtime-settable conf
            for k, v in profile.get("spark_conf", {}).items():
                try:
                    spark.conf.set(k, str(v))
                except Exception:
                    pass  # static conf on a live session — profile is advisory
        self.spark = spark
        self.manifest = load_project(project_dir, vars=vars)
        self.graph = NodeGraph.from_manifest(self.manifest)
        self.schema = (
            schema or profile.get("schema") or self.manifest.project_name.replace("-", "_")
        )
        if self._warehouse_dir is not None:
            # per-target warehouse: pin the database location explicitly so
            # dev/prod targets write to disjoint directories even within one
            # Spark session (spark.sql.warehouse.dir is static per session)
            loc = (self._warehouse_dir / f"{self.schema}.db").resolve()
            self.spark.sql(
                f"CREATE DATABASE IF NOT EXISTS `{self.schema}` LOCATION '{loc}'"
            )
        else:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{self.schema}`")
        self._view_models: set[str] = set()  # model names materialized as views
        # per-model adapter response from the LAST materialization
        # (reference: model.adapter_response → Context.current_model)
        self._adapter_responses: dict[str, CurrentAdapterResponse] = {}
        self.target_dir = self.project_dir / "target"
        # the last run's {unique_id: status}, read from a prior run's
        # target/run_results.json here (the one reader) and replaced by
        # run(); None before any run, {} for an unreadable artifact. It
        # pre-populates model.status (reference: project.py:406-411 maps
        # run_results onto each node's .status at load) so list_models()
        # and scripts see the previous outcome before anything executes.
        self._last_run: dict[str, str] | None = None
        rr = self.target_dir / "run_results.json"
        if rr.is_file():
            try:
                results = json.loads(rr.read_text()).get("results", [])
                self._last_run = {r.get("unique_id"): r["status"] for r in results if r.get("status")}
            except Exception as exc:
                # no node counts as run: `fal run` then selects nothing
                log.warning("ignoring unreadable %s: %s", rr, exc)
                self._last_run = {}
        for uid, status in (self._last_run or {}).items():
            if uid in self.manifest.models:
                self.manifest.models[uid].status = status
        # {unique_id: traceback} of the nodes the last run() or snapshot()
        # saw fail
        self.errors: dict[str, str] = {}
        # sources.json freshness artifact attaches at LOAD (reference:
        # project.py:415-421 hands each DbtSource its artifact row), so
        # list_sources() consumers see the prior run's freshness without
        # recomputing; the freshness COMMAND itself always recomputes
        # (dbt semantics — see cli.py).
        for uid, art in self._load_sources_artifact().items():
            src = self.manifest.sources.get(uid)
            if src is not None:
                src.freshness_result = art
        self.environments = load_environments(self.project_dir)
        if profile.get("key_secret") and profile.get("key_id"):
            # reference semantics (utils/environments.py:157-166): cloud
            # execution is triggered by CREDENTIALS — key_id/key_secret on
            # the profile wrap EVERY declared environment in a serverless
            # host, regardless of fal_project.yml. Out of scope here
            # (D10): wrap them in the documented stub so execution fails
            # loudly instead of silently running locally.
            self.environments = {
                name: CloudEnvironment(
                    name=name,
                    host=str(profile.get("host", "")),
                    machine_type=str(profile.get("machine_type", "S")),
                )
                for name in self.environments
            }
        self._reattach_catalog()

    def _reattach_catalog(self) -> None:
        """Re-register persisted tables after a process restart.

        Spark's default in-memory catalog forgets table registrations when
        the session ends, but the data stays under spark-warehouse/<schema>.db/.
        The reference relies on the warehouse being durable between CLI
        invocations (`fal run` reads the previous `dbt run`'s tables —
        reference: fal_runner.py:34-76); mirror that by attaching each
        model's live version dir on disk as an external parquet table
        (``attach_live_table``, which also recovers a partitioned table's
        partitions).
        View/ephemeral models are re-created lazily on first reference
        (see ``_identifier``) — dbt semantics, where a view is just stored
        SQL."""
        db_dir = self._warehouse_path() / f"{self.schema}.db"
        for model in self.manifest.models.values():
            if model.materialization in ("view", "ephemeral"):
                continue
            attach_live_table(self.spark, f"{self.schema}.{model.target_name}", db_dir)

    def _warehouse_path(self) -> Path:
        """The warehouse this FalSpark writes into: the profile target's
        ``warehouse_dir``, else the session's ``spark.sql.warehouse.dir``."""
        if self._warehouse_dir is not None:
            return self._warehouse_dir
        return Path(
            self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
        )

    # ------------------------------------------------------------------
    # relation resolution
    # ------------------------------------------------------------------

    def _identifier(self, model_name: str) -> str:
        view = f"{self.schema}__{model_name}"
        if model_name in self._view_models:
            return view
        model = self._model(model_name)
        if model is not None and model.materialization in ("view", "ephemeral"):
            # a view is stored SQL — re-derive it on first reference in
            # this process (dbt semantics; upstream views chain lazily
            # through the ref-resolution this render performs)
            self._view_models.add(model_name)
            self.spark.sql(self._render(model.raw_sql, this_name=view)).createOrReplaceTempView(view)
            return view
        physical = model.target_name if model is not None else model_name
        ident = f"{self.schema}.{physical}"
        if self.defer and not self._selected_this_run(model_name) and not table_exists(self.spark, ident):
            deferred = self._deferred_identifier(physical)
            if deferred is not None:
                return deferred
        return ident

    def _selected_this_run(self, model_name: str) -> bool:
        """Is this model being (re)built by the current run()? Outside a
        run everything counts as selected (defer only redirects refs FROM
        selected nodes TO unselected upstreams — dbt semantics)."""
        if self._run_selected is None:
            return True
        return model_name in self._run_selected

    def _deferred_identifier(self, physical_name: str) -> str | None:
        """--defer: resolve an unselected, locally-absent upstream against
        the state environment's warehouse (reference: args.py:104 defers to
        the manifest at --state; here state_meta.json records the schema +
        warehouse the artifacts were built into). Takes the PHYSICAL
        (alias-resolved) name: an aliased upstream was materialized in the
        state warehouse under its alias, not its model name. The table is
        attached at its LIVE version dir (every commit there writes a
        fresh ``<name>__v<uuid8>`` dir; see ``attach_live_table``)."""
        meta = self._load_state_meta()
        schema, wh = meta.get("schema"), meta.get("warehouse_dir")
        if not schema or not wh:
            return None
        ident = f"{schema}.{physical_name}"
        return ident if attach_live_table(self.spark, ident, Path(wh) / f"{schema}.db") else None

    def _model(self, name: str) -> DbtModel | None:
        """The model called ``name``, None when the project has none."""
        try:
            return self.manifest.model_by_name(name)
        except KeyError:
            return None

    def _relation(self, name: str) -> tuple[str, dict]:
        """The table model ``name`` writes, under its alias when it has one
        (a name that is no model: ``schema.name``), and its declared
        layout."""
        model = self._model(name)
        if model is None:
            return f"{self.schema}.{name}", {}
        return f"{self.schema}.{model.target_name}", model.layout

    def _materialize(self, name: str, df: DataFrame) -> int:
        """The one write of a model's table: ``df`` replaces it, in the
        model's declared layout. Returns the rows written."""
        identifier, layout = self._relation(name)
        # the one table commit creates a missing table too
        return replace_relation_atomic(self.spark, df, identifier, **layout)()

    def _render(self, sql: str, **kw) -> str:
        """Render Jinja SQL against this project: refs, sources, vars and
        macros (``kw``: this_name, is_incremental)."""
        rendered, _ = render_model_sql(
            sql,
            resolve_ref=self._identifier,
            resolve_source=self._resolve_source,
            vars=self.manifest.vars,
            macros=self.manifest.macros,
            **kw,
        )
        return rendered

    def _record(self, model: DbtModel, code: str, n: int | None) -> None:
        """Keep what the model's write reported (dbt's adapter_response)."""
        self._adapter_responses[model.name] = CurrentAdapterResponse(
            message=code if n is None else f"{code} {n}", code=code, rows_affected=n
        )

    def _environment(self, model: DbtModel, name: str):
        """The fal_project.yml environment ``name`` that ``model`` (or
        its hook) runs in; a name the project does not define fails."""
        try:
            return self.environments[name]
        except KeyError:
            raise ValueError(
                f"model {model.name!r} wants environment {name!r} "
                "but fal_project.yml does not define it "
                f"(defined: {', '.join(sorted(self.environments)) or 'none'})"
            ) from None

    def _context(self, model: DbtModel | None, arguments: dict | None = None) -> Context:
        """The ``context`` user Python gets (reference: fal_script.py:
        86-153); ``current_model`` is None for a global script or a
        notebook. An isolated run gets it as JSON (``asdict``)."""
        current = None
        if model is not None:
            current = CurrentModel(
                name=model.name,
                alias=model.target_name,
                status=model.status,
                columns=model.columns,
                tests=model.tests,
                meta=model.meta,
                is_incremental=model.is_incremental,
                adapter_response=self._adapter_responses.get(model.name),
            )
        return Context(current_model=current, arguments=arguments or {}, target=self.target_name)

    def _globals(
        self,
        model: DbtModel | None,
        *,
        arguments: dict | None = None,
        pandas: bool = False,
        hook: bool = False,
    ) -> dict[str, Any]:
        """The globals every script, hook, global script, Python model
        and notebook (``magics.init_fal``) runs with (reference:
        FalScript.exec, fal_script.py:258-299). ``write_to_model`` is
        bound to ``model`` when there is one. ``pandas`` hands every read
        back as a pandas frame (the model's ``interop: pandas`` opt-in);
        otherwise reads are lazy DataFrames carrying ``.to_pandas()``.
        ``hook`` bans both writes: hooks observe model runs, writes belong
        in the model or an after script (reference: fal_script.py:284-296,
        run.feature 'Post hooks with write_to_model will fail')."""
        read = _to_pandas if pandas else (lambda fn: fn)

        def not_allowed(fn_name: str):
            def _raise(*_a, **_kw):
                raise RuntimeError(
                    f"{fn_name} is not allowed in hooks — hooks observe "
                    "model runs; move the write into the model or an "
                    "after script"
                )

            return _raise

        if hook:
            write_model, write_source = not_allowed("write_to_model"), not_allowed("write_to_source")
        else:
            write_model = self.write_to_model if model is None else _model_bound_write(self, model)
            write_source = self.write_to_source
        return {
            "context": self._context(model, arguments),
            "ref": read(self.ref),
            "source": read(self.source),
            "execute_sql": read(self.execute_sql),
            "write_to_model": write_model,
            "write_to_source": write_source,
            "list_models": self.list_models,
            "list_models_ids": self.list_models_ids,
            "list_sources": self.list_sources,
            "list_tests": self.list_tests,
            "list_features": self.list_features,
            "session": self.spark,
        }

    def _side_tasks(self, model: DbtModel, before: bool) -> list[_ScriptTask]:
        """One side of ``model``'s user Python, in run order: its before
        scripts then its pre-hooks, or its after scripts then its
        post-hooks."""
        return [_ScriptTask(self, model, script) for script in model.get_scripts(before=before)] + [
            _ScriptTask(self, model, h.path, h.arguments, environment=h.environment, is_hook=True)
            for h in model.get_hooks(pre=before)
        ]

    # URL schemes teleport/source paths accept verbatim (reference:
    # A/src/dbt/fal/adapters/teleport/info.py:32-73 builds local and
    # s3:// URLs). Spark's Hadoop layer binds S3 through the s3a
    # connector, so the reference's s3:// spelling is normalized to
    # s3a:// — everything else (gs://, abfss://, hdfs://, file://, and
    # s3a itself) passes through untouched. A scheme'd path is by
    # definition absolute: it must never be joined onto project_dir.
    _URL_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")

    @classmethod
    def _normalize_storage_url(cls, url: str) -> str | None:
        """The url with its scheme normalized for Spark, or None when
        ``url`` is a plain filesystem path (no scheme)."""
        if not cls._URL_SCHEME.match(url):
            return None
        if url.startswith("s3://"):
            return "s3a://" + url[len("s3://"):]
        return url

    def _resolve_path_or_url(self, raw: str) -> str:
        """$VAR-expand ``raw``, then: scheme'd URL → normalized
        passthrough; relative local path → anchored at project_dir."""
        path = self._expand_source_path(raw)
        url = self._normalize_storage_url(path)
        if url is not None:
            return url
        if not os.path.isabs(path):
            path = str(self.project_dir / path)
        return path

    @staticmethod
    def _expand_source_path(raw: str, strict: bool = True) -> str:
        """Expand $VARs in a declared source value (the reference allows
        env_var in source definitions — A/cli_tests/projects/000_fal_run/
        models/schema.yml:5-8). ``$$`` escapes a literal ``$`` (generated
        JDBC passwords and URLs legitimately contain one). With
        ``strict=True`` (paths and JDBC urls) a residual ``$`` fails
        fast with the variable name instead of handing Spark a literal
        ``$VAR``; non-url connection values (passwords, users) use
        ``strict=False`` — expansion is best-effort and a residual
        ``$`` passes through verbatim."""
        sentinel = "\x00"
        path = os.path.expandvars(raw.replace("$$", sentinel))
        if strict and "$" in path:
            unset = [tok for tok in re.findall(r"\$\{?(\w+)\}?", path)]
            raise ValueError(
                f"source path {raw!r} references unset environment "
                f"variable(s): {', '.join(sorted(set(unset)))} — export them "
                "before running (e.g. TESTDATA_DIR=/root/testdata/sf0.001), "
                "or escape a literal dollar as '$$'"
            )
        return path.replace(sentinel, "$")

    def _resolve_source(self, source_name: str, table_name: str) -> str:
        src = self.manifest.source_by_name(source_name, table_name)
        view = f"src__{source_name}__{table_name}"
        conn = (src.meta or {}).get("connection")
        if conn:
            # JDBC external source (read side of the reference's
            # per-warehouse externals — support/postgres.py:13-30 reads a
            # live relation through a DBAPI engine; here the on-ramp for a
            # migrating dbt-fal user with a live warehouse source is
            # spark.read.jdbc, which keeps the scan lazy and, when
            # partitionColumn/lowerBound/upperBound/numPartitions are
            # declared, parallel across executors instead of a single
            # driver-side pandas pull).
            # the url keeps fail-fast on unset $VARs (a wrong host fails
            # here with the variable named, not later with a cryptic
            # driver error) — a literal dollar is declared as '$$';
            # passwords/users are best-effort (generated secrets contain
            # '$' too often to police)
            url = self._expand_source_path(str(conn["url"]))
            reader = self.spark.read.format("jdbc").option("url", url)
            if "query" not in conn:  # query and dbtable are exclusive in JDBC
                reader = reader.option("dbtable", str(conn.get("dbtable") or table_name))
            for key in ("driver", "user", "password", "fetchsize", "query",
                        "partitionColumn", "lowerBound", "upperBound",
                        "numPartitions"):
                if key in conn:
                    reader = reader.option(
                        key, self._expand_source_path(str(conn[key]), strict=False)
                    )
            reader.load().createOrReplaceTempView(view)
            return view
        if src.path:
            path = self._resolve_path_or_url(str(src.path))
            reader = self.spark.read
            if src.format == "csv":
                df = reader.csv(path, header=True, inferSchema=True)
            else:
                nanos_cols = (src.meta or {}).get("nanos_cols", [])
                if nanos_cols:
                    # parquet TIMESTAMP(NANOS) has no Spark type: infer
                    # the schema (nanos as int64) in a throwaway session
                    # so the legacy conf never leaks into this one, then
                    # read with that explicit schema; truncate to µs below
                    probe = self.spark.newSession()
                    probe.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                    reader = reader.schema(probe.read.format(src.format).load(path).schema)
                df = reader.format(src.format).load(path)
                from pyspark.sql import functions as F

                for c in nanos_cols:
                    if dict(df.dtypes).get(c) == "bigint":
                        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
                # naive parquet timestamps → TIMESTAMP, mirroring
                # sources/readers.py (arbitrary driver sessions infer NTZ)
                for c, dtype in df.dtypes:
                    if dtype.startswith("timestamp_ntz"):
                        df = df.withColumn(c, F.col(c).cast("timestamp"))
            df.createOrReplaceTempView(view)
            return view
        return table_name  # pre-registered table/view

    # ------------------------------------------------------------------
    # reference API surface (reference: project.py:606-887)
    # ------------------------------------------------------------------

    @staticmethod
    def _with_pandas_alias(df: DataFrame) -> DataFrame:
        """Attach ``.to_pandas()`` (pandas-ecosystem spelling) alongside
        Spark's ``.toPandas()`` — THE documented migration boundary for
        code written against the reference, whose every read API returns
        a driver-memory pandas frame (reference: project.py:696-715).
        Here the pull to the driver is the user's explicit, visible
        choice; everything stays a lazy distributed plan until then."""
        df.to_pandas = df.toPandas
        return df

    def _to_spark(self, obj) -> DataFrame:
        """Accept a pandas DataFrame anywhere a relation is written —
        the return boundary of the pandas interop (reference Python
        models hand back pandas, project.py:757-853)."""
        if isinstance(obj, DataFrame):
            return obj
        import pandas as pd

        if isinstance(obj, pd.DataFrame):
            return self.spark.createDataFrame(obj)
        raise TypeError(
            f"expected a pyspark or pandas DataFrame, got {type(obj).__name__}"
        )

    def ref(self, target_1: str, target_2: str | None = None) -> DataFrame:
        name = target_2 or target_1  # (package, name) form
        return self._with_pandas_alias(self.spark.table(self._identifier(name)))

    def source(self, source_name: str, table_name: str) -> DataFrame:
        return self._with_pandas_alias(
            self.spark.table(self._resolve_source(source_name, table_name))
        )

    def execute_sql(self, sql: str) -> DataFrame:
        return self._with_pandas_alias(self.spark.sql(self._render(sql)))

    def write_to_model(
        self,
        df: DataFrame,
        target_1: str,
        target_2: str | None = None,
        *,
        dtype: dict[str, str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Eager write (reference: project.py:803-853; default overwrite).
        ``mode`` is ``"overwrite"`` or ``"append"``; anything else raises.
        Writes carry the target model's DECLARED layout (partition_by /
        bucket_by / sort_by) — a script overwrite must not flatten a
        bucketed/partitioned table — and appends are column-name-aligned
        before the positional insertInto (a reordered-column df would
        append values into the wrong columns). ``df`` may
        be a pandas DataFrame (the reference's currency) — converted at
        this boundary."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"write_to_model mode must be 'overwrite' or 'append', got {mode!r}")
        name = target_2 or target_1
        df = apply_dtype_casts(self._to_spark(df), dtype)
        if mode == "overwrite":
            self._materialize(name, df)
        else:  # aligns columns by name; the first append creates the table
            identifier, layout = self._relation(name)
            incremental_merge(self.spark, df, identifier, unique_key=None, strategy="append", **layout)
        model = self._model(name)
        if model is not None:
            model.status = "success"

    def write_to_source(
        self,
        df: DataFrame,
        source_name: str,
        table_name: str,
        *,
        dtype: dict[str, str] | None = None,
        mode: str = "append",
    ) -> None:
        """Eager write into a declared source (reference: project.py:757-801;
        default append). A JDBC external source is read-only unless its
        connection block declares ``writable: true`` — then the write
        goes through ``df.write.jdbc`` (reference write-back analogue:
        support/postgres.py:33-88 pushes a relation through the DBAPI
        engine; here the executors write in parallel, one connection per
        partition — cap with ``numPartitions`` so a 1000-executor job
        doesn't open 1000 connections against an operational database).
        ``df`` may be a pandas DataFrame — converted at this boundary."""
        df = self._to_spark(df)
        src = self.manifest.source_by_name(source_name, table_name)
        conn = (src.meta or {}).get("connection")
        if conn:
            if not conn.get("writable"):
                # read-only by default (the migration on-ramp): pushing a
                # curated table back into an operational warehouse is an
                # explicit opt-in, never a side effect of a source block
                raise NotImplementedError(
                    f"source {source_name}.{table_name} is a JDBC external "
                    "source declared read-only; set meta.connection."
                    "writable: true to enable JDBC write-back"
                )
            if mode not in ("append", "overwrite"):
                raise ValueError(
                    f"JDBC write-back supports mode append/overwrite, got {mode!r}"
                )
            df = apply_dtype_casts(df, dtype)
            url = self._expand_source_path(str(conn["url"]))  # fail-fast like reads
            writer = (
                df.write.format("jdbc")
                .option("url", url)
                .option("dbtable", str(conn.get("dbtable") or table_name))
                .mode(mode)
            )
            for key in ("driver", "user", "password", "batchsize", "truncate",
                        "numPartitions", "isolationLevel", "createTableOptions"):
                if key in conn:
                    writer = writer.option(
                        key, self._expand_source_path(str(conn[key]), strict=False)
                    )
            writer.save()
            return
        df = apply_dtype_casts(df, dtype)
        if src.path:
            writer = df.write.mode(mode).format(src.format)
            if src.format == "csv":  # the source reads CSV with header=True
                writer = writer.option("header", True)
            writer.save(self._resolve_path_or_url(str(src.path)))
        else:
            df.write.mode(mode).format("parquet").saveAsTable(table_name)

    def list_models(self) -> list[DbtModel]:
        return [m for m in self.manifest.models.values() if m.materialization != "seed"]

    def list_models_ids(self) -> dict[str, str]:
        return {m.unique_id: m.status for m in self.list_models()}

    def list_sources(self):
        return list(self.manifest.sources.values())

    def list_tests(self) -> list[DbtTest]:
        return list(self.manifest.tests.values())

    def list_features(self):
        return self.manifest.features()

    # property spellings — the reference exposes these as attributes too
    # (A/cli_tests/projects/002_jaffle_shop/fal_dbt.py iterates
    # faldbt.models / .sources / .tests), so migrating programmatic code
    # runs unchanged
    @property
    def models(self) -> list[DbtModel]:
        return self.list_models()

    @property
    def sources(self):
        return self.list_sources()

    @property
    def tests(self) -> list[DbtTest]:
        return self.list_tests()

    @property
    def features(self):
        return self.list_features()

    # ------------------------------------------------------------------
    # run (the reference's `fal flow run`)
    # ------------------------------------------------------------------

    def run(
        self,
        select: Selector = None,
        exclude: Selector = None,
        threads: int | None = None,
        full_refresh: bool = False,
        fail_fast: bool = False,
    ) -> dict[str, str]:
        # dbt --full-refresh: incremental models rebuild from scratch this
        # run (is_incremental() renders False; the table is overwritten)
        self._full_refresh = full_refresh
        threads = threads if threads is not None else self.threads
        selected = select_nodes(self.graph, select, exclude, state=self._load_state())
        # defer scope: refs from selected nodes to models NOT in this set
        # resolve against the state environment (when --defer is on)
        self._run_selected = {n.split(".")[-1] for n in selected}
        nodes = self.graph.sort_nodes()
        order = [n for n in nodes if n in selected]
        log.debug(
            "run: %d/%d nodes selected (select=%r exclude=%r threads=%d full_refresh=%s)",
            len(order), len(nodes), select, exclude, threads, full_refresh,
        )
        groups: dict[str, TaskGroup] = {}
        for node in order:
            model: DbtModel = self.graph.node_attr(node, "model")
            groups[node] = TaskGroup(
                group_id=node,
                task=_ModelTask(self, node),
                pre_hooks=self._side_tasks(model, True),
                post_hooks=self._side_tasks(model, False),
            )
        for node, group in groups.items():
            for dep in self.graph.graph.predecessors(node):
                if dep in groups:
                    group.dependencies.append(groups[dep])
        t0 = time.time()
        try:
            statuses = self._execute(list(groups.values()), threads, fail_fast)
        finally:
            self._run_selected = None
        for node, status in statuses.items():
            self.graph.node_attr(node, "model").status = status
        self._last_run = statuses
        self._write_run_results(statuses, time.time() - t0)
        self._write_state()
        return statuses

    def _execute(self, groups: list[TaskGroup], threads: int, fail_fast: bool = False) -> dict[str, str]:
        """Run ``groups`` on ``threads`` workers; returns {group_id:
        status} and leaves each failed group's traceback in ``errors``."""
        parallel_executor(Scheduler(groups), {}, threads=threads, fail_fast=fail_fast)
        self.errors = {g.group_id: g.error for g in groups if g.error}
        return {g.group_id: g.status for g in groups}

    def snapshot(self, select: Selector = None, as_of: str | None = None) -> dict[str, str]:
        """dbt snapshot: run every (or the selected) snapshot's select and
        SCD2-merge it into snapshot.<name> history tables
        (materialize.snapshot_scd2). ``as_of`` stamps check-strategy
        transitions (pass the run timestamp; timestamp-strategy snapshots
        take their boundaries from the source's own updated_at). Snapshots
        are selected by name: a selectors.yml dict, a ``method:`` word or
        a graph operator (``+``, ``@``, ``,``) is a ``SelectorError``.
        Each snapshot is one group on ``threads`` workers, so one failing
        snapshot leaves the others' results and its traceback in
        ``errors``."""
        wanted = None
        if select:
            if isinstance(select, dict):
                raise SelectorError(f"snapshots are selected by name, not by {select!r}")
            wanted = set(select.split() if isinstance(select, str) else select)
            bad = sorted(w for w in wanted if any(c in w for c in ":+@,"))
            if bad:
                raise SelectorError(f"snapshots are selected by name, not by {bad}")
        groups = [
            TaskGroup(group_id=snap.unique_id, task=_SnapshotTask(self, snap, as_of))
            for snap in self.manifest.snapshots.values()
            if wanted is None or snap.name in wanted
        ]
        return self._execute(groups, self.threads)

    def teleport_export(self, name: str, url: str) -> str:
        """Export a relation to interchange parquet at ``url`` (reference
        B6/B7: teleport write, fal_experimental/teleport.py:59-74 +
        teleport_to_external_storage — there a COPY dance per warehouse;
        here one distributed write, since parquet IS the native format).

        ``url`` takes either form the reference's TeleportInfo builds
        (A/src/dbt/fal/adapters/teleport/info.py:32-73): a local path
        (relative → anchored at project_dir) or an object-store /
        remote-fs URL — s3:// is normalized to Spark's s3a:// connector,
        gs://, abfss://, hdfs://, file:// pass through. $VARs expand
        with the same fail-fast contract as source paths, so a bucket
        name living in an env var works: ``s3://$DATA_BUCKET/exports``.
        Returns the resolved URL actually written (the executors write
        directly against the store; nothing routes through the driver)."""
        url = self._resolve_path_or_url(url)
        self.spark.table(self._identifier(name)).write.mode("overwrite").parquet(url)
        return url

    def teleport_import(self, url: str, name: str) -> None:
        """Import interchange parquet at ``url`` as a model table
        (reference: teleport read, teleport.py:43-56). Accepts the same
        local-path / object-store URL forms as ``teleport_export``."""
        self.write_to_model(self.spark.read.parquet(self._resolve_path_or_url(url)), name)

    def _load_state(self) -> dict[str, str]:
        """Prior name→checksum snapshot for ``state:new/modified`` selectors
        (reference: `--state PATH`, args.py:69-75,104 — an external artifact
        dir, e.g. the prod target/ in CI slim builds; default: this
        project's own target/, written by every run)."""
        base = self.state_path or self.target_dir
        path = base / "manifest_checksums.json" if base.is_dir() else base
        if path.exists():
            return json.loads(path.read_text())
        return {}

    def _load_state_meta(self) -> dict:
        """Environment descriptor of the state artifacts (schema +
        warehouse location) — what --defer resolves unselected refs
        against."""
        base = self.state_path or self.target_dir
        path = base / "state_meta.json"
        if path.exists():
            return json.loads(path.read_text())
        return {}

    def _write_state(self) -> None:
        self.target_dir.mkdir(exist_ok=True)
        (self.target_dir / "manifest_checksums.json").write_text(
            json.dumps(model_checksums(self.manifest), indent=1, sort_keys=True)
        )
        wh = str(self._warehouse_path().resolve())
        (self.target_dir / "state_meta.json").write_text(
            json.dumps({"schema": self.schema, "warehouse_dir": wh}, indent=1)
        )

    def _write_run_results(self, statuses: dict[str, str], elapsed: float) -> None:
        """dbt-format-ish run_results.json (reference: flow_runner.py:86-133):
        per node its status, adapter response and ``message``, the
        traceback of its failure or null."""
        self.target_dir.mkdir(exist_ok=True)
        payload = {
            "elapsed_time": elapsed,
            "results": [
                {
                    "unique_id": uid,
                    "status": status,
                    "adapter_response": self._adapter_response_json(uid, status),
                    "message": self.errors.get(uid),
                }
                for uid, status in sorted(statuses.items())
            ],
        }
        with open(self.target_dir / "run_results.json", "w") as f:
            json.dump(payload, f, indent=2, default=str)

    def _adapter_response_json(self, uid: str, status: str) -> dict:
        """dbt's per-node ``adapter_response``: what the node's write
        reported this run; empty when the node did not succeed."""
        model = self.manifest.models.get(uid)
        resp = self._adapter_responses.get(model.name) if model is not None else None
        if status != "success" or resp is None:
            return {}
        return {"_message": resp.message, "code": resp.code, "rows_affected": resp.rows_affected}

    def generate_docs(self) -> Path:
        """dbt ``docs generate``-style catalog artifact: per-materialized-
        model column names/types plus row and byte statistics, written to
        ``target/catalog.json``. Stats come from the catalog/files, not a
        table scan (`ANALYZE`-free: row counts use parquet footer metadata
        via a count() on the scan, which Spark answers from footers)."""
        self.target_dir.mkdir(exist_ok=True)
        nodes: dict[str, dict] = {}
        for model in self.manifest.models.values():
            identifier = f"{self.schema}.{model.target_name}"
            if model.materialization in ("view", "ephemeral"):
                continue
            if not table_exists(self.spark, identifier):
                continue
            df = self.spark.table(identifier)
            nodes[model.unique_id] = {
                "metadata": {
                    "schema": self.schema,
                    "name": model.name,
                    "type": model.materialization,
                },
                "columns": {
                    f.name: {"type": f.dataType.simpleString(), "index": i}
                    for i, f in enumerate(df.schema.fields)
                },
                "stats": {"row_count": df.count()},
            }
        out = self.target_dir / "catalog.json"
        with open(out, "w") as f:
            json.dump({"nodes": nodes}, f, indent=2, default=str)
        return out

    # ------------------------------------------------------------------
    # tests + freshness
    # ------------------------------------------------------------------

    def run_scripts(
        self,
        select: Selector = None,
        exclude: Selector = None,
        *,
        use_last_run: bool = True,
        only_scripts: list[str] | None = None,
        before: bool | None = None,
        include_globals: bool | None = None,
    ) -> list[str]:
        """Post-run scripts mode (reference: `fal run`, fal_runner.py:34-76 +
        model filter :144-174): run scripts and hooks around models selected
        from the last run_results.json (or all models with
        ``use_last_run=False``, the reference's ``--all``). ``before``
        scopes which side runs — True = BEFORE scripts/pre-hooks only (the
        reference's `fal run --before`), False = AFTER/post only (the
        reference's plain `fal run`), None = both (API convenience). A
        model's tasks run in `flow run` order: before scripts, pre-hooks,
        after scripts, post-hooks (``_side_tasks``).

        GLOBAL scripts (schema.yml top-level ``fal:`` block) run once per
        invocation — before everything on the BEFORE side, after
        everything on the AFTER side — with the reference's gating
        (fal_runner.py:66-77): they run when no selection and no script
        filter was passed, or when forced with ``include_globals=True``
        (the reference's ``--globals`` flag)."""
        run_globals = (
            include_globals
            if include_globals is not None
            else (not select and not only_scripts)
        )
        ran: list[str] = []
        sides = (True, False) if before is None else (before,)

        def run_global_scripts(side: bool) -> None:
            # reference fal_runner.py:129-137: a --scripts filter applies
            # to global scripts too — `fal run --scripts x.py --globals`
            # runs only global scripts named in the filter
            if not run_globals or side not in sides:
                return
            key = "before" if side else "after"
            for script in self.manifest.global_scripts[key]:
                if not only_scripts or script in only_scripts:
                    _ScriptTask(self, None, script).execute({})
                    ran.append(f"script.GLOBAL.{key.upper()}.{script}")

        run_global_scripts(True)
        selected = select_nodes(self.graph, select, exclude, state=self._load_state())
        if use_last_run and self._last_run is not None:
            selected &= {uid for uid, status in self._last_run.items() if status == "success"}
        for node in self.graph.sort_nodes():
            if node not in selected:
                continue
            model: DbtModel = self.graph.node_attr(node, "model")
            for side in sides:
                for task in self._side_tasks(model, side):
                    if only_scripts and task.script not in only_scripts:
                        continue
                    task.execute({})
                    if task.is_hook:
                        label = f"hook.{model.name}.{'PRE' if side else 'POST'}"
                    else:
                        label = f"script.{model.name}.{'BEFORE' if side else 'AFTER'}"
                    ran.append(f"{label}.{task.script}")
        run_global_scripts(False)
        return ran

    def test(self, select: Selector = None, exclude: Selector = None) -> list[dict]:
        """Generic + singular tests → violation counts
        (reference behavior: dbt test; SURVEY §2.G generic tests row).
        ``select`` scopes to tests whose owning model matches the
        selection (dbt semantics: selecting a model selects its tests),
        and ``exclude`` drops the tests of the models it matches;
        source-owned and singular tests run only without ``select``.
        Tests run on ``threads`` workers, as dbt runs them on the run's
        thread pool; results come back in manifest order."""
        from concurrent.futures import ThreadPoolExecutor

        tests = list(self.manifest.tests.values())
        if select or exclude:
            keep = select_nodes(self.graph, select, exclude, state=self._load_state())
            tests = [
                t for t in tests
                if t.model_id in keep or (not select and t.model_id not in self.graph.graph)
            ]
        if any(t.store_failures for t in tests):
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{self.schema}_dbt_test__audit`")
        with ThreadPoolExecutor(max_workers=max(1, self.threads)) as pool:
            return list(pool.map(self._run_test, tests))

    def _run_test(self, t: DbtTest) -> dict:
        """One test's status and violation count (sets ``t.status``)."""
        from pyspark.sql import functions as F

        try:
            if t.test_type == "singular":
                fail_df = self.spark.sql(self._render(t.raw_sql))
                if t.where:
                    # dbt `where` config on a singular test: the
                    # violation set is the filtered subset — same
                    # relation algebra as the generic-test branch below
                    fail_df = fail_df.filter(t.where)
            else:
                owner = t.model_id or ""
                if owner.startswith("source."):
                    _, _, sname, tname = owner.split(".", 3)
                    df = self.source(sname, tname)
                else:
                    df = self.ref(owner.split(".")[-1])
                if t.where:
                    # dbt `where` config: the tested relation is the
                    # filtered subset (compiled as a subquery there;
                    # a DataFrame filter is the same relation algebra)
                    df = df.filter(t.where)
                col = F.col(t.column)
                if t.test_type == "not_null":
                    fail_df = df.filter(col.isNull())
                elif t.test_type == "unique":
                    fail_df = df.groupBy(col).count().filter(F.col("count") > 1)
                elif t.test_type == "accepted_values":
                    # dbt semantics: the compiled test is
                    # `WHERE value_field NOT IN (...)` — a NULL row
                    # evaluates to NULL there and is NOT a violation
                    # (NULL-checking is not_null's job), so models with
                    # legal NULLs pass here as they pass under dbt.
                    allowed = t.params.get("values", [])
                    fail_df = df.filter(~col.isin(allowed))
                elif t.test_type == "relationships":
                    to_field = t.params["field"]
                    parent = self._relation_named(t.params["to"])
                    parent = parent.select(F.col(to_field).alias("__k")).distinct()
                    fail_df = df.filter(col.isNotNull()).join(
                        parent, col == F.col("__k"), "left_anti"
                    )
                else:
                    raise ValueError(f"unknown test type {t.test_type}")
            if t.limit is not None:
                # dbt `limit` config caps the failure SELECT — both
                # the reported count and the stored rows see the cap
                fail_df = fail_df.limit(t.limit)
            if t.store_failures:
                # dbt convention: failing rows land in the audit
                # schema <schema>_dbt_test__audit.<test_name> (created
                # by test()), overwritten per run. Count the rows the
                # write itself wrote: a separate count would run the
                # whole pipeline twice, and under limit() the two jobs
                # could even select different rows.
                violations = write_table(fail_df, f"{self.schema}_dbt_test__audit.{t.name}")()
            else:
                violations = fail_df.count()
            # dbt status resolution: severity=error checks error_if
            # first (warn_if as the fallback tier); severity=warn
            # only ever warns. Threshold expressions ("!=0", ">10")
            # evaluate against the failure count.
            if t.severity == "warn":
                t.status = "warn" if _test_threshold(violations, t.warn_if) else "tested"
            elif _test_threshold(violations, t.error_if):
                t.status = "error"
            elif _test_threshold(violations, t.warn_if):
                t.status = "warn"
            else:
                t.status = "tested"
            return {
                "test": t.name,
                "status": t.status,
                "violations": violations,
                "severity": t.severity,
            }
        except Exception as e:
            t.status = "error"
            return {"test": t.name, "status": "error", "error": str(e)}

    def _relation_named(self, to: str) -> DataFrame:
        """The relation a ``relationships`` test's ``to:`` names: a bare
        model name, ``ref('m')`` / ``ref('package', 'm')`` in either quote
        style, or ``source('s', 't')``."""
        call = re.fullmatch(r"\s*(\w+)\s*\((.*)\)\s*", to, re.S)
        if call is None:
            return self.ref(to.strip())
        fn, arglist = call.groups()
        try:
            args = ast.literal_eval(f"({arglist},)")
        except (SyntaxError, ValueError):
            args = ()
        if not (args and all(isinstance(a, str) for a in args)):
            raise ValueError(f"relationships 'to': cannot parse arguments of {to!r}")
        if fn == "ref" and len(args) <= 2:
            return self.ref(args[-1])
        if fn == "source" and len(args) == 2:
            return self.source(*args)
        raise ValueError(
            f"relationships 'to' must be a model name, ref(...) or source(...), got {to!r}"
        )

    def _load_sources_artifact(self) -> dict[str, dict]:
        """Parse a dbt ``target/sources.json`` freshness artifact
        (FreshnessExecutionResultArtifact; reference: parse.py:161-173
        reads it, project.py:415-421 attaches rows to DbtSource) into
        {unique_id: result}. Missing/unreadable → {} — the reference
        logs a warning and proceeds without it; freshness then
        recomputes live."""
        path = self.target_dir / "sources.json"
        if not path.is_file():
            return {}
        try:
            doc = json.loads(path.read_text())
            # rows without a status are unusable downstream: the
            # `freshness` property contract promises `.status` on every
            # attached result (reference scripts do
            # `node.freshness.status`), and source_freshness() already
            # refuses to reuse status-less rows — filter them here so
            # load-time attach and command-time reuse agree
            return {
                r["unique_id"]: r
                for r in doc.get("results", [])
                if "unique_id" in r and r.get("status") is not None
            }
        except Exception:
            return {}

    def source_freshness(self, recompute: bool = False) -> list[dict]:
        """Source freshness (reference A7): a prior run's
        ``target/sources.json`` artifact is ingested when present —
        pointing the tool at an existing dbt ``target/`` dir reuses its
        results, exactly like the reference. Sources without an artifact
        row (or with ``recompute=True``) are computed live:
        max(loaded_at) age against the warn/error thresholds. The CLI
        ``source freshness`` verb persists results via
        ``_write_sources_artifact`` (dbt writes the artifact from the
        freshness COMMAND, not from an API read — this method stays
        side-effect-free on disk)."""
        from pyspark.sql import functions as F

        artifact = {} if recompute else self._load_sources_artifact()
        out = []
        for src in self.manifest.sources.values():
            if not src.loaded_at_field:
                if recompute:
                    # an unevaluable source must not keep re-persisting a
                    # load-attached artifact row forever
                    src.freshness_result = None
                continue
            art = artifact.get(src.unique_id)
            if art is not None and art.get("status") is not None:
                src.freshness_result = art
                out.append(
                    {
                        "source": src.full_name,
                        "max_loaded_at": str(art.get("max_loaded_at")),
                        "age_sec": art.get("max_loaded_at_time_ago_in_s"),
                        "status": art["status"],
                        "from_artifact": True,
                    }
                )
                continue
            df = self.source(src.source_name, src.table_name)
            # cast like dbt's freshness macro does: a DATE loaded_at
            # must subtract cleanly from current_timestamp()
            row = df.agg(
                F.max(F.col(src.loaded_at_field).cast("timestamp")).alias(
                    "max_loaded_at"
                ),
                F.current_timestamp().alias("now"),
            ).collect()[0]
            if row["max_loaded_at"] is None:
                # empty table / all-NULL loaded_at: dbt reports the
                # source as 'runtime error' instead of crashing the
                # whole freshness run
                src.freshness_result = {
                    "unique_id": src.unique_id,
                    "max_loaded_at": None,
                    "snapshotted_at": str(row["now"]),
                    "max_loaded_at_time_ago_in_s": None,
                    "status": "runtime error",
                    "criteria": src.freshness_spec or {},
                }
                out.append(
                    {
                        "source": src.full_name,
                        "max_loaded_at": None,
                        "age_sec": None,
                        "status": "runtime error",
                    }
                )
                continue
            age_sec = (row["now"] - row["max_loaded_at"]).total_seconds()
            status = "pass"
            for level in ("warn", "error"):
                spec = (src.freshness_spec or {}).get(f"{level}_after") or {}
                if spec:
                    period_sec = {"minute": 60, "hour": 3600, "day": 86400}[spec["period"]] * spec["count"]
                    if age_sec > period_sec:
                        status = level
            src.freshness_result = {
                "unique_id": src.unique_id,
                "max_loaded_at": str(row["max_loaded_at"]),
                "snapshotted_at": str(row["now"]),
                "max_loaded_at_time_ago_in_s": age_sec,
                "status": status,
                "criteria": src.freshness_spec or {},
            }
            out.append(
                {
                    "source": src.full_name,
                    "max_loaded_at": str(row["max_loaded_at"]),
                    "age_sec": age_sec,
                    "status": status,
                }
            )
        return out

    def _write_sources_artifact(self) -> None:
        """Persist freshness results as dbt's sources.json artifact
        shape (metadata + results[]), mirroring `dbt source freshness`."""
        self.target_dir.mkdir(exist_ok=True)
        results = [
            src.freshness_result
            for src in self.manifest.sources.values()
            if src.freshness_result is not None
        ]
        (self.target_dir / "sources.json").write_text(
            json.dumps(
                {
                    "metadata": {
                        "dbt_schema_version": "https://schemas.getdbt.com/dbt/sources/v3.json",
                        "generated_by": "dbt_fal_spark",
                    },
                    "results": results,
                },
                indent=1,
                default=str,
            )
        )

    # ------------------------------------------------------------------
    # table maintenance (Spark-native additions the reference delegated
    # to warehouses: Snowflake/BigQuery compact and ANALYZE implicitly;
    # a parquet-backed lakehouse must do both explicitly at 100 TB)
    # ------------------------------------------------------------------

    def compact(self, model_name: str, target_partitions: int | None = None) -> int:
        """Rewrite a materialized model's files to heal small-file
        fragmentation (incremental appends create one file set per
        batch; thousands of tiny files throttle every downstream scan
        with per-file open/footer costs). The table is read, coalesced
        to ``target_partitions`` (default: executor parallelism), and
        committed as a new version like any model rebuild — safe against
        concurrent readers of the old files, partitioned tables included.
        Returns the partition count written.

        Concurrent REBUILDS are handled optimistically: the live
        version is captured before the read, and the swap commits only
        if it is unchanged — otherwise ConcurrentRebuildError aborts the
        compaction (the rebuild's fresh data wins; re-run compact). The
        check-then-flip is atomic under the per-table commit lock shared
        with every rebuild's swap (see materialize.compact_table)."""
        self._require_table_model(model_name, "compact")
        model = self._model(model_name)
        return compact_table(
            self.spark,
            self._identifier(model_name),
            target_partitions,
            **model.layout,
        )

    def vacuum(self, model_name: str) -> int:
        """Delete a model's non-live version directories (every table
        commit keeps ONE previous version as a grace window for
        in-flight readers — see materialize.replace_relation_atomic;
        Delta's VACUUM analogue). Call when no readers are active, e.g.
        between pipeline runs; readers with long scans are additionally
        protected by ``spark.falspark.vacuum.retainSeconds`` (version
        dirs modified within the window survive, Delta's retention
        check). Version dirs a concurrent rebuild is writing or has just
        made live are never deleted (see materialize.vacuum_table).
        Returns the number of dirs removed."""
        self._require_table_model(model_name, "vacuum")
        return vacuum_table(self.spark, self._identifier(model_name))

    def analyze(self, model_name: str, columns: bool = True) -> None:
        """ANALYZE TABLE — compute row-count/size (and per-column NDV,
        min/max, null counts with ``columns=True``) into the catalog so
        Catalyst's cost-based optimizer can pick broadcast sides and
        join orders from real statistics instead of file-size guesses.
        Run after materializing dimension-like models; at cluster scale
        this is what turns a 100 GB-looking-but-filtered dim into a
        broadcast join."""
        self._require_table_model(model_name, "analyze")
        identifier = self._identifier(model_name)
        suffix = " FOR ALL COLUMNS" if columns else ""
        self.spark.sql(f"ANALYZE TABLE {identifier} COMPUTE STATISTICS{suffix}")

    def is_table_model(self, model_name: str) -> bool:
        """True when the model materializes as files (table/incremental/
        seed) — the only shapes compact/analyze apply to."""
        model = self._model(model_name)
        return model is not None and model.materialization not in ("view", "ephemeral")

    def _require_table_model(self, model_name: str, verb: str) -> None:
        if not self.is_table_model(model_name):
            raise ValueError(
                f"{verb} requires a table-materialized model; "
                f"{model_name!r} is a view/ephemeral (no files to maintain)"
            )


# ----------------------------------------------------------------------
# tasks
# ----------------------------------------------------------------------

class _ModelTask:
    """Materialize one model (reference: DBTTask runs `dbt run` in a
    subprocess, dbt_runner.py:95-173 — here it's an in-process spark.sql)."""

    def __init__(self, fal: FalSpark, node: str) -> None:
        self.fal = fal
        self.node = node

    def execute(self, context: dict) -> None:
        fal = self.fal
        model: DbtModel = fal.graph.node_attr(self.node, "model")
        spark = fal.spark
        log.debug("executing model %s (%s)", model.name, model.materialization)
        if model.materialization == "seed":
            df = spark.read.csv(str(model.path), header=True, inferSchema=True)
            fal._record(model, "CREATE TABLE", fal._materialize(model.name, df))
            return
        if model.python_model is not None:
            return self._run_python_model(model)
        identifier = f"{fal.schema}.{model.target_name}"
        # dbt --full-refresh rebuilds an incremental model from scratch
        incremental = (
            model.is_incremental
            and not fal._full_refresh
            and table_exists(spark, identifier)
        )
        df = spark.sql(fal._render(model.raw_sql, this_name=identifier, is_incremental=incremental))
        if model.materialization in ("view", "ephemeral"):
            fal._view_models.add(model.name)
            df.createOrReplaceTempView(fal._identifier(model.name))
            fal._record(model, "CREATE VIEW", None)
            return
        if not incremental:
            fal._record(model, "CREATE TABLE", fal._materialize(model.name, df))
            return
        # reference semantics: rows affected by THIS batch, not the
        # post-merge table total (fal_script.py:87-91). Persist: the merge
        # reads the batch twice (its keys and its rows), and a
        # non-deterministic model must merge the rows it reports.
        df = df.persist()
        try:
            n = incremental_merge(
                spark,
                df,
                identifier,
                model.unique_key,
                strategy=model.incremental_strategy,
                on_schema_change=model.on_schema_change,
                **model.layout,
            )
        finally:
            df.unpersist()
        fal._record(model, "INSERT", n)

    def _run_python_model(self, model: DbtModel) -> None:
        """Python model execution, both contracts the reference family
        supports:

        - dbt-style: ``def model(dbt, session) -> DataFrame`` (D3 —
          py_write wrapper, table.sql:34-46). The module body runs, then
          ``model()`` is called; its return (Spark OR pandas frame) is
          materialized.
        - fal-style script model (reference: fal_models/orders_forecast.py
          — a module body using injected ``ref``/``context``/
          ``write_to_model`` globals, discovered via `fal-models-paths`,
          parse.py:120-140): the body IS the model and must call
          ``write_to_model(...)`` (target defaults to this model).

        The module runs with the globals a script of this model gets
        (``FalSpark._globals``). pandas interop (the reference's data
        currency — project.py:696-715 returns pandas from every read):
        opt in per model with schema.yml ``meta: {fal: {interop:
        pandas}}`` or, dbt-style, ``dbt.config(interop="pandas")`` —
        reads then hand the model pandas frames and the returned/written
        frame may be pandas. Without the opt-in, reads stay lazy Spark
        DataFrames carrying a ``.to_pandas()`` escape hatch, and pandas
        returns are still accepted. The pull to the driver happens only
        at these explicit boundaries; aggregate-then-convert keeps it
        bounded at scale."""
        fal = self.fal
        # the physical (alias-aware) table: the isolated child's ``this``,
        # and what a fal-style body's writes are counted from
        identifier = f"{fal.schema}.{model.target_name}"
        if model.environment:
            n = self._run_python_model_isolated(model, identifier)
        else:
            pandas_mode = ((model.meta or {}).get("fal", {}) or {}).get("interop") == "pandas"
            namespace = fal._globals(model, pandas=pandas_mode)
            write = namespace["write_to_model"]
            fn = _exec_user_code(model.python_model, namespace).get("model")
            if fn is not None:
                df = fn(_DbtObj(fal, model, pandas_mode), fal.spark)
                if df is None:
                    raise ValueError(f"python model {model.name} returned no DataFrame")
                n = fal._materialize(model.name, fal._to_spark(df))
            elif write.called:
                # the body may have written more than once: count what it left
                n = fal.spark.table(identifier).count()
            else:
                raise ValueError(
                    f"python model {model.name} defines no model(dbt, session) "
                    "and its body never called write_to_model(...) — one of "
                    "the two contracts is required"
                )
        fal._record(model, "CREATE TABLE", n)

    def _run_python_model_isolated(self, model: DbtModel, identifier: str) -> int:
        """Python model with ``meta.fal.environment``: run it in the named
        env's interpreter (reference: structured_hooks.feature 'Run
        isolated models') and return the rows materialized. A
        SparkSession cannot cross interpreters, so the data boundary is
        parquet interchange — the model's DECLARED dependencies
        (AST-extracted refs/sources, D5) are pre-exported, the child
        transforms in pandas, and the parquet result is materialized as
        the model table. Bounded by the same aggregate-then-isolate
        discipline as the pandas interop: declare an aggregating parent
        model and isolate the small last mile."""
        fal = self.fal
        env = fal._environment(model, model.environment)
        with tempfile.TemporaryDirectory(prefix="fal_isolated_") as td:
            relations: dict[str, str] = {}
            sources: dict[str, str] = {}
            for dep in model.depends_on:
                kind, rest = dep.split(".", 1)
                if kind in ("model", "seed"):
                    name = rest.split(".", 1)[1]
                    path = os.path.join(td, f"ref_{name}.parquet")
                    fal.ref(name).write.mode("overwrite").parquet(path)
                    relations[name] = path
                elif kind == "source":
                    _, s, t = rest.split(".", 2)
                    path = os.path.join(td, f"src_{s}_{t}.parquet")
                    fal.source(s, t).write.mode("overwrite").parquet(path)
                    sources[f"{s}::{t}"] = path
            out = os.path.join(td, "out.parquet")
            env.run_python_model(
                model.python_model,
                {
                    **asdict(fal._context(model)),
                    "relations": relations,
                    "sources": sources,
                    "out": out,
                    "this": identifier,
                },
            )
            return fal._materialize(model.name, fal.spark.read.parquet(out))


class _SnapshotTask:
    """SCD2-merge one snapshot's select into its history table
    ``<schema>.<snapshot name>`` (materialize.snapshot_scd2)."""

    def __init__(self, fal: FalSpark, snap: DbtSnapshot, as_of: str | None) -> None:
        self.fal = fal
        self.snap = snap
        self.as_of = as_of

    def execute(self, context: dict) -> None:
        fal, snap = self.fal, self.snap
        snapshot_scd2(
            fal.spark,
            fal.spark.sql(fal._render(snap.raw_sql)),
            f"{fal.schema}.{snap.name}",
            snap.unique_key,
            strategy=snap.strategy,
            updated_at=snap.updated_at,
            check_cols=snap.check_cols or None,
            as_of=self.as_of,
        )


class _DbtObj:
    """The ``dbt`` handle passed into Python models (dbt-style):
    ``this``, ``config(**kw)`` (``config.get(key)`` reads it back) and
    ``ref``/``source``, which hand back pandas frames in pandas mode."""

    def __init__(self, fal: FalSpark, model: DbtModel, pandas_meta: bool) -> None:
        self._fal = fal
        self._pandas_meta = pandas_meta
        self.this = f"{fal.schema}.{model.target_name}"
        values: dict = {}

        def config(**kwargs) -> str:
            values.update(kwargs)
            return ""

        config.get = values.get
        self.config = config

    def _read(self, fn):
        # dbt.config(interop="pandas") is usually the model's first
        # statement, so checking at read time sees it; schema.yml meta
        # (resolved before execution) is the declarative spelling
        pandas = self._pandas_meta or self.config.get("interop") == "pandas"
        return _to_pandas(fn) if pandas else fn

    def ref(self, *parts: str) -> DataFrame:
        return self._read(self._fal.ref)(parts[-1])

    def source(self, source_name: str, table_name: str) -> DataFrame:
        return self._read(self._fal.source)(source_name, table_name)


class _ScriptTask:
    """Run a before/after script or a pre-/post-hook (``is_hook``, whose
    `with:` arguments arrive as ``arguments``) with injected globals
    (reference: FalScript.exec, fal_script.py:258-299). ``model=None`` is
    the reference's GLOBAL script mode (fal_script.py:189 — a FalScript
    whose model is None): ``context.current_model`` is None and
    ``write_to_model`` takes an explicit target name. ``environment``
    overrides the model's environment for this task alone (reference:
    fal_script.py:43-83 create_hook — LocalHook vs IsolatedHook): a named
    env wins over the model's, the special name "local" forces
    in-process, None inherits the model's."""

    def __init__(
        self,
        fal: FalSpark,
        model: DbtModel | None,
        script: str,
        arguments: dict | None = None,
        *,
        environment: str | None = None,
        is_hook: bool = False,
    ) -> None:
        self.fal = fal
        self.model = model
        self.script = script
        self.arguments = arguments or {}
        self.environment = environment
        self.is_hook = is_hook

    def execute(self, context: dict) -> None:
        fal = self.fal
        model = self.model
        # scripts resolve against `fal-scripts-path` FIRST when set
        # (reference: parse.py:142-151 get_scripts_dir makes it the base
        # dir), falling back to the project root so projects mixing both
        # conventions keep working — a name existing at both locations
        # runs the fal-scripts-path copy, matching reference precedence
        base = fal.project_dir / str(fal.manifest.vars.get("fal-scripts-path", ""))
        path = base / self.script
        if not path.exists() and (fal.project_dir / self.script).exists():
            path = fal.project_dir / self.script
        env_name = model.environment if model is not None else None
        if self.environment is not None:
            env_name = None if self.environment == "local" else self.environment
        if env_name:
            # isolated execution (reference: IsolatedHook → environments):
            # the script runs in the named venv's interpreter with the
            # context shim; no SparkSession crosses the boundary.
            fal._environment(model, env_name).run_script(
                path, asdict(fal._context(model, self.arguments))
            )
        else:
            _exec_user_code(
                path, fal._globals(model, arguments=self.arguments, hook=self.is_hook)
            )
