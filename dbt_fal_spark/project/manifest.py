"""Manifest dataclasses — the project's parsed object model.

Mirrors the reference's node mapping (reference: projects/adapter/src/
fal/dbt/integration/project.py:93-343 — DbtModel/DbtSource/DbtTest/
Feature wrap dbt manifest nodes) without dbt: our loader parses the
project directly and builds these.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

NodeStatus = str  # "pending" | "success" | "error" | "skipped" | "tested" | "warn"


@dataclass
class Hook:
    """A pre/post hook or before/after script attached to a model
    (reference: fal_script.py:43-83 — LocalHook/IsolatedHook).

    ``environment`` overrides the MODEL's environment for this hook
    alone (reference: 013_structured_hooks schema.yml model_e/f/g) —
    a named env runs the hook there; the special name ``local`` forces
    in-process execution even on an isolated model; None inherits."""

    path: str
    arguments: dict[str, Any] = field(default_factory=dict)
    environment: str | None = None


@dataclass
class DbtModel:
    name: str
    unique_id: str  # "model.<project>.<name>"
    path: Path | None = None
    raw_sql: str | None = None
    python_model: Path | None = None  # .py model (exclusive with raw_sql)
    materialization: str = "table"  # table | view | ephemeral | incremental
    unique_key: str | None = None  # for incremental merge
    incremental_strategy: str | None = None  # append | merge | delete+insert | insert_overwrite
    partition_by: str | None = None  # hive partition column(s)
    on_schema_change: str = "ignore"  # ignore | fail | append_new_columns
    bucket_by: dict | None = None  # {"cols": "k1,k2", "n": 32} — co-located joins
    sort_by: str | None = None  # range-clustered file layout — data skipping
    depends_on: list[str] = field(default_factory=list)  # unique_ids
    tags: list[str] = field(default_factory=list)
    meta: dict[str, Any] = field(default_factory=dict)
    columns: dict[str, dict] = field(default_factory=dict)
    _status: NodeStatus = "pending"
    # generic column tests declared on this model (reference: DbtModel
    # carries .tests so scripts can enumerate them via list_models() —
    # dbt_test.feature 'Source tests are present in context')
    tests: list[DbtTest] = field(default_factory=list)

    @property
    def status(self) -> NodeStatus:
        """Derived status, reference semantics (project.py:180-188
        `_DbtTestableNode._get_status` + dbt_test.feature): a node that
        did not run in this invocation but whose attached tests DID run
        reports 'tested' — after `dbt test`, scripts see model status
        'tested', not 'skipped'/'pending'."""
        if self._status in ("pending", "skipped") and any(
            t.status not in ("pending", "skipped") for t in self.tests
        ):
            return "tested"
        return self._status

    @status.setter
    def status(self, value: NodeStatus) -> None:
        self._status = value
    # dbt `alias` config: the PHYSICAL relation name when it differs from
    # the model (file) name; ref() keeps resolving by model name
    # (reference: run.feature 'fal run provides model aliases')
    alias_name: str | None = None

    @property
    def target_name(self) -> str:
        """Physical relation name: alias when declared, else model name."""
        return self.alias_name or self.name

    @property
    def is_incremental(self) -> bool:
        return self.materialization == "incremental"

    @property
    def layout(self) -> dict[str, Any]:
        """The declared file layout every write of this model's table
        carries (``write_table`` / ``incremental_merge`` keywords)."""
        return {
            "partition_by": self.partition_by,
            "bucket_by": self.bucket_by,
            "sort_by": self.sort_by,
        }

    @property
    def environment(self) -> str | None:
        """Named isolated environment for this model's scripts
        (reference: meta.fal.environment → packages/environments)."""
        return (self.meta or {}).get("fal", {}).get("environment")

    def get_scripts(self, *, before: bool) -> list[str]:
        """meta.fal.scripts — plain list means after-scripts
        (reference: project.py:256-308)."""
        fal = (self.meta or {}).get("fal") or {}  # `fal:` with no body parses as None
        scripts = fal.get("scripts") or []
        if isinstance(scripts, str):  # single-script shorthand
            scripts = [scripts]
        if isinstance(scripts, list):
            return [] if before else list(scripts)
        key = "before" if before else "after"
        return list(scripts.get(key) or [])

    def get_hooks(self, *, pre: bool) -> list[Hook]:
        fal = (self.meta or {}).get("fal") or {}
        raw = fal.get("pre-hook" if pre else "post-hook") or []
        if isinstance(raw, str):
            raw = [raw]
        out = []
        for h in raw:
            if isinstance(h, str):
                out.append(Hook(path=h))
            else:
                out.append(Hook(path=h["path"], arguments=h.get("with", {}),
                                environment=h.get("environment")))
        return out


@dataclass
class DbtSource:
    source_name: str
    table_name: str
    unique_id: str  # "source.<project>.<source_name>.<table_name>"
    path: str | None = None  # file path or table identifier
    format: str = "parquet"
    loaded_at_field: str | None = None
    # warn_after/error_after THRESHOLDS from schema.yml (dbt's freshness
    # block). The reference spells the freshness RESULT as `.freshness`
    # (fal_scripts/freshness.py: node.freshness.status) — that lives in
    # the `freshness` property below; the spec needed a distinct name.
    freshness_spec: dict[str, Any] = field(default_factory=dict)
    meta: dict[str, Any] = field(default_factory=dict)
    tests: list[DbtTest] = field(default_factory=list)
    # freshness RESULT from a prior run's target/sources.json artifact
    # (reference: project.py:415-421 attaches the parsed
    # FreshnessExecutionResultArtifact row to each DbtSource); None when
    # no artifact row exists — source_freshness() then recomputes live
    freshness_result: dict[str, Any] | None = None
    # sources are never "run"; their base status is skipped and flips to
    # the derived 'tested' once their attached tests run (reference:
    # _DbtTestableNode, dbt_test.feature 'source status is tested')
    _status: NodeStatus = "skipped"

    @property
    def status(self) -> NodeStatus:
        if self._status in ("pending", "skipped") and any(
            t.status not in ("pending", "skipped") for t in self.tests
        ):
            return "tested"
        return self._status

    @status.setter
    def status(self, value: NodeStatus) -> None:
        self._status = value

    @property
    def freshness(self):
        """The freshness RESULT, reference spelling (DbtSource.freshness
        → FreshnessNodeOutput; cli_tests 010_source_freshness
        freshness.py does ``node.freshness.status``): an attribute-
        accessible view of the latest artifact/recompute row, or None
        when freshness has never been evaluated — reference scripts
        gate on ``if node.freshness:``. Thresholds live in
        ``freshness_spec``."""
        if not self.freshness_result:
            return None
        from types import SimpleNamespace

        return SimpleNamespace(**self.freshness_result)

    @property
    def name(self) -> str:
        """The SOURCE (namespace) name alone — reference semantics
        (project.py:209-210: DbtSource.name → node.source_name; the
        programmatic example prints `source.name, source.table_name`)."""
        return self.source_name

    @property
    def full_name(self) -> str:
        return f"{self.source_name}.{self.table_name}"


@dataclass
class DbtTest:
    name: str
    unique_id: str
    test_type: str  # not_null | unique | accepted_values | relationships | singular
    model_id: str | None = None
    column: str | None = None
    params: dict[str, Any] = field(default_factory=dict)
    raw_sql: str | None = None  # singular tests
    status: NodeStatus = "pending"
    # dbt test configs (dbt-core semantics the reference inherits via
    # delegation): severity 'warn' reports violations without failing
    # the run; store_failures materializes the failing rows into the
    # audit schema (<schema>_dbt_test__audit.<test_name>); where filters
    # the tested relation; limit caps the failure SELECT; warn_if /
    # error_if are threshold expressions over the failure count
    # (dbt defaults: "!=0")
    severity: str = "error"  # error | warn
    store_failures: bool = False
    where: str | None = None
    limit: int | None = None
    warn_if: str = "!=0"
    error_if: str = "!=0"


@dataclass
class Feature:
    """Feature-store column metadata
    (reference: feature_store/feature.py:5-17)."""

    model: str
    column: str
    entity_column: str | None = None
    timestamp_column: str | None = None
    description: str | None = None


@dataclass
class DbtSnapshot:
    """dbt snapshot definition (SCD2) — snapshots/<name>.sql select +
    config from snapshots/schema.yml."""

    name: str
    unique_id: str  # "snapshot.<project>.<name>"
    raw_sql: str
    unique_key: str
    strategy: str = "timestamp"  # timestamp | check
    updated_at: str | None = None
    check_cols: list[str] = field(default_factory=list)


@dataclass
class Manifest:
    project_name: str
    project_dir: Path
    models: dict[str, DbtModel] = field(default_factory=dict)  # by unique_id
    sources: dict[str, DbtSource] = field(default_factory=dict)
    tests: dict[str, DbtTest] = field(default_factory=dict)
    snapshots: dict[str, "DbtSnapshot"] = field(default_factory=dict)
    vars: dict[str, Any] = field(default_factory=dict)
    # raw {% macro %} sources from macro-paths dirs, prepended into every
    # Jinja render so definitions are callable from models/execute_sql
    # (reference: cli_tests/projects/009_execute_sql_function)
    macros: list[str] = field(default_factory=list)
    # top-level `fal:` block in schema.yml: GLOBAL scripts, run once per
    # invocation with no current_model (reference: parse.py:196-218
    # get_global_script_configs; a bare list means AFTER scripts)
    global_scripts: dict[str, list[str]] = field(
        default_factory=lambda: {"before": [], "after": []}
    )

    def model_by_name(self, name: str) -> DbtModel:
        for m in self.models.values():
            if m.name == name:
                return m
        raise KeyError(f"model not found: {name}")

    def source_by_name(self, source_name: str, table_name: str) -> DbtSource:
        for s in self.sources.values():
            if s.source_name == source_name and s.table_name == table_name:
                return s
        raise KeyError(f"source not found: {source_name}.{table_name}")

    def features(self) -> list[Feature]:
        """Columns tagged with fal feature metadata
        (reference: project.py:642-673)."""
        out = []
        for m in self.models.values():
            for col, spec in (m.columns or {}).items():
                meta = (spec or {}).get("meta", {}).get("fal", {})
                if "feature" in meta or meta.get("is_feature"):
                    f = meta.get("feature", {}) if isinstance(meta.get("feature"), dict) else {}
                    out.append(
                        Feature(
                            model=m.name,
                            column=col,
                            entity_column=f.get("entity_column"),
                            timestamp_column=f.get("timestamp_column"),
                            description=(spec or {}).get("description"),
                        )
                    )
        return out
