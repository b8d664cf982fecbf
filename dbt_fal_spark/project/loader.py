"""Project loader: dbt-style directory → Manifest.

Layout (a dbt-project-lite, same contract the reference's test projects
use — reference: projects/adapter/cli_tests/projects/002_jaffle_shop/):

    project_dir/
      dbt_project.yml        name, model-paths, vars
      models/**/*.sql        Jinja-SQL models
      models/**/*.py         Python models (def model(dbt, session))
      models/**/schema.yml   sources, model configs, columns, tests
      seeds/*.csv            seed tables

Python-model dependencies are extracted from the AST (literal
``dbt.ref("x")`` / ``dbt.source("s","t")`` / bare ``ref``/``source``
calls), mirroring the reference's module_check
(reference: projects/adapter/src/fal/dbt/cli/model_generator/
module_check.py:258-320) — but feeding our own DAG directly, with no
generated SQL stub files.

A model's config is resolved once, at load (``_add_model``): the
schema.yml ``config:`` block, with the model file's own ``config()`` on
top — dbt's precedence.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path
from typing import Any

import yaml

from dbt_fal_spark.project.jinja import extract_dependencies
from dbt_fal_spark.project.manifest import DbtModel, DbtSnapshot, DbtSource, DbtTest, Manifest


def process_ipynb(raw: str) -> str:
    """Strip magics and join code cells (reference: fal_script.py:391-416)."""
    import json

    nb = json.loads(raw)
    cells = []
    for cell in nb.get("cells", []):
        if cell.get("cell_type") != "code":
            continue
        lines = [
            ln
            for ln in cell.get("source", [])
            if not ln.lstrip().startswith("%") and "faldbt.magics" not in ln
        ]
        cells.append("".join(lines))
    return "\n#cell\n".join(cells)


def _load_yaml(path: Path) -> dict:
    with open(path) as f:
        doc = yaml.safe_load(f) or {}
    if not isinstance(doc, dict):
        # a top-level list/scalar would otherwise surface as an
        # AttributeError traceback deep in the loader (r11 adversarial
        # review) — name the file and the expectation instead
        raise ValueError(
            f"{path}: expected a YAML mapping at the top level, got "
            f"{type(doc).__name__} — dbt-style project/schema files are "
            "`key: value` documents (did a `- name:` list lose its "
            "`models:`/`sources:` header?)"
        )
    return doc


def extract_python_deps(code: str) -> tuple[list[str], list[tuple[str, str]]]:
    """Literal ref()/source() calls anywhere in a Python model's AST."""
    refs: list[str] = []
    sources: list[tuple[str, str]] = []
    for node in ast.walk(ast.parse(code)):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = None
        if isinstance(fn, ast.Name):
            name = fn.id
        elif isinstance(fn, ast.Attribute):
            name = fn.attr
        args = [a.value for a in node.args if isinstance(a, ast.Constant)]
        if name == "ref" and len(args) >= 1:
            if args[-1] not in refs:
                refs.append(args[-1])
        elif name == "source" and len(args) == 2:
            if (args[0], args[1]) not in sources:
                sources.append((args[0], args[1]))
    return refs, sources


def _reject_duplicate_model(manifest: Manifest, project: str, name: str, path: Path) -> None:
    """dbt errors on two models, or a model and a seed, sharing a name:
    both would write ``schema.<name>`` and ``ref(name)`` would be
    ambiguous, so the clash must be loud."""
    for uid in (f"model.{project}.{name}", f"seed.{project}.{name}"):
        if uid in manifest.models:
            raise ValueError(
                f"duplicate model name {name!r}: {manifest.models[uid].path} "
                f"and {path} — model and seed names must be unique across "
                "model-paths/fal-models-paths/seed-paths (rename one file)"
            )


def _scan_python_models(
    manifest: Manifest, name: str, mdir: Path, model_props: dict[str, dict]
) -> None:
    """Register every .py/.ipynb model under ``mdir`` (shared by
    model-paths and the reference's separate `fal-models-paths` dirs)."""
    py_models = sorted(mdir.rglob("*.py")) + sorted(
        p for p in mdir.rglob("*.ipynb")
        # Jupyter autosaves live copies under .ipynb_checkpoints — stale
        # duplicates, never models
        if ".ipynb_checkpoints" not in p.parts
    )
    for ppath in py_models:
        if ppath.stem.startswith("__"):
            # __init__.py & friends: package plumbing, never a model
            # (previously registered as a model named "__init__" and
            # failed at run time — r11 adversarial review)
            continue
        code = ppath.read_text()
        if ppath.suffix == ".ipynb":
            code = process_ipynb(code)
        refs, sources = extract_python_deps(code)
        _add_model(manifest, name, ppath, model_props, refs, sources, python_model=ppath)


def _add_model(
    manifest: Manifest,
    project: str,
    path: Path,
    model_props: dict[str, dict],
    refs: list[str],
    sources: list[tuple[str, str]],
    config: dict | None = None,
    *,
    raw_sql: str | None = None,
    python_model: Path | None = None,
) -> None:
    """Register the SQL or Python model at ``path``. Its config is
    resolved once, here, as dbt does: the schema.yml ``config:`` block
    with the file's own ``config()`` on top (a Python model has none at
    load time); tags and meta merge both."""
    mname = path.stem
    props = model_props.get(mname, {})
    config = config or {}
    cfg = {**(props.get("config") or {}), **config}
    uid = f"model.{project}.{mname}"
    _reject_duplicate_model(manifest, project, mname, path)
    model = DbtModel(
        name=mname,
        unique_id=uid,
        path=path,
        raw_sql=raw_sql,
        python_model=python_model,
        materialization=cfg.get("materialized", "table"),
        unique_key=cfg.get("unique_key"),
        incremental_strategy=cfg.get("incremental_strategy"),
        partition_by=cfg.get("partition_by"),
        on_schema_change=cfg.get("on_schema_change", "ignore"),
        bucket_by=cfg.get("bucket_by"),
        sort_by=cfg.get("sort_by"),
        tags=list(config.get("tags", [])) + list(props.get("tags", [])),
        meta={**(props.get("meta", {}) or {}), **(config.get("meta", {}) or {})},
        columns={c["name"]: c for c in props.get("columns", [])},
        alias_name=cfg.get("alias"),
        depends_on=[f"model.{project}.{r}" for r in refs]
        + [f"source.{project}.{s}.{t}" for (s, t) in sources],
    )
    manifest.models[uid] = model
    _collect_tests(manifest, project, props, model_id=uid, source_id=None, owner_node=model)


def load_project(project_dir: str | Path, vars: dict[str, Any] | None = None) -> Manifest:
    project_dir = Path(project_dir)
    cfg = _load_yaml(project_dir / "dbt_project.yml") if (project_dir / "dbt_project.yml").exists() else {}
    name = cfg.get("name", project_dir.name)
    merged_vars = dict(cfg.get("vars", {}))
    merged_vars.update(vars or {})
    manifest = Manifest(project_name=name, project_dir=project_dir, vars=merged_vars)

    model_dirs = [project_dir / p for p in cfg.get("model-paths", ["models"])]
    seed_dirs = [project_dir / p for p in cfg.get("seed-paths", ["seeds"])]
    snapshot_dirs = [project_dir / p for p in cfg.get("snapshot-paths", ["snapshots"])]

    # --- macros: {% macro %} sources become callable in every render
    # (dbt `macro-paths`; reference dbt_project.yml "macro-paths":
    # ["macros", "custom_macros"]). Loaded FIRST — dependency extraction
    # below renders model SQL, which may call them. ---
    for macdir in [project_dir / p for p in cfg.get("macro-paths", ["macros"])]:
        if not macdir.exists():
            continue
        for mpath in sorted(macdir.rglob("*.sql")):
            manifest.macros.append(mpath.read_text())

    # --- schema.yml files: sources + model configs/columns/tests ---
    model_props: dict[str, dict] = {}
    for mdir in model_dirs:
        if not mdir.exists():
            continue
        for ypath in sorted(mdir.rglob("*.yml")):
            doc = _load_yaml(ypath)
            for src in doc.get("sources", []):
                for tbl in src.get("tables", []):
                    uid = f"source.{name}.{src['name']}.{tbl['name']}"
                    # a source-level `connection:` (JDBC external, read
                    # path of reference support/postgres.py:13-30) is
                    # inherited by every table; table-level keys win so a
                    # table can override e.g. dbtable or fetchsize
                    tbl_meta = dict(tbl.get("meta", {}) or {})
                    src_conn = (src.get("meta", {}) or {}).get("connection")
                    if src_conn and "connection" not in tbl_meta:
                        tbl_meta["connection"] = dict(src_conn)
                    elif src_conn and isinstance(tbl_meta.get("connection"), dict):
                        tbl_meta["connection"] = {**src_conn, **tbl_meta["connection"]}
                    source = DbtSource(
                        source_name=src["name"],
                        table_name=tbl["name"],
                        unique_id=uid,
                        # table-level path wins; the source-level path is a
                        # DIRECTORY prefix, so the fallback joins the table's
                        # filename — handing a table the bare directory would
                        # point reads at sibling tables and, worse, let an
                        # overwrite-mode write_to_source clobber the whole
                        # source directory
                        path=(tbl.get("meta", {}) or {}).get("path")
                        or (
                            f"{(src.get('meta', {}) or {}).get('path').rstrip('/')}/{tbl['name']}.parquet"
                            if (src.get("meta", {}) or {}).get("path")
                            else None
                        ),
                        format=(tbl.get("meta", {}) or {}).get("format", "parquet"),
                        loaded_at_field=tbl.get("loaded_at_field") or src.get("loaded_at_field"),
                        freshness_spec=tbl.get("freshness") or src.get("freshness") or {},
                        meta=tbl_meta,
                    )
                    manifest.sources[uid] = source
                    _collect_tests(manifest, name, tbl, model_id=None, source_id=uid, owner_node=source)
            for mod in doc.get("models", []):
                model_props[mod["name"]] = mod
            # top-level `fal:` block = global scripts (reference:
            # parse.py:196-218): a bare list is AFTER scripts, a dict
            # splits before/after
            fal_cfg = doc.get("fal") or {}
            script_paths = fal_cfg.get("scripts") or []
            if isinstance(script_paths, list):
                manifest.global_scripts["after"] += script_paths
            else:
                manifest.global_scripts["before"] += script_paths.get("before") or []
                manifest.global_scripts["after"] += script_paths.get("after") or []

    # --- seeds: CSV files become table-materialized models with no deps ---
    for sdir in seed_dirs:
        if not sdir.exists():
            continue
        for csv in sorted(sdir.glob("*.csv")):
            _reject_duplicate_model(manifest, name, csv.stem, csv)
            uid = f"seed.{name}.{csv.stem}"
            manifest.models[uid] = DbtModel(
                name=csv.stem,
                unique_id=uid,
                path=csv,
                materialization="seed",
            )

    # --- snapshots: SCD2 selects + config from snapshots/schema.yml ---
    for sndir in snapshot_dirs:
        if not sndir.exists():
            continue
        snap_cfg: dict[str, dict] = {}
        for ypath in sorted(sndir.rglob("*.yml")):
            for sn in _load_yaml(ypath).get("snapshots", []):
                snap_cfg[sn["name"]] = sn.get("config", {})
        for sql in sorted(sndir.rglob("*.sql")):
            cfg_s = snap_cfg.get(sql.stem, {})
            uid = f"snapshot.{name}.{sql.stem}"
            manifest.snapshots[uid] = DbtSnapshot(
                name=sql.stem,
                unique_id=uid,
                raw_sql=sql.read_text(),
                unique_key=cfg_s.get("unique_key", "id"),
                strategy=cfg_s.get("strategy", "timestamp"),
                updated_at=cfg_s.get("updated_at"),
                check_cols=list(cfg_s.get("check_cols", [])),
            )

    # --- SQL + Python models ---
    for mdir in model_dirs:
        if not mdir.exists():
            continue
        for spath in sorted(mdir.rglob("*.sql")):
            raw = spath.read_text()
            refs, sources, config = extract_dependencies(
                raw, macros=manifest.macros, vars=merged_vars
            )
            _add_model(manifest, name, spath, model_props, refs, sources, config, raw_sql=raw)
        # .py and .ipynb models share the contract (reference scans both:
        # model_generator.py:18-103); notebooks are stripped to their code
        # cells for dependency extraction and execution
        _scan_python_models(manifest, name, mdir, model_props)

    # fal-format Python models may live OUTSIDE model-paths, in the dirs
    # listed by the `fal-models-paths` var (reference: parse.py:120-140
    # get_fal_models_dirs — projects/006_script_paths declares
    # `fal-models-paths: ["fal_models"]`)
    for fmdir in [project_dir / p for p in (merged_vars.get("fal-models-paths") or [])]:
        if fmdir.exists():
            _scan_python_models(manifest, name, fmdir, model_props)

    # seeds referenced by name: fix dangling model.X deps that are seeds
    seed_names = {m.name: uid for uid, m in manifest.models.items() if m.materialization == "seed"}
    for model in manifest.models.values():
        model.depends_on = [
            f"seed.{name}.{dep.split('.', 2)[2]}"
            if dep.startswith("model.") and dep.split(".", 2)[2] in seed_names
            else dep
            for dep in model.depends_on
        ]

    # singular tests: tests/*.sql returning violation rows
    tdir = project_dir / "tests"
    if tdir.exists():
        for spath in sorted(tdir.glob("*.sql")):
            raw = spath.read_text()
            refs, srcs, tcfg = extract_dependencies(
                raw, macros=manifest.macros, vars=merged_vars
            )
            uid = f"test.{name}.{spath.stem}"
            # singular tests configure via {{ config(severity='warn',
            # store_failures=true) }} in the SQL body (dbt-core semantics)
            t = DbtTest(
                name=spath.stem,
                unique_id=uid,
                test_type="singular",
                raw_sql=raw,
                severity=str(tcfg.get("severity", "error")).lower(),
                store_failures=bool(tcfg.get("store_failures", False)),
                # `where` on a singular test filters the violation rows
                # (api.py wraps the rendered SQL in a filtered subquery);
                # previously parsed-then-dropped while severity/limit on
                # the same config were honored (ADVICE r12)
                where=tcfg.get("where"),
                limit=int(tcfg["limit"]) if tcfg.get("limit") is not None else None,
                warn_if=str(tcfg.get("warn_if", "!=0")),
                error_if=str(tcfg.get("error_if", "!=0")),
            )
            manifest.tests[uid] = t
    return manifest


def _collect_tests(
    manifest: Manifest,
    project: str,
    props: dict,
    model_id: str | None,
    source_id: str | None,
    owner_node=None,
) -> None:
    """Generic column tests from a schema.yml node entry
    (reference contract: 000_fal_run/models/schema.yml:26-40).
    ``owner_node`` (the DbtModel/DbtSource itself) also receives the
    test in its ``.tests`` list so scripts enumerating list_models()/
    list_sources() see per-node test sets (reference:
    dbt_test.feature)."""
    for col in props.get("columns", []):
        for t in col.get("tests", []):
            if isinstance(t, str):
                ttype, params = t, {}
            else:
                ttype, params = next(iter(t.items()))
                if not isinstance(params, dict):
                    params = {"values": params}
            # dbt test configs: nested under `config:` or inline at the
            # test's top level (both are dbt-core spellings). severity
            # 'warn' reports without failing; store_failures
            # materializes failing rows into the audit schema.
            params = dict(params or {})
            config = dict(params.pop("config", {}) or {})
            for key in ("severity", "store_failures", "where", "limit", "warn_if", "error_if"):
                if key in params:
                    config.setdefault(key, params.pop(key))
            owner = model_id or source_id
            uid = f"test.{project}.{ttype}_{props['name']}_{col['name']}"
            test = DbtTest(
                name=f"{ttype}_{props['name']}_{col['name']}",
                unique_id=uid,
                test_type=ttype,
                model_id=owner,
                column=col["name"],
                params=params,
                severity=str(config.get("severity", "error")).lower(),
                store_failures=bool(config.get("store_failures", False)),
                where=config.get("where"),
                limit=int(config["limit"]) if config.get("limit") is not None else None,
                warn_if=str(config.get("warn_if", "!=0")),
                error_if=str(config.get("error_if", "!=0")),
            )
            manifest.tests[uid] = test
            if owner_node is not None:
                owner_node.tests.append(test)


# --- profiles.yml-lite (reference: A/src/fal/dbt/integration/parse.py:59-98
# profile loading + --target resolution, load_db_profile.py:40-60) ---

def load_profile(
    project_dir: str | Path,
    target: str | None = None,
    profiles_dir: str | Path | None = None,
) -> dict[str, Any] | None:
    """Resolve the active output of a profiles.yml, dbt-style.

    Search order: explicit ``profiles_dir`` (the reference's
    ``--profiles-dir``, A/src/fal/dbt/cli/args.py:45-52 — when given it
    is authoritative: a missing profiles.yml there is an error, never a
    silent fallback), then ``$DBT_PROFILES_DIR`` (dbt's env override),
    then <project_dir>/profiles.yml, then ~/.dbt/profiles.yml.
    The profile name comes from dbt_project.yml's ``profile:`` key
    (fallback: the project name). Returns a dict with ``target`` (the
    resolved target name) merged over the output's keys (``schema``,
    ``warehouse_dir``, ``threads``, ``spark_conf``, ...), or None when no
    profiles.yml exists — projects without one keep working unchanged.
    """
    project_dir = Path(project_dir)
    cfg = (
        _load_yaml(project_dir / "dbt_project.yml")
        if (project_dir / "dbt_project.yml").exists()
        else {}
    )
    profile_name = cfg.get("profile") or cfg.get("name", project_dir.name)
    path = None
    explicit = profiles_dir or os.environ.get("DBT_PROFILES_DIR")
    if explicit:
        # name the actual origin: ambient $DBT_PROFILES_DIR failing with
        # a message about a CLI flag the user never passed is misleading
        # (ADVICE r11)
        origin = "--profiles-dir" if profiles_dir else "$DBT_PROFILES_DIR"
        path = Path(explicit) / "profiles.yml"
        if not path.exists():
            raise ValueError(
                f"profiles dir {explicit} (from {origin}) has no "
                "profiles.yml (an explicit profiles dir never falls back "
                "to the project dir or ~/.dbt)"
            )
    else:
        for cand in (project_dir / "profiles.yml", Path.home() / ".dbt" / "profiles.yml"):
            if cand.exists():
                path = cand
                break
    if path is None:
        return None
    doc = _load_yaml(path)
    profile = doc.get(profile_name)
    if profile is None:
        # A home-dir profiles.yml belonging to some unrelated dbt setup
        # must not break a profile-less project; only a project-local
        # or explicitly-pointed file is authoritative enough to
        # hard-error on.
        if not explicit and path.parent == Path.home() / ".dbt":
            return None
        raise ValueError(
            f"profiles.yml at {path} has no profile {profile_name!r} "
            f"(available: {', '.join(sorted(doc))})"
        )
    outputs = profile.get("outputs", {})
    target_name = target or profile.get("target")
    if target_name not in outputs:
        raise ValueError(
            f"profile {profile_name!r} has no target {target_name!r} "
            f"(available: {', '.join(sorted(outputs))})"
        )
    out = dict(outputs[target_name])
    out["target"] = target_name
    return out
