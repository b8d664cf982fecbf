"""Command-line entry point mirroring the reference's CLI verbs.

Reference surface (projects/adapter/src/fal/dbt/cli/cli.py:14-41,
args.py:205-276):
- ``fal flow run``  → ``python -m dbt_fal_spark flow run``   (models + scripts/hooks)
- ``fal run``       → ``python -m dbt_fal_spark run``        (post-run scripts mode,
  reference: fal_runner.py:34-76 — scripts around models from the last run_results)
- plus ``test`` and ``source freshness`` verbs (the reference delegates
  these to dbt; here the engine owns them).

Shared level flags (reference args.py): ``--project-dir``, ``--select``,
``--exclude``, ``--threads``, ``--vars``; ``run`` adds ``--all`` /
``--before``/``--after`` script scoping.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dbt_fal_spark")
    # reference parity: `fal --version` (args.py:28-34) — the one CLI
    # delta VERDICT r11 noted
    from dbt_fal_spark import __version__

    p.add_argument("--version", action="version", version=f"dbt_fal_spark {__version__}")
    sub = p.add_subparsers(dest="command", required=True)

    def add_common(sp: argparse.ArgumentParser) -> None:
        sp.add_argument("--project-dir", default=".", help="dbt-style project directory")
        sp.add_argument("-s", "--select", nargs="*", default=None, help="node selectors (dbt syntax)")
        # dbt/reference parity (reference args.py:129-134): -m/--models is
        # a plain alias of --select — same dest, last flag wins
        sp.add_argument("-m", "--models", nargs="*", default=None, dest="select",
                        help="alias of --select")
        sp.add_argument("--selector", default=None,
                        help="named selector from selectors.yml (reference args.py:135-138)")
        sp.add_argument("--exclude", nargs="*", default=None)
        sp.add_argument("--threads", type=int, default=None, help="parallelism (default: profiles.yml threads, else 4)")
        # reference parity (args.py:107-117): --vars is a YAML string,
        # e.g. '{my_variable: my_value}' — JSON is a YAML subset, so
        # JSON callers keep working
        sp.add_argument("--vars", default="{}",
                        help="YAML dict of project vars, e.g. '{key: value}'")
        sp.add_argument("--target", default=None, help="profiles.yml target (e.g. dev, prod)")
        sp.add_argument("--profiles-dir", default=None,
                        help="directory holding profiles.yml (default: $DBT_PROFILES_DIR, "
                             "then the project dir, then ~/.dbt)")
        sp.add_argument("--debug", action="store_true",
                        help="show debug logging during execution")
        sp.add_argument("--disable-logging", action="store_true",
                        help="silence engine logging")
        sp.add_argument("--state", default=None, help="external artifact dir for state: selectors / --defer")

    flow = sub.add_parser("flow", help="flow verbs")
    flow_sub = flow.add_subparsers(dest="flow_command", required=True)
    flow_run = flow_sub.add_parser("run", help="run models with their scripts and hooks")
    add_common(flow_run)
    flow_run.add_argument(
        "--full-refresh", action="store_true",
        help="rebuild incremental models from scratch (dbt --full-refresh)",
    )
    flow_run.add_argument(
        "--fail-fast", action="store_true",
        help="stop launching new models after the first failure",
    )
    flow_run.add_argument(
        "--defer", action="store_true", dest="defer_",
        help="resolve unselected upstream refs against the --state environment",
    )

    run = sub.add_parser("run", help="post-run scripts mode (reference: fal run)")
    add_common(run)
    run.add_argument("--all", action="store_true", help="ignore last run_results; run for all models")
    run.add_argument("--scripts", nargs="*", default=None, help="only these script files")
    # reference CLI scoping (fal_runner.py:34-76): plain `run` = AFTER
    # scripts, `run --before` = BEFORE scripts; `--both` keeps the old
    # run-everything behavior
    scope = run.add_mutually_exclusive_group()
    scope.add_argument("--before", action="store_true", help="run BEFORE scripts/pre-hooks instead of AFTER")
    scope.add_argument("--both", action="store_true", help="run both BEFORE and AFTER scripts")
    run.add_argument("--globals", dest="globals_", action="store_true",
                     help="run GLOBAL scripts even when --select/--scripts is passed")

    test = sub.add_parser("test", help="generic + singular tests")
    add_common(test)

    # D10 interface stub: the verb exists so reference users find a
    # documented answer, not a missing command (reference: serverless
    # dispatch in adapter.py:68-149 — out of scope per the build brief)
    cloud = sub.add_parser(
        "cloud", help="cloud execution (out of scope — prints why and exits 1)"
    )
    add_common(cloud)

    # dbt debug parity (reference commands.feature 'Run dbt debug'):
    # validate project load, profile resolution, and Spark connectivity
    dbg = sub.add_parser("debug", help="validate project, profile, Spark connectivity")
    add_common(dbg)

    snap = sub.add_parser("snapshot", help="run SCD2 snapshots")
    add_common(snap)
    snap.add_argument("--as-of", default=None, help="run timestamp for check-strategy transitions")

    docs = sub.add_parser("docs", help="docs verbs")
    docs_sub = docs.add_subparsers(dest="docs_command", required=True)
    gen = docs_sub.add_parser("generate", help="write target/catalog.json")
    add_common(gen)

    maint = sub.add_parser("maintenance", help="table maintenance verbs")
    maint_sub = maint.add_subparsers(dest="maint_command", required=True)
    compact = maint_sub.add_parser(
        "compact", help="heal small-file fragmentation (coalesce + atomic swap)"
    )
    add_common(compact)
    compact.add_argument("--partitions", type=int, default=None,
                         help="target partition count (default: executor parallelism)")
    analyze = maint_sub.add_parser(
        "analyze", help="ANALYZE TABLE: catalog stats for Catalyst's CBO"
    )
    add_common(analyze)
    analyze.add_argument("--no-columns", action="store_true",
                         help="skip per-column NDV/min/max stats")
    vacuum = maint_sub.add_parser(
        "vacuum", help="delete non-live copy-on-write version dirs (grace window)"
    )
    add_common(vacuum)

    source = sub.add_parser("source", help="source verbs")
    source_sub = source.add_subparsers(dest="source_command", required=True)
    fresh = source_sub.add_parser("freshness", help="compute source freshness")
    add_common(fresh)

    return p


def resolve_named_selector(project_dir: str, name: str):
    """Load selectors.yml and return the definition of selector ``name``
    as loaded (a string, list or dict, evaluated by ``select_nodes``)."""
    from pathlib import Path

    import yaml

    path = Path(project_dir) / "selectors.yml"
    if not path.is_file():
        raise ValueError(f"--selector {name!r}: no selectors.yml in {project_dir}")
    doc = yaml.safe_load(path.read_text()) or {}
    for entry in doc.get("selectors", []):
        if entry.get("name") == name:
            if not entry.get("definition"):
                # an empty definition would select every node
                raise ValueError(f"--selector {name!r} has no definition in selectors.yml")
            return entry["definition"]
    known = ", ".join(e.get("name", "?") for e in doc.get("selectors", []))
    raise ValueError(f"--selector {name!r} not found in selectors.yml (have: {known})")


def _parse_cli_vars(raw: str) -> dict:
    """dbt/reference parity (reference args.py:107-117 + dbt
    parse_cli_vars): ``--vars`` is a YAML string — ``'{key: value}'``
    without JSON quoting must work; JSON is a YAML subset so JSON
    callers keep working. Non-dict YAML is a clear usage error, not a
    traceback."""
    import yaml

    try:
        parsed = yaml.safe_load(raw)
    except yaml.YAMLError as e:
        raise ValueError(f"--vars is not valid YAML: {e}") from e
    if parsed is None:
        return {}
    if not isinstance(parsed, dict):
        raise ValueError(
            f"--vars must be a YAML dict like '{{key: value}}', got: {raw!r}"
        )
    return parsed


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if getattr(args, "selector", None):
        if args.select:
            print("cannot pass both --select/--models and --selector", file=sys.stderr)
            return 2
        try:
            args.select = resolve_named_selector(args.project_dir, args.selector)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
    try:
        cli_vars = _parse_cli_vars(args.vars)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    # --debug / --disable-logging (reference: args.py:205-276 level
    # flags): the package logger defaults to WARNING; --debug opens it
    # (and Spark's) up, --disable-logging shuts both off. Configured
    # BEFORE FalSpark so session/manifest loading logs obey the flag.
    import logging

    pkg_log = logging.getLogger("dbt_fal_spark")
    if getattr(args, "debug", False):
        logging.basicConfig(format="%(asctime)s %(name)s %(levelname)s %(message)s")
        pkg_log.setLevel(logging.DEBUG)
    elif getattr(args, "disable_logging", False):
        pkg_log.setLevel(logging.CRITICAL + 1)

    if args.command == "cloud":
        # D10 stub: no session, no project load — just the documented
        # out-of-scope answer (reference adapter.py:68-149 is the real
        # serverless dispatch; this engine's scale-out IS the Spark
        # cluster)
        print(
            "fal cloud is out of scope for dbt_fal_spark: this engine scales "
            "out through the Spark cluster itself — size the cluster (or use "
            "spark.archives to ship conda environments to executors) instead "
            "of a serverless vendor. Isolated local execution is available "
            "via 'venv'/'conda' environments in fal_project.yml "
            "(SURVEY §2 D8-D10).",
            file=sys.stderr,
        )
        return 1

    # import late so `--help` works without a JVM
    from dbt_fal_spark.api import FalSpark

    try:
        fal = FalSpark(
            args.project_dir,
            vars=cli_vars,
            target=getattr(args, "target", None),
            state_path=getattr(args, "state", None),
            defer=getattr(args, "defer_", False),
            profiles_dir=getattr(args, "profiles_dir", None),
        )
    except ValueError as e:
        # bad --profiles-dir / missing profile target: usage error, not
        # a traceback
        print(str(e), file=sys.stderr)
        return 2
    except Exception as e:  # noqa: BLE001
        if args.command == "debug":
            # debug exists to DIAGNOSE a broken setup — a project that
            # fails to load (bad YAML, unreadable model file, …) must
            # come back as a FAIL report, not a traceback (r13 review)
            print(f"project load: FAIL ({type(e).__name__}: {e})")
            return 1
        raise
    if getattr(args, "disable_logging", False):
        # Spark's own WARN chatter counts as logging too; package DEBUG
        # deliberately does NOT flip Spark to INFO (hundreds of
        # lines/task — useless for debugging a model DAG)
        fal.spark.sparkContext.setLogLevel("ERROR")

    from dbt_fal_spark.plans.selectors import SelectorError

    try:
        return _command(fal, args)
    except SelectorError as e:
        # a selector the graph cannot evaluate: usage error, not a traceback
        print(str(e), file=sys.stderr)
        return 2


def _exception_line(tb: str) -> str:
    """The ``Type: message`` line of a traceback: the first unindented
    line after its last frame (a Spark error's message goes on with
    its plan)."""
    lines = tb.strip().splitlines()
    last_frame = max((i for i, line in enumerate(lines) if line.startswith('  File "')), default=-1)
    return next((line for line in lines[last_frame + 1:] if not line.startswith(" ")), lines[-1])


def _report(fal, statuses: dict[str, str]) -> int:
    """Print one status line per node, then each failed node's id beside
    its exception line (``fal.errors``); 1 unless every node succeeded."""
    for node, status in sorted(statuses.items()):
        print(f"{status:8s} {node}")
    for node, tb in sorted(fal.errors.items()):
        print(f"error detail ({node}): {_exception_line(tb)}", file=sys.stderr)
    return 0 if all(s == "success" for s in statuses.values()) else 1


def _command(fal, args) -> int:
    """Run the verb ``args`` names against the loaded project."""
    if args.command == "debug":
        # dbt debug parity: each check prints OK/FAIL; exit 1 on any FAIL
        ok = True
        print(f"project dir: {fal.project_dir}")
        print(f"models: {len(fal.manifest.models)}  sources: {len(fal.manifest.sources)}  tests: {len(fal.manifest.tests)}")
        print(f"profile target: {fal.target_name or '(none — project defaults)'}")
        print(f"schema: {fal.schema}")
        wh = fal._warehouse_dir or fal.spark.conf.get("spark.sql.warehouse.dir", "?")
        print(f"warehouse: {wh}")
        print(f"spark: {fal.spark.version} master={fal.spark.conf.get('spark.master', '?')}")
        try:
            fal.spark.sql("select 1").collect()
            print("connection test: OK")
        except Exception as e:  # noqa: BLE001 — report, don't traceback
            ok = False
            print(f"connection test: FAIL ({type(e).__name__}: {e})")
        return 0 if ok else 1

    if args.command == "flow":
        statuses = fal.run(select=args.select, exclude=args.exclude, threads=args.threads, full_refresh=getattr(args, "full_refresh", False), fail_fast=getattr(args, "fail_fast", False))
        return _report(fal, statuses)

    if args.command == "run":
        ran = fal.run_scripts(
            select=args.select,
            exclude=args.exclude,
            use_last_run=not args.all,
            only_scripts=args.scripts,
            before=None if args.both else args.before,
            include_globals=True if args.globals_ else None,
        )
        for node in ran:
            print(f"ran      {node}")
        return 0

    if args.command == "test":
        results = fal.test(select=args.select, exclude=args.exclude)
        bad = 0
        for r in results:
            status = r["status"]
            # severity:warn violations print but don't fail the run
            bad += status not in ("tested", "warn")
            print(f"{status:8s} {r['test']} violations={r.get('violations', '?')}")
        return 0 if bad == 0 else 1

    if args.command == "snapshot":
        return _report(fal, fal.snapshot(select=args.select, as_of=args.as_of))

    if args.command == "source":
        # dbt semantics: the freshness COMMAND always recomputes (it is
        # the thing that PRODUCES sources.json) — artifact ingestion is
        # for the load/API path, else the first artifact would freeze
        # freshness forever (r12 review finding)
        results = fal.source_freshness(recompute=True)
        for r in results:
            age = r.get("age_sec")
            age_s = f"{age:.0f}s" if age is not None else "?"
            print(f"{r['status']:6s} {r['source']} age={age_s}")
        # dbt writes target/sources.json from the freshness command;
        # mirror that so downstream dbt-artifact consumers (and our own
        # next load) can ingest it
        fal._write_sources_artifact()
        return 0

    if args.command == "maintenance":
        # every character selectors.py treats as syntax: graph operators
        # (+ @), tag:/path:/state: prefixes, comma-intersections, path
        # separators, AND the fnmatch glob set (* ? [) honored by
        # _name_match — 'stg_?' must route through the selector engine,
        # not the exact-name branch; so must every named selector
        plain = lambda t: not any(ch in t for ch in "+:,*@/?[")  # noqa: E731
        if args.select and not args.selector and all(plain(t) for t in args.select) and not args.exclude:
            # plain model names: exact-name contract — unknown names and
            # an explicit view/ephemeral both error clearly (the latter
            # inside compact/analyze)
            known = {m.name for m in fal.list_models()}
            unknown = [n for n in args.select if n not in known]
            if unknown:
                print(
                    f"maintenance: unknown model(s): {', '.join(unknown)}",
                    file=sys.stderr,
                )
                return 2
            names = args.select
        elif args.select or args.exclude:
            # selector syntax (tag:, +model, globs, --exclude): resolve
            # through the same engine flow run uses, then — like bulk
            # mode — keep only table-materialized models (a tag sweep
            # legitimately matches views; they have no files to maintain)
            from dbt_fal_spark.plans.selectors import select_nodes

            sel = select_nodes(
                fal.graph, args.select, args.exclude, state=fal._load_state()
            )
            models = (fal.graph.node_attr(node, "model") for node in sel)
            names = sorted(m.name for m in models if fal.is_table_model(m.name))
            if not names:
                print(
                    "maintenance: selector matched no table-materialized models",
                    file=sys.stderr,
                )
                return 2
        else:
            # bulk mode silently skips views/ephemerals (no files to
            # maintain); a views-only project is a no-op, not an error
            names = [m.name for m in fal.list_models() if fal.is_table_model(m.name)]
        for name in names:
            if args.maint_command == "compact":
                n = fal.compact(name, target_partitions=args.partitions)
                print(f"compacted {name} -> {n} partitions")
            elif args.maint_command == "vacuum":
                n = fal.vacuum(name)
                print(f"vacuumed {name}: removed {n} version dir(s)")
            else:
                fal.analyze(name, columns=not args.no_columns)
                print(f"analyzed {name}")
        return 0

    if args.command == "docs":
        out = fal.generate_docs()
        print(f"wrote {out}")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
