"""Module boundaries. ``materialize`` owns the on-disk table format
(version dirs, live pointer, vacuum keep sets, swap tokens) and the table
DDL that commits and attaches them: ``api`` calls its public verbs and
must not reach into the format's internals, and one function of
``materialize`` reads table metadata from the catalog. And
``session`` alone names the AQE conf and the profile marker: every
operator builds one plan, and the profile only sets session confs. User
Python runs through one in-process ``exec`` (``api``) and one child
runner (``environments``). A model's table has one write site in
``api``, ``FalSpark._materialize``. The DAG holds models and seeds only,
and ``plans/selectors`` alone evaluates selectors.yml set algebra. The
scheduler and its executor are one module, ``plans/schedule``, where a
task fails by raising (no status constants), and ``run_results.json``
has one reader, ``FalSpark.__init__``, and one writer,
``FalSpark._write_run_results``."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "dbt_fal_spark"
API = PACKAGE / "api.py"
FORMAT_INTERNALS = {"RETAIN_CONF", "table_swap_token"}


def _materialize_imports(tree: ast.AST) -> list[str]:
    """Names ``api.py`` imports from the materialize module, at any depth
    (a function-level ``from .materialize import x`` counts too)."""
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[-1] == "materialize":
            names += [a.name for a in node.names]
    return names


def test_api_imports_no_table_format_internals_from_materialize():
    names = _materialize_imports(ast.parse(API.read_text()))
    assert names, "api.py no longer imports materialize at all?"
    leaked = sorted(n for n in names if n.startswith("_") or n in FORMAT_INTERNALS)
    assert leaked == [], f"api.py imports materialize internals: {leaked}"


def _docstrings(tree: ast.AST) -> set[ast.AST]:
    return {
        node.body[0].value
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


SESSION_ONLY_CONFS = ("spark.sql.adaptive", "spark.dbt_fal.profile")


def test_only_session_reads_the_aqe_conf():
    """No string literal outside ``session.py`` names ``spark.sql.adaptive``
    or the ``spark.dbt_fal.profile`` marker (comments and docstrings may)."""
    readers = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "session.py" and path.parent == PACKAGE:
            continue
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        if any(
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and any(conf in node.value for conf in SESSION_ONLY_CONFS)
            and node not in docs
            for node in ast.walk(tree)
        ):
            readers.append(str(path.relative_to(PACKAGE)))
    assert readers == [], f"modules naming a session-only conf: {readers}"


TABLE_DDL = ("SET LOCATION", "RENAME TO", "MSCK REPAIR", "RECOVER PARTITIONS", "USING parquet LOCATION")


def test_only_materialize_holds_table_ddl():
    """No string literal outside ``materialize.py`` holds the DDL that
    commits or attaches a table's version dir (comments and docstrings
    may name it)."""
    holders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "materialize.py" and path.parent == PACKAGE:
            continue
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        if any(
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and any(ddl in node.value for ddl in TABLE_DDL)
            and node not in docs
            for node in ast.walk(tree)
        ):
            holders.append(str(path.relative_to(PACKAGE)))
    assert holders == [], f"modules holding table DDL: {holders}"


def _exec_calls(tree: ast.AST) -> int:
    return sum(
        isinstance(node, ast.Call) and isinstance(node.func, ast.Name) and node.func.id == "exec"
        for node in ast.walk(tree)
    )


def test_user_python_has_one_exec_site_and_one_child_runner():
    """The package calls ``exec`` in-process once, in ``api.py``, and
    ``environments.py`` holds one child-runner string that ``exec``s."""
    sites = {
        str(path.relative_to(PACKAGE)): n
        for path in sorted(PACKAGE.rglob("*.py"))
        if (n := _exec_calls(ast.parse(path.read_text())))
    }
    assert sites == {"api.py": 1}, sites
    tree = ast.parse((PACKAGE / "environments.py").read_text())
    runners = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and "exec(compile(" in node.value
    ]
    assert len(runners) == 1, [r.lineno for r in runners]


TABLE_WRITES = {"write_table", "replace_relation_atomic"}
LAYOUT_KEYS = {"partition_by", "bucket_by", "sort_by"}


def _calls_by_function(tree: ast.AST) -> dict[str, list[ast.Call]]:
    """Every call in ``tree``, keyed by the qualified name of the
    innermost function around it (``Class.method``)."""
    out: dict[str, list[ast.Call]] = {}

    def visit(node: ast.AST, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, f"{scope}.{child.name}".lstrip("."))
                continue
            if isinstance(child, ast.Call):
                out.setdefault(scope, []).append(child)
            visit(child, scope)

    visit(tree, "")
    return out


def test_model_tables_have_one_write_site():
    """In ``api.py`` only ``FalSpark._materialize`` calls the table-write
    verbs, save the test audit write of ``store_failures``, and no model
    layout is read through ``getattr``: every model-table write takes the
    model's declared layout from one place."""
    sites = {}
    layout_getattrs = []
    for scope, calls in _calls_by_function(ast.parse(API.read_text())).items():
        for call in calls:
            fn = call.func
            if isinstance(fn, ast.Name) and fn.id in TABLE_WRITES:
                sites.setdefault(scope, []).append(fn.id)
            if (
                isinstance(fn, ast.Name)
                and fn.id == "getattr"
                and len(call.args) >= 2
                and isinstance(call.args[1], ast.Constant)
                and call.args[1].value in LAYOUT_KEYS
            ):
                layout_getattrs.append(call.lineno)
    assert sites == {
        "FalSpark._materialize": ["replace_relation_atomic"],
        "FalSpark._run_test": ["write_table"],
    }, sites
    assert layout_getattrs == [], f"layout read through getattr at lines {layout_getattrs}"


def test_graph_holds_models_only():
    """Every node of the DAG is a model or seed of the manifest: scripts
    and hooks run as side tasks of their model, not as nodes."""
    from dbt_fal_spark.plans.node_graph import NodeGraph
    from dbt_fal_spark.project.loader import load_project

    manifest = load_project(Path(__file__).parent / "fixtures" / "jaffle_spark")
    assert any(m.get_scripts(before=False) for m in manifest.models.values())
    graph = NodeGraph.from_manifest(manifest)
    assert set(graph.graph) == set(manifest.models)


SELECTOR_SET_KEYS = {"union", "intersection"}


def test_only_selectors_evaluates_selector_set_algebra():
    """No package module but ``plans/selectors.py`` holds the selectors.yml
    keys ``union`` or ``intersection`` as a string literal."""
    holders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "plans" / "selectors.py":
            continue
        if any(
            isinstance(node, ast.Constant) and node.value in SELECTOR_SET_KEYS
            for node in ast.walk(ast.parse(path.read_text()))
        ):
            holders.append(str(path.relative_to(PACKAGE)))
    assert holders == [], f"modules holding selectors.yml set keys: {holders}"


MATERIALIZE = PACKAGE / "materialize.py"
TABLE_METADATA_CALLS = {"tableExists", "getTableMetadata"}


def test_materialize_reads_table_metadata_in_one_function():
    """``materialize.py`` holds no DESCRIBE or REFRESH TABLE statement (SET
    LOCATION refreshes the table itself), reads no table's schema off an
    analyzed ``spark.table``, and one function asks the catalog for a
    table: ``_catalog_entry``."""
    tree = ast.parse(MATERIALIZE.read_text())
    statements = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and ("DESCRIBE" in node.value or "REFRESH TABLE" in node.value)
    ]
    assert statements == [], f"DESCRIBE/REFRESH TABLE strings at lines {statements}"
    readers = sorted(
        scope
        for scope, calls in _calls_by_function(tree).items()
        if any(isinstance(c.func, ast.Attribute) and c.func.attr in TABLE_METADATA_CALLS for c in calls)
    )
    assert readers == ["_catalog_entry"], readers
    schema_reads = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr in ("schema", "columns")
        and isinstance(node.value, ast.Call)
        and isinstance(node.value.func, ast.Attribute)
        and node.value.func.attr == "table"
    ]
    assert schema_reads == [], f"spark.table(...) schema reads at lines {schema_reads}"


def test_scheduler_and_executor_are_one_module_without_status_constants():
    """``plans/executor.py`` is gone (its loop lives in ``plans/schedule``)
    and no package module binds ``SUCCESS`` or ``FAILURE``: a task fails
    by raising, and a status is dbt's word for it."""
    assert not (PACKAGE / "plans" / "executor.py").exists()
    holders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            names = []
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.ImportFrom):
                names = [a.asname or a.name for a in node.names]
            holders += [f"{path.relative_to(PACKAGE)}:{n}" for n in names if n in ("SUCCESS", "FAILURE")]
    assert holders == [], holders


def _string_sites(tree: ast.AST, needle: str) -> set[str]:
    """Qualified names of the functions holding a string literal (not a
    docstring) that contains ``needle``."""
    docs = _docstrings(tree)
    sites = set()

    def visit(node: ast.AST, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, f"{scope}.{child.name}".lstrip("."))
                continue
            if (
                isinstance(child, ast.Constant)
                and isinstance(child.value, str)
                and needle in child.value
                and child not in docs
            ):
                sites.add(scope)
            visit(child, scope)

    visit(tree, "")
    return sites


def test_run_results_has_one_reader_and_one_writer():
    """Only ``FalSpark.__init__`` names ``run_results.json`` to read it and
    only ``FalSpark._write_run_results`` names it to write it; ``run``
    keeps what it wrote in memory for ``run_scripts`` and the CLI."""
    sites = {
        f"{path.relative_to(PACKAGE)}:{scope}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for scope in _string_sites(ast.parse(path.read_text()), "run_results.json")
    }
    assert sites == {"api.py:FalSpark.__init__", "api.py:FalSpark._write_run_results"}, sites
