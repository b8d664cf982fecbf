"""Module boundaries. ``materialize`` owns the on-disk table format
(version dirs, live pointer, vacuum keep sets, swap tokens): ``api`` calls
its public verbs and must not reach into the format's internals. And
``session`` alone names the AQE conf and the profile marker: every
operator builds one plan, and the profile only sets session confs."""

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
