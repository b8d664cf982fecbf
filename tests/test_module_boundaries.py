"""Module boundary: ``materialize`` owns the on-disk table format (version
dirs, live pointer, vacuum keep sets, swap tokens). ``api`` calls its
public verbs and must not reach into the format's internals."""

from __future__ import annotations

import ast
from pathlib import Path

API = Path(__file__).resolve().parents[1] / "dbt_fal_spark" / "api.py"
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
