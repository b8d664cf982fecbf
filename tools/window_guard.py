"""Mechanical enforcement of the driver-window staging rule (VERDICT r7
item 2): every registry entry whose implementing function (or oracle
SQL) changed since the last staged check window MUST hold a leading
slot in ``__spark_entry__._CHECK_FIRST`` — otherwise its driver
evidence predates its current plan, the exact miss round 7 shipped
(d_embedding_neardup_lsh / d_ngram_jaccard_pairs were rewritten after
the window was staged).

Protocol:
- ``python tools/window_guard.py --update`` regenerates the committed
  snapshot ``tools/plan_hashes.json``. Run it ONLY when (re)staging the
  window — the snapshot means "these sources are what the staged window
  covers".
- ``python tools/window_guard.py`` (and tests/test_window_guard.py,
  which runs in every pytest pass) lists entries whose current hash
  differs from the snapshot and fails unless each one sits inside the
  window (the first 50 names of the final queries() ordering).

Granularity (hardened in r9, VERDICT r8 item 6; widened in r10, ADVICE
r9): the hash covers the entry's own function code, its oracle
string, the code of its TRANSITIVE in-package callees — module-level
names it references, ``from dbt_fal_spark...`` imports inside its body,
and attribute calls on in-package modules — AND the VALUES of
in-package module-level data constants those functions reference
(N_PERM, SHINGLE_DOC_CAP, PERMS, ...), fingerprinted deterministically
for plain-data types (scalars / str / bytes and containers thereof).
A function's or class's code is the ``ast.dump`` of its source with
every docstring stripped (``_code``): comments never reach the AST and
the dump carries no line numbers, so an edit to comments, docstrings or
blank lines leaves every hash as it was, while any edit to code flips
it. The dump format follows the Python version's AST, so re-snapshot
after moving to another Python minor version.
Editing a SHARED helper or a semantic constant therefore flips every
calling entry's hash; no manual stage-the-callers step remains for
functions, classes, or plain-data constants. Remaining manual-staging
caveat: a constant of a non-plain-data type (compiled regex, custom
object) has no deterministic fingerprint and is NOT hashed — changing
one still requires staging its callers by hand. Out-of-package calls
(pyspark, stdlib) are deliberately excluded — their churn is not a
plan change.

Hashes are defined AT IMPORT TIME OF A FRESH PROCESS: module-level
runtime caches (e.g. readers._SCAN_CACHE) are legitimate referenced
globals that mutate as queries run, so computing hashes mid-session
(e.g. inside a pytest process that already ran Spark tests) would
flip every caller. The CLI is always a fresh process;
tests/test_window_guard.py shells out for the same reason.
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import importlib
import inspect
import json
import os
import sys
import textwrap
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SNAPSHOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_hashes.json")
WINDOW = 50  # the driver records exactly the first 50 queries() entries
PKG = "dbt_fal_spark"

_ref_cache: dict[tuple[str, str], tuple[list, list]] = {}


def _in_pkg(obj) -> bool:
    return getattr(obj, "__module__", "").startswith(PKG) and isinstance(
        obj, (types.FunctionType, type)
    )


_SCALARS = (bool, int, float, complex, str, bytes, type(None))


def _const_fingerprint(val, depth: int = 0) -> str | None:
    """Deterministic textual fingerprint for a plain-data constant, or
    None when the value has no stable cross-run repr (objects print
    memory addresses; set iteration order follows randomized string
    hashing). Sets and dict items are sorted by element fingerprint so
    the result is run-independent."""
    if depth > 6:
        return None
    if isinstance(val, _SCALARS):
        return repr(val)
    if isinstance(val, (list, tuple)):
        parts = [_const_fingerprint(v, depth + 1) for v in val]
        if any(p is None for p in parts):
            return None
        lo, hi = ("[", "]") if isinstance(val, list) else ("(", ")")
        return lo + ",".join(parts) + hi
    if isinstance(val, (set, frozenset)):
        parts = [_const_fingerprint(v, depth + 1) for v in val]
        if any(p is None for p in parts):
            return None
        return "{" + ",".join(sorted(parts)) + "}"
    if isinstance(val, dict):
        items = []
        for k, v in val.items():
            kf = _const_fingerprint(k, depth + 1)
            vf = _const_fingerprint(v, depth + 1)
            if kf is None or vf is None:
                return None
            items.append(kf + ":" + vf)
        return "{" + ",".join(sorted(items)) + "}"
    return None


def _module_ns(fn) -> dict:
    """The module-global namespace fn's body resolves names in.
    Functions carry it as __globals__; classes do not (ADVICE r9: the
    old getattr(..., {}) truncated the closure at class boundaries), so
    fall back to the defining module's __dict__."""
    g = getattr(fn, "__globals__", None)
    if g is not None:
        return g
    mod = sys.modules.get(getattr(fn, "__module__", ""))
    return vars(mod) if mod is not None else {}


def _refs(fn) -> tuple[list, list]:
    """(callees, consts) directly referenced by fn's source: in-package
    functions/classes it names, plus (qualified name, fingerprint) for
    in-package module-level plain-data constants it reads — globals it
    names, ``from dbt_fal_spark.x import y`` bindings inside its body,
    and ``mod.attr`` access on in-package modules."""
    key = (getattr(fn, "__module__", ""), getattr(fn, "__qualname__", repr(fn)))
    if key in _ref_cache:
        return _ref_cache[key]
    out: list = []
    consts: list = []
    _ref_cache[key] = (out, consts)  # pre-seed: cycles terminate
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return out, consts
    g = _module_ns(fn)
    fn_mod = getattr(fn, "__module__", "")
    local: dict[str, object] = {}  # names bound by imports inside the body
    names: set[str] = set()
    attrs: set[tuple[str, str]] = set()  # (base name, attribute)
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            attrs.add((node.value.id, node.attr))
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(PKG):
            try:
                mod = importlib.import_module(node.module)
            except ImportError:
                continue
            for alias in node.names:
                obj = getattr(mod, alias.name, None)
                if obj is not None:
                    local[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    try:
                        local[alias.asname or alias.name] = importlib.import_module(alias.name)
                    except ImportError:
                        pass
    seen_ids = set()
    _MISSING = object()

    def _add(obj, qual):
        if _in_pkg(obj):
            if id(obj) not in seen_ids:
                seen_ids.add(id(obj))
                out.append(obj)
        elif obj is not _MISSING and not isinstance(obj, types.ModuleType):
            # underscore-prefixed module globals are runtime caches /
            # private mutable state by package convention (e.g.
            # readers._SCAN_CACHE) — fresh-process runs see them empty
            # today, but an env-derived private value would make
            # plan_hashes.json machine-dependent, so exclude the whole
            # naming class from fingerprinting (ADVICE r10)
            if qual.rsplit(".", 1)[-1].startswith("_"):
                return
            fp = _const_fingerprint(obj)
            if fp is not None:
                consts.append((qual, fp))

    in_pkg_mod = fn_mod.startswith(PKG)
    for n in sorted(names):
        if n.startswith("__"):
            continue
        obj = local[n] if n in local else g.get(n, _MISSING)
        if obj is _MISSING or (not in_pkg_mod and n not in local):
            continue
        _add(obj, f"{fn_mod}.{n}")
    for base, attr in sorted(attrs):
        holder = local.get(base, g.get(base))
        if isinstance(holder, types.ModuleType) and holder.__name__.startswith(PKG):
            _add(getattr(holder, attr, _MISSING), f"{holder.__name__}.{attr}")
    return out, consts


def _callees(fn) -> list:
    return _refs(fn)[0]


def _code(obj) -> str:
    """The hashed form of a function or class: ``ast.dump`` of its
    source with every docstring stripped. Source that does not parse on
    its own (a lambda's line) hashes as text."""
    try:
        src = textwrap.dedent(inspect.getsource(obj))
    except (OSError, TypeError):
        return "<source unavailable>"
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return src
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
            and isinstance(node.body[0].value.value, str)
        ):
            node.body = node.body[1:]
    return ast.dump(tree)


def closure_sources(fn) -> list[tuple[str, str]]:
    """Deterministic [(qualified name, code)] for fn's transitive
    in-package callee closure (fn itself excluded; see ``_code``)."""
    seen: set[tuple[str, str]] = set()
    stack = list(_callees(fn))
    found = []
    while stack:
        f = stack.pop()
        key = (getattr(f, "__module__", ""), getattr(f, "__qualname__", repr(f)))
        if key in seen:
            continue
        seen.add(key)
        found.append((f"{key[0]}.{key[1]}", f))
        stack.extend(_callees(f))
    return [(qual, _code(f)) for qual, f in sorted(found, key=lambda t: t[0])]


def closure_consts(fn) -> list[tuple[str, str]]:
    """Deterministic [(qualified name, fingerprint)] for every in-package
    plain-data constant referenced by fn or any member of its transitive
    in-package callee closure (fn itself INCLUDED — its own constants
    are semantics too)."""
    visited: set[tuple[str, str]] = set()
    stack = [fn]
    merged: dict[str, str] = {}
    while stack:
        f = stack.pop()
        key = (getattr(f, "__module__", ""), getattr(f, "__qualname__", repr(f)))
        if key in visited:
            continue
        visited.add(key)
        callees, consts = _refs(f)
        for qual, fp in consts:
            merged[qual] = fp
        stack.extend(callees)
    return sorted(merged.items())


def closure_hash(fn, oracle: str | None) -> str:
    h = hashlib.sha256()
    h.update(_code(fn).encode())
    h.update(b"\x1f")
    h.update((oracle or "").encode())
    for qual, src in closure_sources(fn):
        h.update(b"\x1e")
        h.update(qual.encode())
        h.update(b"\x1f")
        h.update(src.encode())
    for qual, fp in closure_consts(fn):
        h.update(b"\x1d")
        h.update(qual.encode())
        h.update(b"\x1f")
        h.update(fp.encode())
    return h.hexdigest()


def current_hashes() -> dict[str, str]:
    from dbt_fal_spark.registry import all_queries

    return {
        name: closure_hash(spec.fn, spec.oracle)
        for name, spec in all_queries().items()
    }


def load_snapshot() -> dict[str, str]:
    try:
        with open(SNAPSHOT) as f:
            return json.load(f)
    except OSError:
        return {}


def changed_entries() -> list[str]:
    """Entries whose closure hash differs from the committed snapshot
    (including entries new since the snapshot)."""
    snap = load_snapshot()
    return sorted(n for n, h in current_hashes().items() if snap.get(n) != h)


def window_names() -> list[str]:
    """The first WINDOW names of the driver's actual check order."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry_for_guard__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return list(mod.queries())[:WINDOW]


def unstaged_changes() -> list[str]:
    win = set(window_names())
    return [n for n in changed_entries() if n not in win]


def dead_window_names() -> list[str]:
    """_CHECK_FIRST names absent from the registry (r16 adversarial
    review): a renamed/deleted entry leaves its old name in the staged
    window, where _ordered() silently ignores it — the stager believes
    a slot is spent on it while a DIFFERENT entry (shifted up from the
    unstaged tail) actually occupies the 50th position. Likely a rename
    mistake; always an error since window history lives in git."""
    import importlib.util

    from dbt_fal_spark.registry import all_queries

    spec = importlib.util.spec_from_file_location(
        "__spark_entry_for_guard2__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    registered = set(all_queries())
    return [n for n in mod._CHECK_FIRST if n not in registered]


def stale_snapshot_names() -> list[str]:
    """Snapshot keys no longer in the registry — deleted/renamed entries
    whose hashes linger in plan_hashes.json until the next --update
    (which rewrites from the current registry). Informational: the
    guard's changed-entry scan iterates current hashes, so a stale key
    can never fail the gate, but it inflates the snapshot and hides a
    rename (delete+add flags only the add)."""
    from dbt_fal_spark.registry import all_queries

    return sorted(set(load_snapshot()) - set(all_queries()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--update", action="store_true",
        help="re-snapshot plan_hashes.json (only at window staging time)",
    )
    args = ap.parse_args()
    if args.update:
        with open(SNAPSHOT, "w") as f:
            json.dump(current_hashes(), f, indent=0, sort_keys=True)
            f.write("\n")
        print(f"snapshot written: {SNAPSHOT}")
        return 0
    changed = changed_entries()
    missing = unstaged_changes()
    dead = dead_window_names()
    stale = stale_snapshot_names()
    print(f"changed since snapshot: {len(changed)}")
    for n in changed:
        mark = "UNSTAGED" if n in missing else "windowed"
        print(f"  {mark}  {n}")
    if stale:
        print(f"stale snapshot keys (deleted/renamed entries): {stale}")
    if dead:
        print(
            f"\nFAIL: _CHECK_FIRST names absent from the registry: {dead} — "
            "a rename/delete left the staged window pointing at nothing; "
            "remove or fix the names (the 50th effective slot is silently "
            "filled by an unstaged entry otherwise)"
        )
        return 1
    if missing:
        print(
            "\nFAIL: the above UNSTAGED entries changed without a slot in the "
            "first 50 of queries() — add them to __spark_entry__._CHECK_FIRST, "
            "then re-run tools/window_guard.py --update"
        )
        return 1
    print("OK: every changed entry is inside the staged window")
    return 0


if __name__ == "__main__":
    sys.exit(main())
