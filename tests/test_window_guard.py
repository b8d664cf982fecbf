"""The window-staging rule, enforced mechanically (VERDICT r7 item 2):
an operator whose implementing function or oracle changes after the
driver window was staged must occupy a leading window slot — otherwise
its driver-correctness evidence describes a plan that no longer exists.
tools/plan_hashes.json is the committed staging-time snapshot;
regenerate it with ``python tools/window_guard.py --update`` ONLY when
the changed entries are in the window."""

from __future__ import annotations

import importlib.util
import os

_GUARD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "window_guard.py",
)


def _load_guard():
    spec = importlib.util.spec_from_file_location("window_guard", _GUARD)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_snapshot_exists_and_covers_registry():
    g = _load_guard()
    snap = g.load_snapshot()
    assert snap, "tools/plan_hashes.json missing — run window_guard.py --update"
    # every registry entry must be snapshotted (new entries count as changed)
    assert len(snap) >= 126


def test_constants_are_hashed_and_flip_the_hash():
    """ADVICE r9 (medium): module-level semantic constants must be part
    of the hashed material — editing N_PERM-style values is a plan
    change. Simulated with a synthetic in-package module so the real
    registry stays untouched."""
    import sys
    import types

    g = _load_guard()
    mod = types.ModuleType("dbt_fal_spark._guard_const_probe")
    mod.CAP = 64
    sys.modules[mod.__name__] = mod
    try:
        src = "def probe():\n    return CAP + 1\n"
        exec(compile(src, "<probe>", "exec"), vars(mod))
        probe = mod.probe
        probe.__module__ = mod.__name__
        # inspect.getsource can't see exec'd code; patch a stable source
        import inspect
        import unittest.mock as um

        real_getsource = inspect.getsource

        def fake_getsource(obj):
            if obj is probe:
                return src
            return real_getsource(obj)

        with um.patch.object(g.inspect, "getsource", fake_getsource):
            consts1 = dict(g.closure_consts(probe))
            h1 = g.closure_hash(probe, None)
            assert f"{mod.__name__}.CAP" in consts1
            assert consts1[f"{mod.__name__}.CAP"] == "64"
            mod.CAP = 128
            g._ref_cache.clear()
            h2 = g.closure_hash(probe, None)
        assert h1 != h2, "constant edit must flip the closure hash"
    finally:
        del sys.modules[mod.__name__]
        g._ref_cache.clear()


def test_real_registry_entry_hashes_its_semantic_constants():
    """The empirical gap ADVICE r9 verified: N_PERM / PERMS /
    LSH_BUCKET_CAP must appear in d_minhash_lsh_pairs's hashed material,
    SHINGLE_DOC_CAP in d_ngram_jaccard_pairs's."""
    g = _load_guard()
    from dbt_fal_spark.registry import all_queries

    q = all_queries()
    lsh = [n for n, _ in g.closure_consts(q["d_minhash_lsh_pairs"].fn)]
    for want in ("N_PERM", "PERMS", "LSH_BUCKET_CAP", "N_BANDS"):
        assert any(n.endswith("." + want) for n in lsh), want
    jac = [n for n, _ in g.closure_consts(q["d_ngram_jaccard_pairs"].fn)]
    assert any(n.endswith(".SHINGLE_DOC_CAP") for n in jac)


def test_class_callees_resolve_module_globals():
    """ADVICE r9 (low): a class callee has no __globals__ — the walk must
    fall back to its defining module's namespace, so helpers called only
    from class methods stay in the closure."""
    g = _load_guard()
    from dbt_fal_spark import registry

    ns = g._module_ns(registry.QuerySpec)
    assert ns, "class namespace fallback returned empty"
    assert ns is vars(registry)


def test_const_fingerprint_is_order_independent():
    g = _load_guard()
    assert g._const_fingerprint({"b", "a", "c"}) == g._const_fingerprint({"c", "a", "b"})
    assert g._const_fingerprint({"k2": 2, "k1": 1}) == g._const_fingerprint({"k1": 1, "k2": 2})
    # objects without a stable repr are skipped, not hashed unstably
    assert g._const_fingerprint(object()) is None
    assert g._const_fingerprint([1, object()]) is None


def _probe_hash(g, probe, src):
    """closure_hash of ``probe`` as if its source were ``src``."""
    import unittest.mock as um

    real_getsource = g.inspect.getsource

    def fake_getsource(obj):
        return src if obj is probe else real_getsource(obj)

    g._ref_cache.clear()
    try:
        with um.patch.object(g.inspect, "getsource", fake_getsource):
            return g.closure_hash(probe, None)
    finally:
        g._ref_cache.clear()


def test_comment_and_docstring_edits_keep_the_hash():
    g = _load_guard()

    def probe(x):
        return x + 1

    base = _probe_hash(g, probe, "def probe(x):\n    return x + 1\n")
    commented = "def probe(x):\n    # add one\n\n    return x + 1  # the successor\n"
    documented = 'def probe(x):\n    """Add one."""\n    return x + 1\n'
    assert _probe_hash(g, probe, commented) == base
    assert _probe_hash(g, probe, documented) == base


def test_one_token_code_edit_flips_the_hash():
    g = _load_guard()

    def probe(x):
        return x + 1

    base = _probe_hash(g, probe, "def probe(x):\n    return x + 1\n")
    assert _probe_hash(g, probe, "def probe(x):\n    return x + 2\n") != base
    assert _probe_hash(g, probe, "def probe(x):\n    return x - 1\n") != base


def test_every_changed_entry_is_inside_the_staged_window():
    """Runs the guard CLI in a FRESH subprocess: closure hashes are
    defined at import time, and this pytest process may already have
    mutated in-package runtime caches (readers._SCAN_CACHE fills as
    Spark tests run) — hashing those mid-session would falsely flip
    every load_table caller (found as a test-order-dependent failure
    in r10)."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, _GUARD], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, (
        f"window guard failed:\n{proc.stdout}\n{proc.stderr[-500:]}\n"
        "— add the UNSTAGED entries to __spark_entry__._CHECK_FIRST and "
        "re-run tools/window_guard.py --update"
    )
