"""Round-15 regression locks (VERDICT r14 items 1/2/5 + ADVICE r14).

Findings fixed this round:
- t_vocab_coverage / t_cms_heavy_hitters pushed the Heaps-law-unbounded
  token vocabulary through a single-partition ranking window; both now
  take the global top-K via orderBy().limit() (TakeOrderedAndProject —
  per-partition K-heaps, driver-side K×P merge) and only the ≤K
  survivors meet a single sort task. Locked by asserting the physical
  plan contains TakeOrderedAndProject and NO empty-partition-spec
  window over the frequency relation.
- t_tfidf_top_terms force-broadcast the vocab-sized df relation; the
  hint is gone (AQE's choice now) and the phantom "stopword prune"
  docstring claim is removed. Locked by scanning the optimized plan
  for a broadcast hint.
- _vacuum_versions re-checks the in-flight writer registry per
  directory, immediately before each rmtree (ADVICE r14: the
  caller-side snapshot left a register-after-snapshot window).
- _clean_output on documents that become fully covered by duplicated
  spans: verified consistent with the oracle (both drop the doc) —
  adversarial pass came up empty, behavior locked here.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# vocab-window scale fixes (VERDICT r14 items 1-2)
# ---------------------------------------------------------------------------


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_vocab_coverage_no_unbounded_single_partition_sort(spark):
    from dbt_fal_spark.operators.curation import t_vocab_coverage

    df = t_vocab_coverage(spark, SF_DIR)
    plan = _physical_plan(df)
    # the vocabulary-sized relation is pruned by TakeOrderedAndProject
    # (per-partition K-heaps), never globally sorted in one task
    assert "TakeOrderedAndProject" in plan
    # every Window in the plan carries a partition spec (the empty-spec
    # form is WindowExec's move-everything-to-one-task path); the spec
    # printed is windowspecdefinition(<partition>, <order> ...) — with
    # no partition key it starts directly with an ordering column
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            inner = line.split("windowspecdefinition(", 1)[1]
            first_arg = inner.split(",", 1)[0]
            assert "ASC" not in first_arg and "DESC" not in first_arg, (
                "window with empty partition spec (single-partition sort "
                "of an unbounded relation): " + line
            )
    spark.catalog.clearCache()


def test_cms_probe_side_has_no_window_at_all(spark):
    from dbt_fal_spark.operators.curation import t_cms_heavy_hitters

    df = t_cms_heavy_hitters(spark, SF_DIR)
    plan = _physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition" not in plan, (
        "the CMS probe ranking should be orderBy().limit(), not a window"
    )
    spark.catalog.clearCache()


def test_tfidf_df_join_not_force_broadcast(spark):
    """The vocab-sized df relation must not carry a broadcast HINT —
    broadcast is AQE's runtime choice (it still picks broadcast at test
    SFs; the hint is what breaks at a 100 TB vocabulary)."""
    from dbt_fal_spark.operators.text import t_tfidf_top_terms

    df = t_tfidf_top_terms(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "hints=[broadcast]" not in optimized
    # the phantom docstring claim is gone
    assert "scale path drops terms" not in (t_tfidf_top_terms.__doc__ or "")
    spark.catalog.clearCache()


def test_vocab_entries_still_match_their_oracles(spark):
    """The scale fix must not move a single value: re-run the in-repo
    oracle compare for the three changed entries at sf0.001."""
    import duckdb

    from dbt_fal_spark.registry import all_queries

    specs = all_queries()
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    for name in ("t_vocab_coverage", "t_cms_heavy_hitters", "t_tfidf_top_terms"):
        got = specs[name].fn(spark, SF_DIR)
        want = con.execute(specs[name].oracle).df()
        g = got.toPandas().sort_values(sorted(got.columns)).reset_index(drop=True)
        w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
        g = g[sorted(g.columns)]
        assert len(g) == len(w), name
        for col in g.columns:
            for a, b in zip(g[col], w[col]):
                if isinstance(a, float):
                    assert abs(a - b) < 1e-12, (name, col, a, b)
                else:
                    assert a == b, (name, col, a, b)
        spark.catalog.clearCache()
    con.close()


# ---------------------------------------------------------------------------
# vacuum in-flight re-check (ADVICE r14)
# ---------------------------------------------------------------------------


def test_vacuum_rechecks_inflight_registry_per_directory(tmp_path):
    """A version dir registered AFTER the vacuum call starts (the
    snapshot race) must survive: _vacuum_versions consults the registry
    immediately before each rmtree."""
    import dbt_fal_spark.materialize as mat

    base = tmp_path / "tbl"
    late = str(tmp_path / "tbl__v0badd00d")
    dead = str(tmp_path / "tbl__vdeadbeef")
    os.makedirs(late)
    os.makedirs(dead)
    with mat._INFLIGHT_LOCK:
        mat._INFLIGHT_DIRS.add(late)
    try:
        # keep is EMPTY — only the per-dir registry check can save `late`
        removed = mat._vacuum_versions(str(base), keep=set())
    finally:
        with mat._INFLIGHT_LOCK:
            mat._INFLIGHT_DIRS.discard(late)
    assert os.path.isdir(late), "in-flight dir was rmtree'd"
    assert not os.path.isdir(dead)
    assert removed == 1
    # after deregistration the same dir is collectable
    assert mat._vacuum_versions(str(base), keep=set()) == 1
    assert not os.path.isdir(late)


# ---------------------------------------------------------------------------
# _clean_output on fully-covered documents (r15 adversarial — pass came
# up empty; behavior verified consistent with the oracle and locked)
# ---------------------------------------------------------------------------


def test_clean_output_drops_fully_covered_docs(spark):
    from dbt_fal_spark.operators.curation import SPAN_K, _clean_output

    # doc 1: every position covered by duplicated k-gram starts -> drops
    # doc 2: spans cover a prefix only -> survives with the tail tokens
    # doc 3: no duplicated spans -> survives verbatim
    w1 = [f"t{i}" for i in range(SPAN_K * 2)]
    w2 = [f"u{i}" for i in range(SPAN_K + 3)]
    w3 = ["lone", "doc", "words"]
    ws = spark.createDataFrame(
        [(1, w1), (2, w2), (3, w3)], "doc_id int, w array<string>"
    )
    dup = spark.createDataFrame(
        [(1, 1), (1, SPAN_K + 1), (2, 1)], "doc_id int, pos int"
    )
    out = _clean_output(ws, dup).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == [2, 3], (
        "fully-covered doc must drop out (consistent with the oracle's "
        "inner-join-then-group shape)"
    )
    r2 = out[0]
    assert r2["n_kept"] == 3 and r2["n_removed"] == SPAN_K
    assert r2["text_clean"] == " ".join(w2[SPAN_K:])
    r3 = out[1]
    assert r3["n_kept"] == 3 and r3["n_removed"] == 0
    assert r3["text_clean"] == "lone doc words"
