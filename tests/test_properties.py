"""Property-based tests (hypothesis) — the rigor layer the reference
lacks entirely (SURVEY §5: no property testing anywhere in dbt-fal).

Each property pits a distributed kernel against an independent
single-node implementation on randomized inputs: the components kernel
against networkx, the salted join against the plain join. Example counts
are small because every example runs real Spark jobs.
"""

from __future__ import annotations

import networkx as nx
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbt_fal_spark.functions import graph
from dbt_fal_spark.functions.graph import min_label_components
from dbt_fal_spark.functions.skew import salted_join

N_NODES = 12
# the kernel's thresholds as shipped; the tests below force each path
LOCAL, LITERAL = graph.LOCAL_THRESHOLD, graph.LITERAL_THRESHOLD

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=N_NODES - 1),
        st.integers(min_value=0, max_value=N_NODES - 1),
    ),
    max_size=20,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_components_match_networkx(spark, monkeypatch, edges):
    g = nx.Graph()
    g.add_nodes_from(range(N_NODES))
    g.add_edges_from(edges)
    expected = {
        n: (min(comp), len(comp)) for comp in nx.connected_components(g) for n in comp
    }

    nodes = spark.createDataFrame([(i,) for i in range(N_NODES)], "id long")
    pairs = [(a, b) for a, b in edges if a != b]  # undirected: one orientation
    if pairs:
        edf = spark.createDataFrame(pairs, "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    # a zero edge threshold forces the distributed star-contraction path;
    # the defaults exercise the driver-local union-find with literal maps,
    # a zero label threshold its broadcast joins — all must hit the
    # fixpoint and agree on component sizes
    for local, literal in ((0, LITERAL), (LOCAL, LITERAL), (LOCAL, 0)):
        monkeypatch.setattr(graph, "LOCAL_THRESHOLD", local)
        monkeypatch.setattr(graph, "LITERAL_THRESHOLD", literal)
        got = {
            r["id"]: (r["label"], r["component_size"])
            for r in min_label_components(nodes, edf).collect()
        }
        assert got == expected


join_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=100)),
    max_size=25,
)
dim_keys = st.sets(st.integers(min_value=0, max_value=7), max_size=8)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(facts=join_rows, keys=dim_keys, how=st.sampled_from(["inner", "left"]))
def test_salted_join_equals_plain_join(spark, facts, keys, how):
    fact = spark.createDataFrame(facts or [(0, 0)], "k long, v long")
    if not facts:
        fact = fact.limit(0)
    dim = spark.createDataFrame([(k, f"name-{k}") for k in sorted(keys)] or [(0, "x")],
                                "k long, name string")
    if not keys:
        dim = dim.limit(0)
    plain = sorted(tuple(r) for r in fact.join(dim, on="k", how=how).collect())
    salted = sorted(tuple(r) for r in salted_join(fact, dim, on="k", how=how, salts=3).collect())
    assert salted == plain


# --- greedy sequence packing (operators/sampling.py) ---

token_lists = st.lists(st.integers(min_value=1, max_value=900), min_size=1, max_size=200)


@given(tokens=token_lists, budget=st.integers(min_value=8, max_value=600))
@settings(max_examples=200, deadline=None)
def test_greedy_pack_fold_properties(tokens, budget):
    """The per-shard fold used by t_pack_sequences/t_pack_emit: bins are
    contiguous, never exceed the budget except as single-doc overflow,
    and are greedily maximal (the next bin's head never fits)."""
    import pandas as pd

    from dbt_fal_spark.operators.sampling import _greedy_pack_fn

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(tokens)),
            "shard": [0] * len(tokens),
            "n_tokens": tokens,
        }
    )
    out = _greedy_pack_fn(budget)(pdf)
    bins = out["bin_id"].tolist()
    assert bins == sorted(bins)  # contiguous, monotone in doc order
    fills: dict[int, list[int]] = {}
    for b, n in zip(bins, out["n_tokens"]):
        fills.setdefault(b, []).append(int(n))
    assert sorted(fills) == list(range(len(fills)))  # no bin skipped
    for b, members in fills.items():
        assert sum(members) <= budget or len(members) == 1
        if b + 1 in fills:  # greedy maximality
            assert sum(members) + fills[b + 1][0] > budget


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_star_contraction_matches_networkx(spark, edges):
    from dbt_fal_spark.functions.graph import star_contraction_components

    g = nx.Graph()
    g.add_nodes_from(range(N_NODES))
    g.add_edges_from(edges)
    expected = {n: min(comp) for comp in nx.connected_components(g) for n in comp}

    nodes = spark.createDataFrame([(i,) for i in range(N_NODES)], "id long")
    pairs = [(a, b) for a, b in edges if a != b]
    if pairs:
        edf = spark.createDataFrame(pairs, "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    got = {
        r["id"]: r["label"]
        for r in star_contraction_components(nodes, edf).collect()
    }
    assert got == expected


def test_adversarial_chain_reaches_fixpoint_distributed(spark, monkeypatch):
    """A path graph's diameter is the worst case for label spreading;
    above the driver threshold the kernel's star contraction must still
    reach the exact fixpoint, with the whole chain as one component."""
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = [(i, i + 1) for i in range(n - 1)]
    edf = spark.createDataFrame(chain, "src long, dst long").persist()
    monkeypatch.setattr(graph, "LOCAL_THRESHOLD", 0)
    got = {
        r["id"]: (r["label"], r["component_size"])
        for r in min_label_components(nodes, edf).collect()
    }
    assert got == {i: (0, n) for i in range(n)}
    edf.unpersist()


def test_star_contraction_round_growth_is_logarithmic(spark):
    """O(log²) convergence: a 64-node chain must finish in far fewer
    star rounds than its 63-edge diameter (min-label would need ~63)."""
    from dbt_fal_spark.functions import graph as G

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")

    rounds = {"n": 0}
    orig = G.F.count

    def counting(*a, **kw):  # each star round calls F.count exactly once (the sig agg)
        rounds["n"] += 1
        return orig(*a, **kw)

    G.F.count = counting
    try:
        got = {r["id"]: r["label"] for r in G.star_contraction_components(nodes, edf).collect()}
    finally:
        G.F.count = orig
    assert got == {i: 0 for i in range(n)}
    assert rounds["n"] <= 12, f"{rounds['n']} rounds for diameter 63 — not O(log²)"
