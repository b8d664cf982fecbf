"""Distributed graph helpers.

``min_label_components`` is the engine's connected-components kernel
(used by ``operators/dedup.py::d_neardup_components``): every node is
labeled with the min node id reachable from it. That fixpoint is
unique, so results are independent of partitioning, execution order and
of which of the kernel's two paths ran.

- An edge list that fits the driver (≤ ``LOCAL_THRESHOLD`` rows) is
  labeled by a driver-side union-find in one collect.
- A larger one runs ``star_contraction_components``: large-star /
  small-star alternation (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC 2014), exact in O(log²) rounds on any
  diameter, because each large-star halves every long path instead of
  shortening it by one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

# Edge rows the driver union-find takes; above it, star contraction.
LOCAL_THRESHOLD = 500_000
# Non-trivial labels the union-find ships back as a literal map
# expression; above it, a broadcast join (bounds the plan's size).
LITERAL_THRESHOLD = 20_000


def star_contraction_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    ``edges`` are undirected pairs (src, dst), orientation irrelevant.
    Returns (id, label) with label = min node id of the component,
    reached in O(log²) rounds on ANY diameter:

    - large-star: each node u links every LARGER neighbor to the minimum
      of its neighborhood (incl. u) — halves long paths,
    - small-star: each node links its smaller neighbors (and itself) to
      that minimum — contracts the stars large-star built.

    Each round is two grouped-min joins over the current edge list —
    O(|E|) shuffle per round.
    Convergence = edge-set fixpoint, detected by (count, hash-sum): both
    are order-independent and the edge set is distinct-canonicalized, so
    an unchanged pair IS set equality (up to a 2⁻⁶⁴ hash collision — and
    one extra round on a converged set is idempotent anyway).
    """
    # localCheckpoint per round: persist() caches DATA but the logical
    # plan still accretes every prior round's operators — by round ~10
    # the tree is exponential and Catalyst itself becomes the bottleneck.
    # Checkpointing truncates lineage so each round plans against a flat
    # scan. (On a cluster, swap for reliable checkpoint() — localCheckpoint
    # trades executor-loss recovery for speed, fine for a bounded kernel.)
    cur = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    while True:
        # large-star: u's full neighborhood (both orientations)
        nbr = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            nbr.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", "src").alias("m"))
        )
        large = (
            nbr.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star: orient (bigger, smaller); link smaller nbrs + self to min
        sm = large.select(
            F.greatest("src", "dst").alias("c"), F.least("src", "dst").alias("d")
        )
        smins = sm.groupBy("c").agg(F.min("d").alias("m"))
        joined = sm.join(smins, "c")
        nxt = (
            joined.select(F.col("d").alias("src"), F.col("m").alias("dst"))
            .unionByName(joined.select(F.col("c").alias("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: int64 hash sums overflow long under ANSI
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        cur = nxt
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    # fixpoint: every edge is (member, component-min). Isolated/root nodes
    # label themselves.
    labels = cur.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("label"))
    # the returned lazy plan reads the final checkpoint's blocks; the
    # ContextCleaner reaps them once the result is dereferenced
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("label", "id").alias("label")
    )




def min_label_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Label every node with the min node id of its component.

    ``nodes``: one column ``id`` (long). ``edges``: columns ``src``,
    ``dst``, undirected (orientation irrelevant). Returns (id, label,
    component_size).

    When the edge list fits the driver (≤ ``LOCAL_THRESHOLD`` rows —
    for near-dup graphs the edges are the DUPLICATE pairs, tiny relative
    to the corpus even at 100 TB), the label map is computed with a
    driver-side union-find: the whole kernel is one collect. The size
    probe IS the collect — ``limit(threshold+1)`` either returns the
    whole edge list (one job, no separate count) or proves it exceeds
    the threshold. Non-trivial labels (nodes whose label ≠ own id — only
    edge-touched nodes can differ) and component sizes ship back as
    LITERAL map expressions when few (≤ ``LITERAL_THRESHOLD`` labels):
    labeling is then a pure map-side lookup over the node scan, no join,
    no second shuffle; bigger maps ride broadcast joins. Above ``LOCAL_THRESHOLD``, star contraction;
    callers should persist ``edges`` so its first round reads the cache
    the probe filled.
    """
    edge_rows = edges.select("src", "dst").limit(LOCAL_THRESHOLD + 1).collect()
    if len(edge_rows) > LOCAL_THRESHOLD:
        return star_contraction_components(nodes, edges).withColumn(
            "component_size", F.count(F.lit(1)).over(W.partitionBy("label"))
        )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edge_rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            # union by label order: root IS the min id of its tree
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    label_of = {x: find(x) for x in list(parent)}
    label_of = {x: lbl for x, lbl in label_of.items() if x != lbl}
    sizes: dict[int, int] = {}
    for lbl in label_of.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    for lbl in list(sizes):
        sizes[lbl] += 1  # the root labels itself

    if not label_of:
        return nodes.select("id", F.col("id").alias("label")).withColumn(
            "component_size", F.lit(1)
        )
    if len(label_of) <= LITERAL_THRESHOLD:
        label_map = F.create_map(*[F.lit(v) for kv in label_of.items() for v in kv])
        size_map = F.create_map(*[F.lit(v) for kv in sizes.items() for v in kv])
        return nodes.select(
            "id",
            F.coalesce(F.element_at(label_map, F.col("id")), F.col("id")).alias("label"),
        ).withColumn(
            "component_size",
            F.coalesce(F.element_at(size_map, F.col("label")), F.lit(1)),
        )
    # the size map is as long as the label map, so it rides a broadcast too
    spark = nodes.sparkSession
    lbl = spark.createDataFrame(list(label_of.items()), "id long, label long")
    size = spark.createDataFrame(list(sizes.items()), "label long, component_size int")
    return (
        nodes.join(F.broadcast(lbl), "id", "left")
        .select("id", F.coalesce("label", "id").alias("label"))
        .join(F.broadcast(size), "label", "left")
        .select("id", "label", F.coalesce("component_size", F.lit(1)).alias("component_size"))
    )
