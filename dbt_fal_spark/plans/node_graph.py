"""The model DAG — a networkx DiGraph, driver-side.

Mirrors the reference's NodeGraph (reference: projects/adapter/src/fal/
dbt/node_graph.py:100-141 build, :147-249 traversal): one node per model
and seed, keyed by unique id and carrying its ``DbtModel`` as ``model``,
with edges from ``depends_on``. Sources are always available and are not
nodes. Before/after scripts and hooks are not nodes either: each runs as
a side task of its model (``FalSpark._side_tasks``). Spark is not
involved — this is pure orchestration structure.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import networkx as nx

from dbt_fal_spark.project.manifest import Manifest


@dataclass
class NodeGraph:
    graph: nx.DiGraph = field(default_factory=nx.DiGraph)

    @classmethod
    def from_manifest(cls, manifest: Manifest) -> "NodeGraph":
        g = nx.DiGraph()
        for uid, model in manifest.models.items():
            g.add_node(uid, model=model)
        for uid, model in manifest.models.items():
            g.add_edges_from((dep, uid) for dep in model.depends_on if dep in g)
        return cls(graph=g)

    # --- traversal (reference: node_graph.py:147-249) ---

    def sort_nodes(self) -> list[str]:
        try:
            return list(nx.topological_sort(self.graph))
        except nx.NetworkXUnfeasible:
            # circular refs are a user error — report the cycle in dbt's
            # words instead of leaking a networkx exception type
            cyc = nx.find_cycle(self.graph)
            path = " --> ".join(edge[0] for edge in cyc) + f" --> {cyc[0][0]}"
            raise ValueError(
                f"Found a cycle in the model dependency graph: {path}"
            ) from None

    def get_successors(self, node: str, levels: int | None = None) -> list[str]:
        return self._neighborhood(node, levels, forward=True)

    def get_descendants(self, node: str) -> list[str]:
        return list(nx.descendants(self.graph, node))

    def get_predecessors(self, node: str, levels: int | None = None) -> list[str]:
        return self._neighborhood(node, levels, forward=False)

    def get_ancestors(self, node: str) -> list[str]:
        return list(nx.ancestors(self.graph, node))

    def _neighborhood(self, node: str, levels: int | None, *, forward: bool) -> list[str]:
        if levels is None:
            return self.get_descendants(node) if forward else self.get_ancestors(node)
        seen: set[str] = set()
        frontier = {node}
        for _ in range(levels):
            nxt: set[str] = set()
            for n in frontier:
                nxt.update(self.graph.successors(n) if forward else self.graph.predecessors(n))
            nxt -= seen | {node}
            seen.update(nxt)
            frontier = nxt
        return sorted(seen)

    def node_attr(self, node: str, key: str) -> Any:
        return self.graph.nodes[node].get(key)
