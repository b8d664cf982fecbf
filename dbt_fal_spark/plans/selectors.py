"""dbt-style node selection over the model DAG.

``select_nodes`` is the one evaluator of a selector definition. It takes
each form dbt accepts and evaluates it directly to a set of nodes:

- a string: space-separated words are a union, ``a,b`` an intersection
  of the fully expanded components (``+a,b+`` is (+a) ∩ (b+)) (reference:
  selectors.py:78-125);
- a list: the union of its items;
- a selectors.yml dict: ``{union: [...]}``, ``{intersection: [...]}``, or
  a ``method``/``value`` criterion (methods ``fqn``, ``path``, ``tag``,
  ``state``) with optional ``parents``/``children`` and their depths.

``--exclude`` takes the same forms and subtracts. The words of the
selector language mirror the reference's (reference: projects/adapter/
src/fal/dbt/cli/selectors.py:13-65 plan build, :156-226 SelectorPlan,
:228-242 tag/complex, :294-303 regex ops):

- ``model``           the node itself (fnmatch globs: ``stg_*``)
- ``+model``          ancestors + node          (``n+model`` = n levels)
- ``model+``          node + descendants        (``model+n`` = n levels)
- ``@model``          node + descendants + ancestors-of-descendants
- ``tag:x``           nodes carrying tag x
- ``dir/file.sql``    models whose file path ends with the term
- ``fqn:x``, ``path:dir/file.sql``  the same as the bare word, as in
  selectors.yml; any other ``method:`` prefix is a ``SelectorError``
- ``state:modified`` / ``state:new``  models whose checksum changed / that
  did not exist in the saved state (reference: selectors.py:228-242 routes
  these to dbt's state machinery; here the state is the checksum snapshot
  the last run wrote — see ``model_checksums`` / FalSpark ``target/``)

Scripts are not graph nodes: they run as side tasks of their model, so a
bare ``*.py``/``*.ipynb`` word is an error that points to
``fal run --scripts``.
"""

from __future__ import annotations

import fnmatch
import hashlib
import re
from dataclasses import dataclass

from dbt_fal_spark.plans.node_graph import NodeGraph

# a depth counts only next to its `+`: `m15` is a name, `2+m` and `m+1` are depths
OP_PLUS_RE = r"(?:(?P<pre_n>\d*)(?P<pre_plus>\+))?(?P<body>[^+]+?)(?:(?P<post_plus>\+)(?P<post_n>\d*))?$"

# a selector definition: a string of words, a list, or a selectors.yml dict
Selector = str | list | dict | None


class SelectorError(ValueError):
    """A selector definition the graph cannot evaluate (a usage error)."""


# the selector methods, as a `method:value` word prefix or a selectors.yml
# `method`: fqn and path match like a bare word (a name, or a path with a `/`)
_METHODS = {"fqn": {}, "path": {}, "tag": {"is_tag": True}, "state": {"is_state": True}}


def model_checksum(model) -> str:
    """Content checksum of a model's definition (SQL or Python source)."""
    if model.raw_sql is not None:
        body = model.raw_sql
    elif model.python_model is not None:
        body = model.python_model.read_text()
    else:
        body = ""
    return hashlib.md5(body.encode()).hexdigest()


def model_checksums(manifest) -> dict[str, str]:
    """name → checksum for every model, the persistable state snapshot."""
    return {m.name: model_checksum(m) for m in manifest.models.values()}


@dataclass
class SelectorPlan:
    body: str
    ancestors: bool = False
    ancestor_levels: int | None = None
    descendants: bool = False
    descendant_levels: int | None = None
    at_operator: bool = False
    is_tag: bool = False
    is_state: bool = False

    @classmethod
    def parse(cls, raw: str) -> "SelectorPlan":
        if raw.startswith("@"):
            body, ops = raw[1:], dict(at_operator=True, descendants=True)
        elif m := re.match(OP_PLUS_RE, raw):
            body = m.group("body")
            ops = dict(
                ancestors=bool(m.group("pre_plus")),
                ancestor_levels=int(m.group("pre_n")) if m.group("pre_n") else None,
                descendants=bool(m.group("post_plus")),
                descendant_levels=int(m.group("post_n")) if m.group("post_n") else None,
            )
        else:
            body, ops = raw, {}
        # graph operators compose with prefixed matchers (dbt semantics:
        # `state:modified+`, `+tag:nightly`)
        method, colon, value = body.partition(":")
        if not colon:
            return cls(body=body, **ops)
        if method not in _METHODS:
            raise SelectorError(
                f"unsupported selector method {method!r} in {raw!r} (have: {', '.join(_METHODS)})"
            )
        return cls(body=value, **_METHODS[method], **ops)


def _name_match(name: str, pattern: str) -> bool:
    """dbt selector name matching: plain equality, or fnmatch when the
    pattern carries glob characters (dbt supports `--select staging_*`,
    `tag:night*`)."""
    if "*" in pattern or "?" in pattern or "[" in pattern:
        return fnmatch.fnmatchcase(name, pattern)
    return name == pattern


def _path_match(path, pattern: str) -> bool:
    """Path-form selector (dbt `path:` method / bare path terms like
    models/staging/orders.sql): match the model file's trailing path."""
    pattern = pattern.lstrip("/")
    return path is not None and (
        str(path).endswith("/" + pattern) or fnmatch.fnmatchcase(str(path), "*/" + pattern)
    )


def _match_nodes(graph: NodeGraph, plan: SelectorPlan, state: dict[str, str] | None) -> set[str]:
    if not (plan.is_tag or plan.is_state or "/" in plan.body) and plan.body.endswith((".py", ".ipynb")):
        raise SelectorError(
            f"selector {plan.body!r} names a script file, and scripts are not graph "
            f"nodes: they run with their model. Use `fal run --scripts {plan.body}`."
        )
    out: set[str] = set()
    for node, model in graph.graph.nodes(data="model"):
        if plan.is_state:
            # "modified" counts new models too (dbt semantics)
            prior = (state or {}).get(model.name)
            hit = prior is None or (plan.body != "new" and prior != model_checksum(model))
        elif plan.is_tag:
            hit = any(_name_match(t, plan.body) for t in model.tags or [])
        else:
            hit = _name_match(node.split(".")[-1], plan.body) or (
                "/" in plan.body and _path_match(model.path, plan.body)
            )
        if hit:
            out.add(node)
    return out


def _expand(graph: NodeGraph, plan: SelectorPlan, state: dict[str, str] | None) -> set[str]:
    """One selector component: match + graph-operator expansion."""
    base = _match_nodes(graph, plan, state)
    expanded = set(base)
    for node in base:
        if plan.ancestors:
            expanded.update(graph.get_predecessors(node, plan.ancestor_levels))
        if plan.descendants:
            expanded.update(graph.get_successors(node, plan.descendant_levels))
        if plan.at_operator:
            for d in graph.get_descendants(node):
                expanded.add(d)
                expanded.update(graph.get_ancestors(d))
    return expanded


def _eval_word(graph: NodeGraph, word: str, state: dict[str, str] | None) -> set[str]:
    """One space-delimited selector word; ``a,b`` intersects the fully
    expanded component sets."""
    parts = [_expand(graph, SelectorPlan.parse(p), state) for p in word.split(",") if p]
    return set.intersection(*parts) if parts else set()


def _criterion(d: dict) -> SelectorPlan:
    """A selectors.yml ``method``/``value`` criterion as a selector plan."""
    if d["method"] not in _METHODS:
        raise SelectorError(
            f"unsupported selectors.yml method {d['method']!r} (have: {', '.join(_METHODS)})"
        )
    depth = lambda key: None if d.get(key) is None else int(d[key])  # noqa: E731
    return SelectorPlan(
        body=str(d.get("value", "")),
        ancestors=bool(d.get("parents")),
        ancestor_levels=depth("parents_depth"),
        descendants=bool(d.get("children")),
        descendant_levels=depth("children_depth"),
        **_METHODS[d["method"]],
    )


def _evaluate(graph: NodeGraph, d: Selector, state: dict[str, str] | None) -> set[str]:
    if isinstance(d, str):
        return set().union(*(_eval_word(graph, w, state) for w in d.split()))
    if isinstance(d, list):
        return set().union(*(_evaluate(graph, item, state) for item in d))
    if isinstance(d, dict):
        if "union" in d:
            return _evaluate(graph, d["union"], state)
        if "intersection" in d:
            parts = [_evaluate(graph, item, state) for item in d["intersection"]]
            return set.intersection(*parts) if parts else set()
        if "method" in d:
            return _expand(graph, _criterion(d), state)
    raise SelectorError(f"unsupported selectors.yml definition: {d!r}")


def select_nodes(
    graph: NodeGraph,
    select: Selector,
    exclude: Selector = None,
    state: dict[str, str] | None = None,
) -> set[str]:
    """Evaluate a selector definition → node id set; an empty one selects
    everything. ``state`` is the prior name→checksum snapshot for
    ``state:`` selectors."""
    selected = _evaluate(graph, select, state) if select else set(graph.graph.nodes)
    if exclude:
        selected -= _evaluate(graph, exclude, state)
    return selected
