"""Planner unit tests — ported semantics from the reference's planner
suite (reference: projects/adapter/tests/planner/test_schedule.py,
tests/graph/test_selectors.py): priority scoring, failure propagation,
selector operators.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from dbt_fal_spark.plans.node_graph import NodeGraph
from dbt_fal_spark.plans.schedule import Scheduler, TaskGroup
from dbt_fal_spark.plans.selectors import SelectorPlan, model_checksums, select_nodes
from dbt_fal_spark.project.loader import load_project
from dbt_fal_spark.project.manifest import DbtModel, Manifest


class _NoopTask:
    def execute(self, context):
        pass


def _group(gid, deps=()):
    return TaskGroup(group_id=gid, task=_NoopTask(), dependencies=list(deps))


def _manifest(edges: dict[str, list[str]], tags: dict[str, list[str]] | None = None) -> Manifest:
    m = Manifest(project_name="t", project_dir=Path("."))
    for name, deps in edges.items():
        m.models[f"model.t.{name}"] = DbtModel(
            name=name,
            unique_id=f"model.t.{name}",
            raw_sql="select 1",
            depends_on=[f"model.t.{d}" for d in deps],
            tags=(tags or {}).get(name, []),
        )
    return m


# --- scheduler ---

def test_scheduler_runs_in_dependency_order():
    a, b, c = _group("a"), None, None
    b = _group("b", [a])
    c = _group("c", [b])
    sched = Scheduler([c, b, a])
    order = []
    while not sched.is_done:
        for g in sched.iter_available_groups():
            order.append(g.group_id)
            sched.finish(g, "success")
    assert order == ["a", "b", "c"]


def test_scheduler_priority_prefers_wider_unblocks():
    # hub unblocks two groups; leaf unblocks none → hub first
    hub, leaf = _group("hub"), _group("leaf")
    d1, d2 = _group("d1", [hub]), _group("d2", [hub])
    sched = Scheduler([leaf, d1, d2, hub])
    first = next(iter(sched.iter_available_groups()))
    assert first.group_id == "hub"


def test_scheduler_failure_skips_transitive_dependents():
    a = _group("a")
    b = _group("b", [a])
    c = _group("c", [b])
    d = _group("d")  # independent
    sched = Scheduler([a, b, c, d])
    for g in sched.iter_available_groups():
        if g.group_id == "a":
            sched.finish(g, "error")
        else:
            sched.finish(g, "success")
    while not sched.is_done:
        for g in sched.iter_available_groups():
            sched.finish(g, "success")
    assert a.status == "error"
    assert b.status == "skipped"
    assert c.status == "skipped"
    assert d.status == "success"


class _Step:
    """A task that records its run in ``log`` and raises when ``fails``."""

    def __init__(self, name, log, fails=False):
        self.name, self.log, self.fails = name, log, fails

    def execute(self, context):
        self.log.append(self.name)
        if self.fails:
            raise RuntimeError(f"{self.name} failed")


def test_pre_hook_failure_skips_main_runs_post_hooks_and_keeps_first_error():
    """The reference's pre → main → post state machine: a failed pre-hook
    stops the other pre-hooks and the main task, every post-hook still
    runs, and the group's error is the traceback of its first failure."""
    from dbt_fal_spark.plans.schedule import parallel_executor

    log = []
    g = TaskGroup(
        group_id="g",
        task=_Step("main", log),
        pre_hooks=[_Step("pre1", log, fails=True), _Step("pre2", log)],
        post_hooks=[_Step("post1", log, fails=True), _Step("post2", log)],
    )
    child = _group("child", [g])
    parallel_executor(Scheduler([g, child]), {}, threads=1)
    assert log == ["pre1", "post1", "post2"]
    assert (g.status, child.status) == ("error", "skipped")
    assert "pre1 failed" in g.error and "post1 failed" not in g.error
    assert child.error is None


def test_executor_raises_on_a_group_that_can_never_run():
    """A group waiting on a group the scheduler does not hold never
    becomes ready: the executor fails loudly instead of spinning."""
    from dbt_fal_spark.plans.schedule import parallel_executor

    g = _group("g", [_group("not_scheduled")])
    with pytest.raises(RuntimeError, match="deadlock"):
        parallel_executor(Scheduler([g]), {}, threads=1)


# --- selectors (reference: tests/graph/test_selectors.py semantics) ---

@pytest.fixture
def diamond_graph():
    #   a → b → d
    #   a → c → d → e
    m = _manifest(
        {"a": [], "b": ["a"], "c": ["a"], "d": ["b", "c"], "e": ["d"]},
        tags={"b": ["nightly"], "c": ["nightly"], "e": ["reporting"]},
    )
    return NodeGraph.from_manifest(m)


def _names(nodes):
    return {n.split(".")[-1] for n in nodes}


def test_select_single(diamond_graph):
    assert _names(select_nodes(diamond_graph, "d")) == {"d"}


def test_select_descendants(diamond_graph):
    assert _names(select_nodes(diamond_graph, "b+")) == {"b", "d", "e"}


def test_select_ancestors(diamond_graph):
    assert _names(select_nodes(diamond_graph, "+d")) == {"a", "b", "c", "d"}


def test_select_level_limited(diamond_graph):
    assert _names(select_nodes(diamond_graph, "1+d")) == {"b", "c", "d"}
    assert _names(select_nodes(diamond_graph, "a+1")) == {"a", "b", "c"}


def test_select_both_directions(diamond_graph):
    assert _names(select_nodes(diamond_graph, "+d+")) == {"a", "b", "c", "d", "e"}


def test_select_at_operator(diamond_graph):
    # @b: b + descendants + ancestors of those descendants
    assert _names(select_nodes(diamond_graph, "@b")) == {"a", "b", "c", "d", "e"}


def test_select_tag(diamond_graph):
    assert _names(select_nodes(diamond_graph, "tag:nightly")) == {"b", "c"}


def test_select_union(diamond_graph):
    assert _names(select_nodes(diamond_graph, "b c")) == {"b", "c"}


def test_select_intersection(diamond_graph):
    # comma = intersection of fully expanded components
    # (reference: selectors.py:78-125, tests/graph/test_selectors.py)
    assert _names(select_nodes(diamond_graph, "tag:nightly,b")) == {"b"}
    # each side expands through its own graph ops BEFORE intersecting:
    # (+d) = {a,b,c,d}, (b+) = {b,d,e} → {b,d}
    assert _names(select_nodes(diamond_graph, "+d,b+")) == {"b", "d"}
    # disjoint components intersect to nothing
    assert select_nodes(diamond_graph, "tag:nightly,tag:reporting") == set()
    # intersection composes with union: 'x y,z' = x ∪ (y ∩ z)
    assert _names(select_nodes(diamond_graph, "a tag:nightly,c")) == {"a", "c"}
    # and with --exclude, which supports intersections too
    assert _names(select_nodes(diamond_graph, "+d", exclude="tag:nightly,b")) == {"a", "c", "d"}


def test_select_intersection_with_state(diamond_graph):
    state = {"a": "x", "b": "x", "c": "x", "d": "x", "e": "x"}  # all modified
    got = select_nodes(diamond_graph, "state:modified,tag:nightly", state=state)
    assert _names(got) == {"b", "c"}


def test_select_exclude(diamond_graph):
    assert _names(select_nodes(diamond_graph, "+d", exclude="b")) == {"a", "c", "d"}


def test_selector_plan_parse():
    p = SelectorPlan.parse("2+model+3")
    assert p.ancestors and p.ancestor_levels == 2
    assert p.descendants and p.descendant_levels == 3
    assert p.body == "model"
    assert SelectorPlan.parse("@m").at_operator
    assert SelectorPlan.parse("tag:x").is_tag


def test_selectors_yml_wide_intersection_of_unions(tmp_path):
    """A 25×25×25 selectors.yml intersection of unions is evaluated as
    set algebra: no expansion into 15,625 selector terms, no term cap."""
    import yaml

    from dbt_fal_spark.cli import resolve_named_selector

    graph = NodeGraph.from_manifest(_manifest({f"m{i}": [] for i in range(40)}))
    spans = [range(0, 25), range(10, 35), range(15, 40)]
    definition = {"intersection": [{"union": [f"m{i}" for i in span]} for span in spans]}
    (tmp_path / "selectors.yml").write_text(
        yaml.safe_dump({"selectors": [{"name": "wide", "definition": definition}]})
    )
    got = select_nodes(graph, resolve_named_selector(str(tmp_path), "wide"))
    assert _names(got) == {f"m{i}" for i in range(15, 25)}


def test_script_file_selector_is_an_error(tmp_path):
    """Scripts are not graph nodes: a bare script-file term points to
    `fal run --scripts` instead of selecting nothing. A path-form term
    still selects a Python model by its file."""
    m = _manifest({"a": []})
    m.models["model.t.py_m"] = DbtModel(
        name="py_m", unique_id="model.t.py_m",
        path=tmp_path / "models" / "py_m.py", python_model=tmp_path / "models" / "py_m.py",
    )
    graph = NodeGraph.from_manifest(m)
    for term in ("after.py", "*.py", "nb.ipynb", "a after.py", "a,after.py+"):
        with pytest.raises(ValueError, match="--scripts"):
            select_nodes(graph, term)
    with pytest.raises(ValueError, match="--scripts"):
        select_nodes(graph, None, exclude=["after.py"])
    assert _names(select_nodes(graph, "models/py_m.py")) == {"py_m"}
    assert _names(select_nodes(graph, {"method": "path", "value": "models/*.py"})) == {"py_m"}


def test_selectors_yml_unsupported_forms_are_errors():
    graph = NodeGraph.from_manifest(_manifest({"a": []}))
    for bad in ({"method": "source", "value": "a"}, {"exclude": ["a"]}, 3, ["a", None]):
        with pytest.raises(ValueError, match="unsupported selectors.yml"):
            select_nodes(graph, bad)


def test_select_method_prefixes_on_jaffle():
    """`fqn:` and `path:` words select what the bare word and the
    selectors.yml method select; an unknown `method:` prefix is a
    SelectorError instead of a literal name that selects nothing."""
    from dbt_fal_spark.plans.selectors import SelectorError
    from dbt_fal_spark.project.loader import load_project

    graph = NodeGraph.from_manifest(load_project(Path(__file__).parent / "fixtures" / "jaffle_spark"))
    customers = select_nodes(graph, "customers")
    assert _names(customers) == {"customers"}
    assert select_nodes(graph, "fqn:customers") == customers
    assert select_nodes(graph, "path:models/customers.sql") == customers
    assert select_nodes(graph, {"method": "path", "value": "models/customers.sql"}) == customers
    assert select_nodes(graph, "+fqn:customers") == select_nodes(graph, "+customers")
    assert select_nodes(graph, "@tag:daily") == select_nodes(graph, "@orders_daily")
    for word in ("source:x", "config.materialized:table", "+exposure:x", "customers,resource_type:model"):
        with pytest.raises(SelectorError, match="unsupported selector method"):
            select_nodes(graph, word)
    with pytest.raises(SelectorError):
        select_nodes(graph, None, exclude="source:x")


def test_selector_names_with_digits():
    """Digits are a depth only next to a `+`: `m15` names model m15, not
    model m at depth 15."""
    graph = NodeGraph.from_manifest(_manifest({"m": [], "m15": ["m"], "2024_orders": ["m15"]}))
    assert _names(select_nodes(graph, "m15")) == {"m15"}
    assert _names(select_nodes(graph, "2024_orders")) == {"2024_orders"}
    assert _names(select_nodes(graph, "1+2024_orders")) == {"m15", "2024_orders"}
    assert _names(select_nodes(graph, "m15+1")) == {"m15", "2024_orders"}


# --- state: selectors (reference: selectors.py:228-242 state routing) ---

def test_select_state_modified_and_new():
    m = _manifest({"a": [], "b": ["a"], "c": ["b"]})
    g = NodeGraph.from_manifest(m)
    state = model_checksums(m)
    # nothing changed → nothing selected
    assert select_nodes(g, ["state:modified"], state=state) == set()
    # edit b → modified picks exactly b; +state:modified adds descendants
    m.models["model.t.b"].raw_sql = "select 2"
    assert _names(select_nodes(g, ["state:modified"], state=state)) == {"b"}
    assert _names(select_nodes(g, ["state:modified+"], state=state)) == {"b", "c"}
    # b is not NEW (it existed in state)
    assert select_nodes(g, ["state:new"], state=state) == set()
    # add a model → new picks it
    m2 = _manifest({"a": [], "b": ["a"], "c": ["b"], "d": ["c"]})
    g2 = NodeGraph.from_manifest(m2)
    assert _names(select_nodes(g2, ["state:new"], state=state)) == {"d"}
    assert _names(select_nodes(g2, ["state:modified"], state=state)) == {"d"}


def test_state_selector_plan_parse():
    p = SelectorPlan.parse("state:modified")
    assert p.is_state and p.body == "modified"


def test_source_level_path_fallback_joins_table_name(tmp_path):
    """A table without its own path inherits <source_dir>/<table>.parquet,
    never the bare directory (regression: an overwrite write_to_source to
    the bare directory would clobber every sibling table)."""
    from dbt_fal_spark.project.loader import load_project

    (tmp_path / "models").mkdir()
    (tmp_path / "dbt_project.yml").write_text("name: t\n")
    (tmp_path / "models" / "schema.yml").write_text(
        "sources:\n"
        "  - name: s\n"
        "    meta: {path: /data/dir}\n"
        "    tables:\n"
        "      - name: bare\n"
        "      - name: explicit\n"
        "        meta: {path: /data/elsewhere.parquet}\n"
    )
    m = load_project(tmp_path)
    assert m.source_by_name("s", "bare").path == "/data/dir/bare.parquet"
    assert m.source_by_name("s", "explicit").path == "/data/elsewhere.parquet"


def test_fail_fast_skips_later_waves():
    """fail-fast: a failure stops LAUNCHING later scheduling waves — a
    group unlocked after the failure is skipped even though it does not
    depend on the failed group (plain mode runs it). Groups already
    submitted in the same wave still finish (dbt semantics)."""
    from dbt_fal_spark.plans.schedule import parallel_executor

    import time as _time

    class T:
        def __init__(self, fails, delay=0.0):
            self.fails = fails
            self.delay = delay
        def execute(self, context):
            _time.sleep(self.delay)
            if self.fails:
                raise RuntimeError("task failed")

    def build():
        bad = TaskGroup(group_id="bad", task=T(True))
        # ok outlives bad, so bad's failure is OBSERVED before ok unlocks
        # its dependent — makes the wave ordering deterministic
        ok = TaskGroup(group_id="ok", task=T(False, delay=1.0))
        later = TaskGroup(group_id="later", task=T(False))
        later.dependencies.append(ok)
        return bad, ok, later

    bad, ok, later = build()
    parallel_executor(Scheduler([bad, ok, later]), {}, threads=2, fail_fast=True)
    assert (bad.status, ok.status, later.status) == ("error", "success", "skipped")

    bad, ok, later = build()
    parallel_executor(Scheduler([bad, ok, later]), {}, threads=2, fail_fast=False)
    assert (bad.status, ok.status, later.status) == ("error", "success", "success")


def test_selector_glob_and_path_matching(spark, tmp_path):
    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "globsel"
    (proj / "models" / "staging").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: globsel\n")
    (proj / "models" / "staging" / "stg_orders.sql").write_text(
        "{{ config(tags=['nightly_a']) }} SELECT 1 AS x"
    )
    (proj / "models" / "staging" / "stg_items.sql").write_text(
        "{{ config(tags=['nightly_b']) }} SELECT 2 AS x"
    )
    (proj / "models" / "final.sql").write_text(
        "SELECT * FROM {{ ref('stg_orders') }}"
    )
    fal = FalSpark(proj, spark=spark)
    from dbt_fal_spark.plans.node_graph import NodeGraph
    from dbt_fal_spark.plans.selectors import select_nodes

    graph = NodeGraph.from_manifest(fal.manifest)
    short = lambda ns: {n.split(".")[-1] for n in ns}  # noqa: E731
    # name glob (dbt: --select stg_*)
    assert short(select_nodes(graph, ["stg_*"])) == {"stg_orders", "stg_items"}
    # tag glob (dbt: --select tag:nightly*)
    assert short(select_nodes(graph, ["tag:nightly_*"])) == {
        "stg_orders", "stg_items",
    }
    # path form (dbt path: method emits bare paths)
    assert short(select_nodes(graph, ["staging/stg_orders.sql"])) == {"stg_orders"}
    assert short(select_nodes(graph, ["models/staging/*.sql"])) == {
        "stg_orders", "stg_items",
    }
    # graph ops compose with globs: descendants of the glob match
    assert "final" in short(select_nodes(graph, ["stg_*+"]))
    # exact names keep exact semantics (no accidental glob)
    assert short(select_nodes(graph, ["stg_orders"])) == {"stg_orders"}


def test_var_conditional_ref_is_a_dag_edge(spark, tmp_path):
    """dbt parses with real project vars: a ref inside
    {% if var('flag') %} where dbt_project.yml sets the flag true MUST
    become a DAG edge (pre-fix: var-less parse took the else-branch,
    missed the edge, and the dependency could build after its
    consumer)."""
    from dbt_fal_spark.api import FalSpark

    spark.sql("DROP DATABASE IF EXISTS varcond CASCADE")
    proj = tmp_path / "varcond"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(
        "name: varcond\nvars:\n  enable_extra: true\n"
    )
    (proj / "models" / "base.sql").write_text("SELECT id AS k FROM range(5)")
    (proj / "models" / "top.sql").write_text(
        "{% if var('enable_extra') %}\n"
        "SELECT k FROM {{ ref('base') }}\n"
        "{% else %}\nSELECT 99 AS k\n{% endif %}"
    )
    fal = FalSpark(proj, spark=spark)
    top = next(m for m in fal.manifest.models.values() if m.name == "top")
    assert "model.varcond.base" in top.depends_on, top.depends_on
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    rows = sorted(r.k for r in fal.ref("top").collect())
    assert rows == [0, 1, 2, 3, 4]  # the TRUE branch ran against base
    spark.sql("DROP DATABASE IF EXISTS varcond CASCADE")


def test_circular_ref_reports_cycle_clearly(spark, tmp_path):
    """Two models ref'ing each other must fail with dbt's 'Found a cycle'
    wording naming the nodes, not a raw networkx.NetworkXUnfeasible
    leaking out of topological_sort."""
    import pytest as _pytest

    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "cyc"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: cyc\n")
    (proj / "models" / "a.sql").write_text("SELECT * FROM {{ ref('b') }}")
    (proj / "models" / "b.sql").write_text("SELECT * FROM {{ ref('a') }}")
    fal = FalSpark(proj, spark=spark)
    with _pytest.raises(ValueError, match="Found a cycle.*-->"):
        fal.run()


# --- project loader error paths and per-node tests ---

FIXTURE = Path(__file__).parent / "fixtures" / "jaffle_spark"


def _copy_project(tmp_path: Path) -> Path:
    proj = tmp_path / "proj"
    shutil.copytree(FIXTURE, proj)
    return proj


def test_malformed_schema_yaml_names_the_file(tmp_path):
    """A schema.yml whose top level is a list (lost its `models:` header)
    previously died with an AttributeError traceback deep in the loader;
    now it's a ValueError naming the file and the expectation."""
    proj = _copy_project(tmp_path)
    bad = proj / "models" / "broken.yml"
    bad.write_text("- name: stg_orders\n- name: customers\n")
    with pytest.raises(ValueError, match=r"broken\.yml.*YAML mapping"):
        load_project(proj)


def test_duplicate_model_names_error(tmp_path):
    """Two model files sharing a stem previously let the later-scanned
    one silently replace the earlier (ambiguous ref targets); dbt-style
    behavior is a loud duplicate error naming both files."""
    proj = _copy_project(tmp_path)
    sub = proj / "models" / "sub"
    sub.mkdir()
    (sub / "customers.sql").write_text("select 1 as x")
    with pytest.raises(ValueError, match="duplicate model name 'customers'"):
        load_project(proj)
    (sub / "customers.sql").unlink()
    # python model colliding with a SQL model is the same error
    (sub / "customers.py").write_text("def model(dbt, session):\n    return None\n")
    with pytest.raises(ValueError, match="duplicate model name 'customers'"):
        load_project(proj)


def test_dunder_py_files_are_not_models(tmp_path):
    """__init__.py in a models dir is package plumbing, not a model —
    previously registered as a model named '__init__' that failed at
    run time."""
    proj = _copy_project(tmp_path)
    (proj / "models" / "__init__.py").write_text("")
    manifest = load_project(proj)
    assert not any(m.name == "__init__" for m in manifest.models.values())


def test_tests_attached_to_model_and_source_objects(tmp_path):
    """list_models()/list_sources() consumers enumerate per-node tests
    (reference: dbt_test.feature 'Source tests are present in context');
    previously DbtModel had no .tests and DbtSource.tests stayed empty."""
    proj = _copy_project(tmp_path)
    schema_yml = proj / "models" / "schema.yml"
    schema_yml.write_text(
        schema_yml.read_text().replace(
            "      - name: orders\n        meta:\n          path: $TESTDATA_DIR/orders.parquet",
            "      - name: orders\n        meta:\n          path: $TESTDATA_DIR/orders.parquet\n"
            "        columns:\n"
            "          - name: o_orderkey\n"
            "            tests: [unique, not_null]\n",
        )
    )
    manifest = load_project(proj)
    stg = next(m for m in manifest.models.values() if m.name == "stg_orders")
    assert {t.test_type for t in stg.tests} == {
        "unique", "not_null", "accepted_values", "relationships"
    }
    orders_src = next(
        s for s in manifest.sources.values() if s.table_name == "orders"
    )
    assert {t.test_type for t in orders_src.tests} == {"unique", "not_null"}
    # the same objects are registered in the global test map
    assert all(t.unique_id in manifest.tests for t in stg.tests + orders_src.tests)
