"""Seeded dbt-style project for the flow workloads, and its DuckDB oracle.

``generate(seed, out_dir)`` writes a project whose DAG, templates and
materializations are drawn from ``random.Random(seed)``: five staging views
over the source tables, then derived models in at least six layers (fan-in
at most three), mixing views, tables, incremental models (``unique_key``
merge over a fixed lookback window), one Python Spark model, one pandas
model, before/after scripts, structured pre/post hooks and schema tests
(unique, not_null, accepted_values, relationships). The same seed gives
byte-identical files.

Every derived SQL model reads and writes the same five columns
``grp, cat, day, amount, n`` (incremental models add the merge key
``uid``), so any template can sit on any parent. The SQL uses only syntax
that Spark and DuckDB both accept; ``oracle_tables`` evaluates the same
SQL in DuckDB. Amounts stay ``DECIMAL(18,2)`` so sums are exact in both.
"""

from __future__ import annotations

import copy
import os
import random
from dataclasses import dataclass, field

import jinja2
import yaml

from datagen import EVENT_TYPES, PART_TYPES, PRIORITIES, SEGMENTS

PROJECT_NAME = "benchproj"
DATA_ENV = "PERFBENCH_DATA"
MIN_AMOUNT = 100

_DEC = "decimal(18,2)"
_COLS = "grp, cat, day, amount, n"

# source table -> (grp, cat, day, amount, n expressions, cat domain)
STAGING = {
    "orders": (
        "cast(o_custkey % 50 as bigint)", "o_orderpriority", "cast(o_orderdate as date)",
        f"cast(o_totalprice as {_DEC})", "cast(1 as bigint)", PRIORITIES,
    ),
    "lineitem": (
        "l_suppkey", "concat(l_returnflag, l_linestatus)", "cast(l_shipdate as date)",
        f"cast(l_extendedprice as {_DEC})", "cast(l_quantity as bigint)",
        [f + s for f in "ANR" for s in "FO"],
    ),
    "events": (
        "user_id", "event_type", "cast(ts as date)",
        f"cast(value as {_DEC})", "cast(1 as bigint)", EVENT_TYPES,
    ),
    "customer": (
        "cast(c_nationkey as bigint)", "c_mktsegment", "date '2000-01-01'",
        f"cast(c_acctbal as {_DEC})", "cast(1 as bigint)", SEGMENTS,
    ),
    "part": (
        "cast(p_size as bigint)", "p_type", "date '2000-01-01'",
        f"cast(p_retailprice as {_DEC})", "cast(1 as bigint)", PART_TYPES,
    ),
}

# templates that keep every output grp inside the first parent's grp set,
# so a relationships test from the model to that parent must pass
_GRP_SUBSET = {"agg", "monthly", "filter", "topn", "join", "dedup", "incremental", "python"}


@dataclass
class Model:
    name: str
    kind: str  # view | table | incremental | python | pandas
    template: str
    parents: list[str]
    cats: list[str]
    layer: int
    body: str = ""
    oracle_sql: str | None = None  # Python models only; SQL models reuse ``body``
    meta: dict = field(default_factory=dict)
    tests: list = field(default_factory=list)


def _ref(name: str) -> str:
    return "{{ ref('%s') }}" % name


def _sql_body(rng: random.Random, m: Model) -> str:
    p = m.parents
    t = m.template
    if t == "agg":
        return (
            f"select grp, cat, day, cast(sum(amount) as {_DEC}) as amount, sum(n) as n\n"
            f"from {_ref(p[0])}\ngroup by grp, cat, day\n"
        )
    if t == "monthly":
        month = "make_date(year(day), month(day), 1)"
        return (
            f"select grp, cat, {month} as day, cast(sum(amount) as {_DEC}) as amount, sum(n) as n\n"
            f"from {_ref(p[0])}\ngroup by grp, cat, {month}\n"
        )
    if t == "filter":
        return (
            f"{{% set cats = {m.cats!r} %}}\n"
            f"select {_COLS}\nfrom {_ref(p[0])}\n"
            f"where amount >= {{{{ var('min_amount') }}}}\n"
            "  and cat in ({% for c in cats %}'{{ c }}'{% if not loop.last %}, {% endif %}{% endfor %})\n"
        )
    if t == "topn":
        k = rng.choice([20, 50, 100])
        return (
            f"select {_COLS}\nfrom (\n"
            f"    select {_COLS},\n"
            "        row_number() over (partition by cat order by amount desc, grp, day, n) as rn\n"
            f"    from {_ref(p[0])}\n) ranked\nwhere rn <= {k}\n"
        )
    if t == "join":
        return (
            "select a.grp, a.cat, a.day,\n"
            "    case when b.max_amount > a.amount then b.max_amount else a.amount end as amount,\n"
            "    a.n + coalesce(b.cnt, 0) as n\n"
            f"from {_ref(p[0])} a\nleft join (\n"
            "    select grp, max(amount) as max_amount, count(*) as cnt\n"
            f"    from {_ref(p[1])}\n    group by grp\n) b on a.grp = b.grp\n"
        )
    if t == "union":
        return "union all\n".join(f"select {_COLS} from {_ref(x)}\n" for x in p)
    if t == "dedup":
        return f"select distinct {_COLS}\nfrom {_ref(p[0])}\n"
    if t == "incremental":
        return (
            "{{ config(materialized='incremental', unique_key='uid') }}\n"
            "select concat(cast(grp as string), '|', cat, '|', cast(day as string)) as uid,\n"
            f"    grp, cat, day, cast(sum(amount) as {_DEC}) as amount, sum(n) as n\n"
            f"from {_ref(p[0])}\n"
            "{% if is_incremental() %}\n"
            "where day >= (select date_sub(max(day), 30) from {{ this }})\n"
            "{% endif %}\n"
            "group by grp, cat, day\n"
        )
    raise ValueError(t)


def _python_model(m: Model) -> tuple[str, str]:
    code = (
        "from pyspark.sql import functions as F\n\n\n"
        "def model(dbt, session):\n"
        f"    df = dbt.ref(\"{m.parents[0]}\")\n"
        "    return df.groupBy(\"cat\", \"day\").agg(\n"
        "        F.min(\"grp\").alias(\"grp\"),\n"
        f"        F.sum(\"amount\").cast(\"{_DEC}\").alias(\"amount\"),\n"
        "        F.sum(\"n\").alias(\"n\"),\n"
        f"    ).select({', '.join(repr(c) for c in _COLS.split(', '))})\n"
    )
    oracle = (
        f"select min(grp) as grp, cat, day, cast(sum(amount) as {_DEC}) as amount, sum(n) as n\n"
        f"from {m.parents[0]} group by cat, day"
    )
    return code, oracle


def _pandas_model(m: Model) -> tuple[str, str]:
    code = (
        "def model(dbt, session):\n"
        f"    pdf = dbt.ref(\"{m.parents[0]}\")\n"
        "    out = pdf.groupby(\"cat\", as_index=False).agg(\n"
        "        n=(\"n\", \"sum\"), n_rows=(\"grp\", \"size\")\n"
        "    )\n"
        "    out[\"n\"] = out[\"n\"].astype(\"int64\")\n"
        "    out[\"n_rows\"] = out[\"n_rows\"].astype(\"int64\")\n"
        "    return out[[\"cat\", \"n\", \"n_rows\"]]\n"
    )
    oracle = f"select cat, sum(n) as n, count(*) as n_rows from {m.parents[0]} group by cat"
    return code, oracle


@dataclass
class Project:
    seed: int
    models: list[Model]
    n_layers: int

    @property
    def materialized(self) -> list[Model]:
        return [m for m in self.models if m.kind != "view"]

    @property
    def hook_lines(self) -> list[str]:
        """Lines one ``run()`` appends to ``target/hooks.log``, sorted."""
        out = []
        for m in self.models:
            fal = m.meta.get("fal", {})
            for h in fal.get("pre-hook", []) + fal.get("post-hook", []):
                out.append(f"{h['with']['tag']}:{m.name}")
            for side, scripts in fal.get("scripts", {}).items():
                out += [f"{side}:{m.name}"] * len(scripts)
        return sorted(out)

    @property
    def n_tests(self) -> int:
        return sum(len(c.get("tests", [])) for m in self.models for c in m.tests)


# Derived models by layer: (template, materialization, first parent,
# number of parents). The first parent is an index into the layer above
# (layer 0 is the staging views in ``STAGING`` order). The shape and the
# first parents are fixed so every seed costs about the same; the seed
# draws the other parents of joins and unions, the template parameters,
# and which models carry hooks and tests. Only one derived model is a view:
# a view node does no Spark work when it runs, so with many of them the
# median model time would sit on the step between views and tables.
SKELETON = [
    [("topn", "table", 1, 1), ("incremental", "incremental", 2, 1)],
    [("union", "table", 0, 2), ("python", "python", 1, 1)],
    [("join", "table", 0, 2), ("incremental", "incremental", 1, 1)],
    [("union", "table", 0, 3), ("monthly", "table", 1, 1)],
    [("agg", "table", 1, 1), ("dedup", "view", 0, 1)],
    # the pandas model returns other columns, so it must stay a leaf
    [("incremental", "incremental", 0, 1), ("filter", "table", 1, 1), ("pandas", "pandas", 0, 1)],
]


def plan(seed: int) -> Project:
    """Draw the DAG over ``SKELETON``. Every derived model takes its first
    parent from the layer just above it, so the depth is
    ``len(SKELETON)``."""
    rng = random.Random(seed)
    models = [
        Model(f"stg_{src}", "view", "staging", [], list(spec[5]), 0) for src, spec in STAGING.items()
    ]
    by_layer: dict[int, list[Model]] = {0: list(models)}
    cats = {m.name: m.cats for m in models}
    for layer, slots in enumerate(SKELETON, start=1):
        by_layer[layer] = []
        earlier = [m.name for lay in range(layer) for m in by_layer[lay]]
        for j, (template, kind, first_idx, n_parents) in enumerate(slots):
            first = by_layer[layer - 1][first_idx].name
            parents = [first] + rng.sample([n for n in earlier if n != first], n_parents - 1)
            if template == "union":
                m_cats = sorted(set().union(*(cats[p] for p in parents)))
            elif template == "filter":
                m_cats = sorted(rng.sample(cats[first], max(1, len(cats[first]) // 2)))
            else:
                m_cats = list(cats[first])
            m = Model(f"m{layer}_{j}_{template}", kind, template, parents, m_cats, layer)
            if kind == "python":
                m.body, m.oracle_sql = _python_model(m)
            elif kind == "pandas":
                m.body, m.oracle_sql = _pandas_model(m)
                m.meta = {"fal": {"interop": "pandas"}}
            else:
                m.body = _sql_body(rng, m)
                if kind in ("view", "table"):
                    m.body = f"{{{{ config(materialized='{kind}') }}}}\n" + m.body
            cats[m.name] = m_cats
            models.append(m)
            by_layer[layer].append(m)
    _attach_hooks_and_tests(rng, models)
    return Project(seed, models, len(SKELETON))


def _attach_hooks_and_tests(rng: random.Random, models: list[Model]) -> None:
    tables = [m for m in models if m.kind == "table"]
    hooks = {"pre-hook": [{"path": "scripts/note.py", "with": {"tag": "pre"}}],
             "post-hook": [{"path": "scripts/note.py", "with": {"tag": "post"}}]}
    metas = [hooks, {"scripts": {"before": ["scripts/prepare.py"]}},
             hooks, {"scripts": {"after": ["scripts/audit.py"]}}]
    for m, fal in zip(rng.sample(tables, len(metas)), metas):
        m.meta = {"fal": copy.deepcopy(fal)}
    incremental = [m for m in models if m.kind == "incremental"]
    checked = rng.choice(incremental)
    for m in incremental:
        m.tests.append({"name": "uid", "tests": ["unique", "not_null"] if m is checked else ["unique"]})
    derived = [m for m in models if m.layer > 0 and m.kind not in ("incremental", "pandas")]
    m = rng.choice(derived)
    m.tests.append({"name": "amount", "tests": ["not_null"]})
    m.tests.append({"name": "cat", "tests": [{"accepted_values": {"values": list(m.cats)}}]})
    linked = [m for m in derived if m.template in _GRP_SUBSET]
    for m in rng.sample(linked, 2):
        m.tests.append(
            {"name": "grp", "tests": [{"relationships": {"to": f"ref('{m.parents[0]}')", "field": "grp"}}]}
        )


_NOTE = """\
import os

log = os.path.join(os.path.dirname(__file__), "..", "target", "hooks.log")
os.makedirs(os.path.dirname(log), exist_ok=True)
with open(log, "a") as fh:
    fh.write(f"{context.arguments['tag']}:{context.current_model.name}\\n")  # noqa: F821
"""
_PREPARE = """\
import os

log = os.path.join(os.path.dirname(__file__), "..", "target", "hooks.log")
os.makedirs(os.path.dirname(log), exist_ok=True)
with open(log, "a") as fh:
    fh.write(f"before:{context.current_model.name}\\n")  # noqa: F821
"""
_AUDIT = """\
import os

name = context.current_model.name  # noqa: F821
ref(name).count()  # noqa: F821  (an after-script reads the model it follows)
log = os.path.join(os.path.dirname(__file__), "..", "target", "hooks.log")
os.makedirs(os.path.dirname(log), exist_ok=True)
with open(log, "a") as fh:
    fh.write(f"after:{name}\\n")
"""


def write(project: Project, out_dir: str) -> None:
    """Write the project files under ``out_dir``."""
    os.makedirs(os.path.join(out_dir, "models"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "scripts"), exist_ok=True)
    files = {
        "dbt_project.yml": yaml.safe_dump(
            {"name": PROJECT_NAME, "model-paths": ["models"], "vars": {"min_amount": MIN_AMOUNT}},
            sort_keys=True,
        ),
        "scripts/note.py": _NOTE,
        "scripts/prepare.py": _PREPARE,
        "scripts/audit.py": _AUDIT,
    }
    for src, (grp, cat, day, amount, n, _) in STAGING.items():
        files[f"models/stg_{src}.sql"] = (
            "{{ config(materialized='view') }}\n"
            f"select {grp} as grp, {cat} as cat, {day} as day, {amount} as amount, {n} as n\n"
            f"from {{{{ source('raw', '{src}') }}}}\n"
        )
    props = []
    for m in project.models:
        if m.layer == 0:
            continue
        ext = "py" if m.kind in ("python", "pandas") else "sql"
        files[f"models/{m.name}.{ext}"] = m.body
        if m.meta or m.tests:
            entry: dict = {"name": m.name}
            if m.meta:
                entry["meta"] = m.meta
            if m.tests:
                entry["columns"] = m.tests
            props.append(entry)
    schema = {
        "sources": [
            {
                "name": "raw",
                "meta": {"path": f"${DATA_ENV}"},
                "tables": [{"name": src} for src in STAGING],
            }
        ],
        "models": props,
    }
    files["models/schema.yml"] = yaml.safe_dump(schema, sort_keys=True)
    for rel, text in files.items():
        with open(os.path.join(out_dir, rel), "w") as fh:
            fh.write(text)


def generate(seed: int, out_dir: str) -> Project:
    project = plan(seed)
    write(project, out_dir)
    return project


def oracle_tables(project: Project, con, data_dir: str) -> None:
    """Evaluate every model in DuckDB (connection ``con``), in DAG order,
    as a table named after the model. Jinja renders the same model files
    the flow runs, with ``is_incremental()`` false: the lookback merge
    leaves a rebuilt incremental model equal to its full build."""
    for src in STAGING:
        con.execute(
            f"CREATE OR REPLACE VIEW src_{src} AS SELECT * FROM read_parquet('{data_dir}/{src}.parquet')"
        )
    env = jinja2.Environment()
    ctx = {
        "ref": lambda name: name,
        "source": lambda _s, t: f"src_{t}",
        "config": lambda **_kw: "",
        "var": lambda name, default=None: {"min_amount": MIN_AMOUNT}.get(name, default),
        "is_incremental": lambda: False,
        "this": "this_unused",
    }
    for m in project.models:
        if m.layer == 0:
            src = m.name[len("stg_"):]
            grp, cat, day, amount, n, _ = STAGING[src]
            sql = f"select {grp} as grp, {cat} as cat, {day} as day, {amount} as amount, {n} as n from src_{src}"
        elif m.oracle_sql is not None:
            sql = m.oracle_sql
        else:
            sql = env.from_string(m.body).render(**ctx)
        con.execute(f"CREATE OR REPLACE TABLE {m.name} AS {sql}")
