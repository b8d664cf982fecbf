"""Model writes: output files sized to the data, one Spark job per table
rebuild, ``rows_affected`` read from the write, run_results adapter
responses, and tests run on the thread pool. Every write of a model's
table lands in its alias table and keeps its declared layout, whichever
path wrote it and wherever (schema.yml or the file) the layout was
declared; a source write keeps the source's format."""

from __future__ import annotations

import glob
import json
import os
import shutil
from pathlib import Path

import pytest

from dbt_fal_spark.api import FalSpark, _ModelTask
from dbt_fal_spark.materialize import _catalog_entry, _table_location
from tests.conftest import SF_DIR

FIXTURES = Path(__file__).parent / "fixtures"

# an aggregate: without sizing its write is one file per shuffle partition
AGG_SQL = "SELECT id % 50 AS grp, count(*) AS n FROM range(2000) GROUP BY id % 50"


def _proj(tmp_path, name, files):
    proj = tmp_path / name
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(f"name: {name}\n")
    for fname, body in files.items():
        (proj / "models" / fname).write_text(body)
    return proj


def _data_files(spark, ident):
    return glob.glob(os.path.join(_table_location(spark, ident), "part-*.parquet"))


@pytest.fixture
def fresh_db(spark):
    names = []

    def make(name):
        spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
        names.append(name)
        return name

    yield make
    for name in names:
        spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def test_no_layout_table_writes_one_file_on_build_and_rebuild(spark, tmp_path, fresh_db):
    proj = _proj(tmp_path, fresh_db("sized1"), {"agg.sql": AGG_SQL})
    fal = FalSpark(proj, spark=spark)
    ident = fal._identifier("agg")
    for _ in range(2):  # first build (write_table), then the swap rebuild
        assert fal.run()["model.sized1.agg"] == "success"
        assert len(_data_files(spark, ident)) == 1
        assert spark.table(ident).count() == 50


def test_incremental_merge_writes_one_file(spark, tmp_path, fresh_db):
    proj = _proj(tmp_path, fresh_db("sized2"), {
        "inc.sql": "{{ config(materialized='incremental', unique_key='grp') }}\n" + AGG_SQL,
    })
    fal = FalSpark(proj, spark=spark)
    ident = fal._identifier("inc")
    for _ in range(2):  # first build, then the merge swap
        assert fal.run()["model.sized2.inc"] == "success"
        assert len(_data_files(spark, ident)) == 1
        assert spark.table(ident).count() == 50


def test_small_max_partition_bytes_writes_several_files(spark, tmp_path, fresh_db):
    proj = _proj(tmp_path, fresh_db("sized3"), {"agg.sql": AGG_SQL})
    fal = FalSpark(proj, spark=spark)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        assert fal.run()["model.sized3.agg"] == "success"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert len(_data_files(spark, fal._identifier("agg"))) > 1


def test_mid_size_model_keeps_one_task_per_core(spark, tmp_path, fresh_db):
    """Sizing follows Spark's scan split rule: once the estimate passes
    ``openCostInBytes`` per core, a write keeps about one file per core
    instead of collapsing to a single task."""
    proj = _proj(tmp_path, fresh_db("sized5"), {"agg.sql": AGG_SQL})
    fal = FalSpark(proj, spark=spark)
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "1k")
    try:
        assert fal.run()["model.sized5.agg"] == "success"
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", prev)
    files = _data_files(spark, fal._identifier("agg"))
    assert 1 < len(files) <= cores + 1


def test_python_model_repartition_is_kept(spark, tmp_path, fresh_db):
    proj = _proj(tmp_path, fresh_db("sized4"), {
        "rep.py": (
            "def model(dbt, session):\n"
            "    return session.range(2000).selectExpr('id AS k').repartition(4)\n"
        ),
    })
    fal = FalSpark(proj, spark=spark)
    ident = fal._identifier("rep")
    for _ in range(2):
        assert fal.run()["model.sized4.rep"] == "success"
        assert len(_data_files(spark, ident)) == 4


def test_table_rebuild_is_one_spark_job(spark, tmp_path, fresh_db, monkeypatch):
    proj = _proj(tmp_path, fresh_db("onejob"), {"agg.sql": AGG_SQL})
    fal = FalSpark(proj, spark=spark)
    assert fal.run()["model.onejob.agg"] == "success"

    sc = spark.sparkContext
    group = "model-write-onejob-rebuild"
    execute = _ModelTask.execute

    def grouped(self, context):
        sc.setJobGroup(group, self.node)
        return execute(self, context)

    monkeypatch.setattr(_ModelTask, "execute", grouped)
    assert fal.run()["model.onejob.agg"] == "success"
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_rows_affected_matches_table_rows_and_run_results(spark, tmp_path, fresh_db):
    proj = _proj(tmp_path, fresh_db("rowsproj"), {
        "agg.sql": AGG_SQL,
        "v.sql": "{{ config(materialized='view') }}\nSELECT * FROM {{ ref('agg') }}",
        "py.py": (
            "def model(dbt, session):\n"
            "    return dbt.ref('agg').filter('grp < 20')\n"
        ),
        "pd_model.py": (
            "import pandas as pd\n\n\n"
            "def model(dbt, session):\n"
            "    return pd.DataFrame({'a': list(range(7))})\n"
        ),
    })
    fal = FalSpark(proj, spark=spark)
    for _ in range(2):  # first build, then the swap rebuild
        statuses = fal.run()
        assert set(statuses.values()) == {"success"}
        for name, rows in (("agg", 50), ("py", 20), ("pd_model", 7)):
            assert spark.table(fal._identifier(name)).count() == rows
            resp = fal._adapter_responses[name]
            assert (resp.code, resp.rows_affected) == ("CREATE TABLE", rows), name

        results = json.loads((proj / "target" / "run_results.json").read_text())["results"]
        by_id = {r["unique_id"]: r["adapter_response"] for r in results}
        assert by_id["model.rowsproj.agg"] == {
            "_message": "CREATE TABLE 50", "code": "CREATE TABLE", "rows_affected": 50,
        }
        assert by_id["model.rowsproj.v"] == {
            "_message": "CREATE VIEW", "code": "CREATE VIEW", "rows_affected": None,
        }
        assert all(set(r) == {"_message", "code", "rows_affected"} for r in by_id.values())


def test_tests_on_thread_pool_match_single_thread(spark, tmp_path, monkeypatch, fresh_db):
    proj = tmp_path / "jaffle_spark"
    shutil.copytree(FIXTURES / "jaffle_spark", proj, ignore=shutil.ignore_patterns("target"))
    schema = proj / "models" / "schema.yml"
    schema.write_text(schema.read_text().replace(
        '          - accepted_values: {values: ["O", "F", "P"]}\n',
        '          - accepted_values: {values: ["O", "F", "P"]}\n'
        '          - accepted_values:\n'
        '              values: ["O"]\n'
        '              config: {severity: warn, store_failures: true}\n',
    ))
    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    monkeypatch.delenv("AUDIT_MARKER_FILE", raising=False)
    db = fresh_db("jaffle_threads")
    fresh_db(f"{db}_dbt_test__audit")
    fal = FalSpark(proj, spark=spark, schema=db)
    fal.run()

    fal.threads = 1
    serial = fal.test()
    fal.threads = 4
    pooled = fal.test()
    assert pooled == serial
    assert [r["test"] for r in serial] == [t.name for t in fal.manifest.tests.values()]
    stored = [r for r in serial if r["status"] == "warn"]
    assert len(stored) == 1 and stored[0]["violations"] > 0
    audit = spark.table(f"{db}_dbt_test__audit.{stored[0]['test']}")
    assert audit.count() == stored[0]["violations"]


def test_sort_by_rows_affected_counts_each_row_once(spark, tmp_path, fresh_db):
    """A sort_by write range-partitions its input, and Spark's range
    partitioner samples that input in a job of its own: the row count
    must not see the sampling pass."""
    proj = _proj(tmp_path, fresh_db("sortrows"), {
        "tbl.sql": "{{ config(materialized='table', sort_by='k') }}\n"
                   "SELECT id * 37 % 4096 AS k, id AS payload FROM range(4096)",
        "inc.sql": "{{ config(materialized='incremental', unique_key='k', sort_by='k') }}\n"
                   "SELECT id * 37 % 4096 AS k, id AS payload FROM range(4096)\n"
                   "{% if is_incremental() %}WHERE id < 1000{% endif %}",
    })
    fal = FalSpark(proj, spark=spark)
    for expect_inc in (("CREATE TABLE", 4096), ("INSERT", 1000)):
        assert set(fal.run().values()) == {"success"}
        tbl = fal._adapter_responses["tbl"]
        assert (tbl.code, tbl.rows_affected) == ("CREATE TABLE", 4096)
        assert spark.table(fal._identifier("tbl")).count() == 4096
        inc = fal._adapter_responses["inc"]
        assert (inc.code, inc.rows_affected) == expect_inc
        assert spark.table(fal._identifier("inc")).count() == 4096


def test_list_form_layout_survives_run_and_compact(spark, tmp_path):
    """dbt users write partition_by/bucket_by cols as YAML/Jinja LISTS as
    often as comma strings; both must materialize AND survive compact
    with the declared layout intact (pre-fix: bracketed garbage column
    names -> AnalysisException)."""
    from dbt_fal_spark.api import FalSpark

    spark.sql("DROP DATABASE IF EXISTS listlayout CASCADE")
    proj = tmp_path / "listlayout"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: listlayout\n")
    (proj / "models" / "bkt.sql").write_text(
        "{{ config(materialized='table', bucket_by={'cols': ['k', 'v'], 'n': 4}) }}\n"
        "SELECT id AS k, id % 7 AS v FROM range(50)"
    )
    (proj / "models" / "parted.sql").write_text(
        "{{ config(materialized='table', partition_by=['p']) }}\n"
        "SELECT id AS x, id % 3 AS p FROM range(30)"
    )
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    assert _catalog_entry(spark, fal._identifier("bkt")).buckets == (4, ("k", "v"))
    assert fal.compact("bkt") == 4
    assert _catalog_entry(spark, fal._identifier("bkt")).buckets == (4, ("k", "v"))
    fal.compact("parted", target_partitions=2)
    assert spark.table(fal._identifier("parted")).count() == 30
    assert "p" in [
        r.col_name
        for r in spark.sql(
            f"DESCRIBE TABLE {fal._identifier('parted')}"
        ).collect()
    ]
    spark.sql("DROP DATABASE IF EXISTS listlayout CASCADE")


def test_write_to_model_append_aligns_columns(spark, tmp_path):
    """insertInto is positional: appending a df whose columns arrive in a
    different order previously wrote values into the wrong columns."""
    from dbt_fal_spark.api import FalSpark

    spark.sql("DROP DATABASE IF EXISTS wtmalign CASCADE")
    proj = tmp_path / "wtmalign"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: wtmalign\n")
    (proj / "models" / "t.sql").write_text("SELECT id AS a, id * 100 AS b FROM range(3)")
    fal = FalSpark(proj, spark=spark)
    fal.run()
    # reordered columns: b first
    extra = spark.createDataFrame([(300, 3), (400, 4)], "b long, a long")
    fal.write_to_model(extra, "t", mode="append")
    rows = {(r.a, r.b) for r in fal.ref("t").collect()}
    assert (3, 300) in rows and (4, 400) in rows, rows
    assert (300, 3) not in rows, "append wrote columns positionally, not by name"
    spark.sql("DROP DATABASE IF EXISTS wtmalign CASCADE")


def test_write_to_model_overwrite_keeps_declared_layout(spark, tmp_path):
    """A script's write_to_model overwrite must not flatten the model's
    declared bucket layout."""
    from dbt_fal_spark.api import FalSpark

    spark.sql("DROP DATABASE IF EXISTS wtmlayout CASCADE")
    proj = tmp_path / "wtmlayout"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: wtmlayout\n")
    (proj / "models" / "bk.sql").write_text(
        "{{ config(materialized='table', bucket_by={'cols': 'k', 'n': 4}) }}\n"
        "SELECT id AS k, id AS v FROM range(20)"
    )
    fal = FalSpark(proj, spark=spark)
    fal.run()
    ident = fal._identifier("bk")
    assert _catalog_entry(spark, ident).buckets == (4, ("k",))
    fal.write_to_model(spark.range(30).selectExpr("id AS k", "id*2 AS v"), "bk")
    assert spark.table(ident).count() == 30
    assert _catalog_entry(spark, ident).buckets == (4, ("k",)), "overwrite flattened the bucket layout"
    spark.sql("DROP DATABASE IF EXISTS wtmlayout CASCADE")


def test_incremental_model_keeps_declared_bucket_layout(spark, tmp_path):
    """An incremental model's declared bucket layout must survive BOTH
    the first-run write and the merge swap (pre-fix: incremental_merge
    never received bucket_by/sort_by — the table was created unbucketed,
    and a bucketed table hitting the merge path was silently flattened
    by the swap, voiding the zero-shuffle-join contract). Also verifies
    the append strategy maintains bucketing via insertInto (bucket spec
    comes from the catalog there)."""
    import re

    from dbt_fal_spark.api import FalSpark

    spark.sql("DROP DATABASE IF EXISTS incbkt CASCADE")
    proj = tmp_path / "incbkt"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: incbkt\n")
    (proj / "models" / "merged.sql").write_text(
        "{{ config(materialized='incremental', unique_key='k',"
        " bucket_by={'cols': 'k', 'n': 4}) }}\n"
        "SELECT id AS k, id % 7 AS v FROM range(50)"
    )
    (proj / "models" / "appended.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='append',"
        " bucket_by={'cols': 'k', 'n': 4}) }}\n"
        "SELECT id AS k, id % 7 AS v FROM range(20)"
    )
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    # first run creates the bucket layout
    for m in ("merged", "appended"):
        assert _catalog_entry(spark, fal._identifier(m)).buckets == (4, ("k",)), m
    # second run: merge swap and append must both keep it
    statuses = fal.run()
    assert all(s == "success" for s in statuses.values()), statuses
    for m in ("merged", "appended"):
        assert _catalog_entry(spark, fal._identifier(m)).buckets == (4, ("k",)), (
            f"{m}: incremental rerun flattened the bucket layout"
        )
    # the appended files are REALLY bucketed (bucket-id suffix), not just
    # catalog metadata over unbucketed data
    loc = _table_location(spark, fal._identifier("appended"))
    import os

    data_files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
    assert data_files and all(re.search(r"_\d{5}\.c\d+", f) for f in data_files)
    assert spark.table(fal._identifier("merged")).count() == 50
    assert spark.table(fal._identifier("appended")).count() == 40
    spark.sql("DROP DATABASE IF EXISTS incbkt CASCADE")


def test_model_alias_config(tmp_path, spark, monkeypatch):
    """dbt `alias` config (reference: run.feature 'fal run provides
    model aliases'): the physical relation takes the alias name, ref()
    keeps resolving by MODEL name, and context.current_model.alias
    reports the alias to scripts."""
    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    monkeypatch.setenv("TESTDATA_DIR", SF_DIR)
    proj = tmp_path / "proj"
    shutil.copytree(FIXTURES / "jaffle_spark", proj)
    (proj / "models" / "agent_wait_time.sql").write_text(
        "{{ config(materialized='table', alias='wait_time') }}\n"
        "select count(*) as n from {{ ref('stg_orders') }}\n"
    )
    (proj / "scripts" / "alias_probe.py").write_text(
        "open(__file__ + '.out', 'w').write(\n"
        "    f'alias={context.current_model.alias} name={context.current_model.name}')\n"
    )
    schema_yml = proj / "models" / "schema.yml"
    schema_yml.write_text(
        schema_yml.read_text()
        + "  - name: agent_wait_time\n"
        + "    meta: {fal: {scripts: {after: [scripts/alias_probe.py]}}}\n"
    )
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(threads=2)
    assert statuses["model.jaffle_spark.agent_wait_time"] == "success"
    # physical relation carries the alias; the model name is not a table
    assert spark.catalog.tableExists("jaffle_spark.wait_time")
    assert not spark.catalog.tableExists("jaffle_spark.agent_wait_time")
    # ref() by MODEL name resolves to the aliased relation
    assert fal.ref("agent_wait_time").collect()[0]["n"] > 0
    probe = (proj / "scripts" / "alias_probe.py.out").read_text()
    assert probe == "alias=wait_time name=agent_wait_time"
    spark.sql("DROP DATABASE IF EXISTS jaffle_spark CASCADE")


def test_full_refresh_keeps_incremental_bucket_layout(spark, tmp_path, fresh_db):

    proj = _proj(tmp_path, fresh_db("frbkt"), {
        "inc.sql": "{{ config(materialized='incremental', unique_key='k',"
                   " bucket_by={'cols': 'k', 'n': 4}) }}\n"
                   "SELECT id AS k, id % 7 AS v FROM range(50)",
    })
    fal = FalSpark(proj, spark=spark)
    assert fal.run()["model.frbkt.inc"] == "success"
    assert fal.run(full_refresh=True)["model.frbkt.inc"] == "success"
    ident = fal._identifier("inc")
    assert _catalog_entry(spark, ident).buckets == (4, ("k",))
    assert spark.table(ident).count() == 50


@pytest.mark.parametrize("fname, body", [
    ("m.sql", "SELECT id AS x, id % 3 AS g FROM range(12)"),
    ("m.py", "def model(dbt, session):\n"
             "    return session.range(12).selectExpr('id AS x', 'id % 3 AS g')\n"),
], ids=["sql", "python"])
def test_schema_yml_partition_by_partitions_the_model(spark, tmp_path, fresh_db, fname, body):
    """schema.yml ``config:`` is a model's config, under its file's own
    ``config()`` (``own``)."""
    proj = _proj(tmp_path, fresh_db("ymlcfg"), {
        fname: body,
        "own.sql": "{{ config(partition_by='h') }}\n"
                   "SELECT id AS x, id % 3 AS g, id % 2 AS h FROM range(12)",
        "schema.yml": (
            "version: 2\n"
            "models:\n"
            "  - name: m\n"
            "    config: {partition_by: g}\n"
            "  - name: own\n"
            "    config: {partition_by: g}\n"
        ),
    })
    fal = FalSpark(proj, spark=spark)
    assert set(fal.run().values()) == {"success"}
    for name, cols in (("m", ["g"]), ("own", ["h"])):
        ident = fal._identifier(name)
        assert [c.name for c in spark.catalog.listColumns(ident) if c.isPartition] == cols, name
        assert spark.table(ident).count() == 12, name


def test_teleport_import_lands_in_the_alias_table(spark, tmp_path, fresh_db):
    db = fresh_db("tpalias")
    proj = _proj(tmp_path, db, {
        "m.sql": "{{ config(alias='m_tbl') }}\nSELECT id AS k FROM range(3)",
    })
    fal = FalSpark(proj, spark=spark)
    assert fal.run()[f"model.{db}.m"] == "success"
    url = str(tmp_path / "interchange")
    spark.range(5).selectExpr("id AS k").write.parquet(url)
    fal.teleport_import(url, "m")
    assert fal.ref("m").count() == 5
    assert not spark.catalog.tableExists(f"{db}.m")


def test_write_to_source_keeps_a_csv_source_csv(spark, tmp_path, fresh_db):
    proj = _proj(tmp_path, fresh_db("csvsrc"), {
        "schema.yml": (
            "version: 2\n"
            "sources:\n"
            "  - name: raw\n"
            "    tables:\n"
            "      - name: people\n"
            "        meta: {path: data/people, format: csv}\n"
        ),
    })
    (proj / "data" / "people").mkdir(parents=True)
    (proj / "data" / "people" / "part-0.csv").write_text("id,name\n1,a\n2,b\n")
    fal = FalSpark(proj, spark=spark)
    fal.write_to_source(spark.createDataFrame([(3, "c")], "id int, name string"), "raw", "people")
    rows = sorted((r.id, r.name) for r in fal.source("raw", "people").collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_layout_cols_accepts_both_forms():
    from dbt_fal_spark.materialize import layout_cols

    assert layout_cols("k1, k2") == ["k1", "k2"]
    assert layout_cols(["k1", "k2"]) == ["k1", "k2"]
    assert layout_cols(("k1",)) == ["k1"]
    assert layout_cols(None) == []
    assert layout_cols("") == []
    # the pre-fix failure: str(list).split(",") produced "['k1'" garbage
    assert "[" not in "".join(layout_cols(["k1", "k2"]))
