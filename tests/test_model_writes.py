"""Model writes: output files sized to the data, one Spark job per table
rebuild, ``rows_affected`` read from the write, run_results adapter
responses, and tests run on the thread pool."""

from __future__ import annotations

import glob
import json
import os
import shutil
from pathlib import Path

import pytest

from dbt_fal_spark.api import FalSpark, _ModelTask
from dbt_fal_spark.materialize import _table_location
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
