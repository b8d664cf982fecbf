"""Materialization-strategy unit tests (reference: C5 — the adapter
declares append / merge / insert_overwrite, fal/python/impl.py:256-291)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_fal_spark.materialize import incremental_merge, write_table

SCHEMA = "mat_tests"


@pytest.fixture(autouse=True)
def _db(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {SCHEMA}")
    yield
    spark.sql(f"DROP DATABASE IF EXISTS {SCHEMA} CASCADE")


def _df(spark, rows):
    return spark.createDataFrame(rows, "day string, k long, v string")


def test_insert_overwrite_replaces_only_touched_partitions(spark):
    t = f"{SCHEMA}.io_target"
    first = _df(spark, [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "c")])
    incremental_merge(spark, first, t, None, strategy="insert_overwrite", partition_by="day")
    # second batch rewrites d2 and adds d3; d1 must survive untouched
    second = _df(spark, [("d2", 9, "z"), ("d3", 4, "d")])
    incremental_merge(spark, second, t, None, strategy="insert_overwrite", partition_by="day")
    got = {(r.day, r.k, r.v) for r in spark.table(t).collect()}
    assert got == {("d1", 1, "a"), ("d1", 2, "b"), ("d2", 9, "z"), ("d3", 4, "d")}


def test_concurrent_insert_overwrites_keep_untouched_partitions(spark, monkeypatch):
    """Two insert_overwrite merges in one session, forced to interleave
    the way an unserialized pair can: A sets the dynamic mode and holds
    at its write until B reaches its own write (or a timeout passes),
    and B's write waits until A's merge has returned. Each table must
    keep the partitions its batch does not touch, and the session's
    overwrite mode must end at its prior value."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    ta, tb = f"{SCHEMA}.io_race_a", f"{SCHEMA}.io_race_b"
    seed = [("d1", 1, "a"), ("d2", 2, "b")]
    for t in (ta, tb):
        incremental_merge(spark, _df(spark, seed), t, None,
                          strategy="insert_overwrite", partition_by="day")
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key, "static")
    a_at_write, b_at_write, a_returned = (threading.Event() for _ in range(3))
    orig = DataFrameWriter.insertInto

    def insert_into(self, tableName, overwrite=None):
        if tableName == ta:
            a_at_write.set()
            b_at_write.wait(timeout=8)
        else:
            b_at_write.set()
            a_returned.wait(timeout=60)
        return orig(self, tableName, overwrite)

    monkeypatch.setattr(DataFrameWriter, "insertInto", insert_into)
    errors = []

    def merge(t, day, after=None):
        try:
            incremental_merge(spark, _df(spark, [(day, 9, "z")]), t, None,
                              strategy="insert_overwrite", partition_by="day")
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)
        finally:
            if after is not None:
                after.set()

    a = threading.Thread(target=merge, args=(ta, "d2", a_returned))
    a.start()
    assert a_at_write.wait(timeout=60)
    b = threading.Thread(target=merge, args=(tb, "d1"))
    b.start()
    a.join(timeout=120)
    b.join(timeout=120)
    assert errors == []
    assert {(r.day, r.k) for r in spark.table(ta).collect()} == {("d1", 1), ("d2", 9)}
    assert {(r.day, r.k) for r in spark.table(tb).collect()} == {("d1", 9), ("d2", 2)}
    assert spark.conf.get(key, "static") == prior


def test_insert_overwrite_requires_partition_by(spark):
    t = f"{SCHEMA}.io_bad"
    write_table(_df(spark, [("d1", 1, "a")]), t)
    with pytest.raises(ValueError, match="insert_overwrite requires partition_by"):
        incremental_merge(spark, _df(spark, [("d1", 1, "a")]), t, None, strategy="insert_overwrite")


def test_append_strategy_keeps_duplicates(spark):
    t = f"{SCHEMA}.app_target"
    incremental_merge(spark, _df(spark, [("d1", 1, "a")]), t, None, strategy="append")
    incremental_merge(spark, _df(spark, [("d1", 1, "a")]), t, None, strategy="append")
    assert spark.table(t).count() == 2


def test_merge_strategy_upserts_by_key(spark):
    t = f"{SCHEMA}.mrg_target"
    incremental_merge(spark, _df(spark, [("d1", 1, "a"), ("d1", 2, "b")]), t, "k")
    incremental_merge(spark, _df(spark, [("d1", 2, "B"), ("d2", 3, "c")]), t, "k")
    got = {(r.k, r.v) for r in spark.table(t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_partitioned_table_prunes_on_partition_filter(spark):
    t = f"{SCHEMA}.pruned"
    write_table(_df(spark, [("d1", 1, "a"), ("d2", 2, "b")]), t, partition_by="day")
    plan = spark.table(t).filter(F.col("day") == "d1")._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan must carry the partition filter
    assert "PartitionFilters" in plan and "d1" in plan


def test_on_schema_change_ignore_drops_new_column(spark):
    t = f"{SCHEMA}.osc_ignore"
    incremental_merge(spark, _df(spark, [("d1", 1, "a")]), t, "k")
    wider = spark.createDataFrame([("d1", 2, "b", 9.5)], "day string, k long, v string, score double")
    incremental_merge(spark, wider, t, "k")  # default: ignore
    assert "score" not in spark.table(t).columns
    assert {(r.day, r.k, r.v) for r in spark.table(t).collect()} == {("d1", 1, "a"), ("d1", 2, "b")}


def test_on_schema_change_fail_raises(spark):
    t = f"{SCHEMA}.osc_fail"
    incremental_merge(spark, _df(spark, [("d1", 1, "a")]), t, "k")
    wider = spark.createDataFrame([("d1", 2, "b", 9.5)], "day string, k long, v string, score double")
    with pytest.raises(ValueError, match="score"):
        incremental_merge(spark, wider, t, "k", on_schema_change="fail")


def test_on_schema_change_append_new_columns_evolves(spark):
    t = f"{SCHEMA}.osc_grow"
    incremental_merge(spark, _df(spark, [("d1", 1, "a")]), t, "k")
    wider = spark.createDataFrame([("d1", 2, "b", 9.5)], "day string, k long, v string, score double")
    incremental_merge(spark, wider, t, "k", on_schema_change="append_new_columns")
    got = {(r.day, r.k, r.v, r.score) for r in spark.table(t).collect()}
    # historical row reads the new column as NULL
    assert got == {("d1", 1, "a", None), ("d1", 2, "b", 9.5)}


def test_removed_column_always_fails(spark):
    t = f"{SCHEMA}.osc_narrow"
    incremental_merge(spark, _df(spark, [("d1", 1, "a")]), t, "k")
    narrower = spark.createDataFrame([("d1", 2)], "day string, k long")
    with pytest.raises(ValueError, match="no longer produces"):
        incremental_merge(spark, narrower, t, "k")


# --- table maintenance (compact / analyze) ----------------------------------


def _tiny_project(tmp_path):
    proj = tmp_path / "maintproj"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: maintproj\n")
    (proj / "models" / "wide.sql").write_text(
        "SELECT id AS k, id % 7 AS grp FROM range(2000)"
    )
    return proj


def test_compact_heals_small_files(spark, tmp_path):
    from dbt_fal_spark.api import FalSpark

    fal = FalSpark(_tiny_project(tmp_path), spark=spark)
    fal.run(select=["wide"])
    ident = fal._identifier("wide")
    # fragment: 16 appends of 16 partitions each -> hundreds of files
    frag = spark.table(ident)
    for _ in range(4):
        frag.repartition(16).write.mode("append").format("parquet").saveAsTable(ident)
    before = spark.table(ident)
    n_rows = before.count()
    n_parts_before = before.rdd.getNumPartitions()
    # materialize the expectation NOW — the lazy plan's file list dies
    # with the atomic swap (that staleness is exactly why compact swaps
    # rather than rewriting in place)
    expected_grp = before.groupBy("grp").count().orderBy("grp").collect()

    fal.compact("wide", target_partitions=2)
    after = spark.table(ident)
    assert after.rdd.getNumPartitions() < n_parts_before
    assert after.rdd.getNumPartitions() <= 2
    assert after.count() == n_rows
    # content identical, not just counts
    assert after.groupBy("grp").count().orderBy("grp").collect() == expected_grp


def test_analyze_records_stats(spark, tmp_path):
    from dbt_fal_spark.api import FalSpark

    fal = FalSpark(_tiny_project(tmp_path), spark=spark)
    fal.run(select=["wide"])
    fal.analyze("wide")
    ident = fal._identifier("wide")
    detail = {r["col_name"]: r["data_type"] for r in spark.sql(
        f"DESCRIBE TABLE EXTENDED {ident}").collect()}
    assert "Statistics" in detail and "rows" in detail["Statistics"]
    cols = {r["info_name"]: r["info_value"] for r in spark.sql(
        f"DESCRIBE TABLE EXTENDED {ident} k").collect()}
    assert cols.get("distinct_count") not in (None, "NULL")


def test_sort_by_range_clusters_files(spark, tmp_path):
    """sort_by must produce files covering DISJOINT value ranges (the
    data-skipping contract: parquet min/max stats then prune whole
    files for any range predicate). Verified against the actual footer
    statistics of the written files."""
    import glob as _glob

    import pyarrow.parquet as pq
    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "sortproj"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: sortproj\n")
    (proj / "models" / "clustered.sql").write_text(
        "{{ config(materialized='table', sort_by='k') }}\n"
        # pmod scrambles insertion order so the clustering is the writer's
        "SELECT id * 37 % 4096 AS k, id AS payload FROM range(4096)"
    )
    fal = FalSpark(proj, spark=spark)
    assert fal.run(select=["clustered"])["model.sortproj.clustered"] == "success"
    ident = fal._identifier("clustered")
    loc = spark.sql(f"DESCRIBE TABLE EXTENDED {ident}").collect()
    location = next(r["data_type"] for r in loc if r["col_name"] == "Location")
    files = sorted(_glob.glob(location.replace("file:", "") + "/*.parquet"))
    ranges = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(0)  # k is the first column
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1, "need multiple files to prove clustering"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"
    # rebuild path (table exists -> atomic swap) keeps the layout
    assert fal.run(select=["clustered"])["model.sortproj.clustered"] == "success"
    # content survives the clustered rewrite
    got = spark.table(ident)
    assert got.count() == 4096
    assert got.agg({"k": "max"}).collect()[0][0] == 4095


def test_compact_preserves_sort_by_clustering(spark, tmp_path):
    """Compacting a sort_by model must re-cluster, not interleave: the
    post-compact files still cover disjoint ranges."""
    import glob as _glob

    import pyarrow.parquet as pq
    from dbt_fal_spark.api import FalSpark

    proj = tmp_path / "sortproj2"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: sortproj2\n")
    (proj / "models" / "clustered.sql").write_text(
        "{{ config(materialized='table', sort_by='k') }}\n"
        "SELECT id * 37 % 4096 AS k, id AS payload FROM range(4096)"
    )
    fal = FalSpark(proj, spark=spark)
    assert fal.run(select=["clustered"])["model.sortproj2.clustered"] == "success"
    ident = fal._identifier("clustered")
    # fragment with an unsorted append, then compact back to 3 partitions
    spark.table(ident).repartition(16).write.mode("append").format(
        "parquet"
    ).saveAsTable(ident)
    fal.compact("clustered", target_partitions=3)
    loc = spark.sql(f"DESCRIBE TABLE EXTENDED {ident}").collect()
    location = next(r["data_type"] for r in loc if r["col_name"] == "Location")
    ranges = []
    for f in sorted(_glob.glob(location.replace("file:", "") + "/*.parquet")):
        meta = pq.ParquetFile(f).metadata
        mins = [meta.row_group(g).column(0).statistics.min for g in range(meta.num_row_groups)]
        maxs = [meta.row_group(g).column(0).statistics.max for g in range(meta.num_row_groups)]
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"compact destroyed clustering: ({lo1},{hi1}) vs ({lo2},{hi2})"
    assert spark.table(ident).count() == 8192


def test_copied_warehouse_reattaches_inside_the_copy(spark, tmp_path):
    """A warehouse copied after a swap resolves its live pointer to the
    copy's own version dir, not to the warehouse it was copied from."""
    import os
    import shutil

    from dbt_fal_spark.materialize import live_version_dir, replace_relation_atomic

    db_a, db_b = tmp_path / "A" / "reloc.db", tmp_path / "B" / "reloc.db"
    spark.sql("DROP DATABASE IF EXISTS reloc CASCADE")
    spark.sql(f"CREATE DATABASE reloc LOCATION '{db_a}'")
    try:
        write_table(spark.range(5).withColumnRenamed("id", "k"), "reloc.t")
        replace_relation_atomic(spark, spark.range(7).withColumnRenamed("id", "k"), "reloc.t")
        shutil.copytree(db_a, db_b)
        # A stays intact while B resolves, so a pointer into A would be
        # followed rather than fall back to B's own newest version dir
        live = live_version_dir(db_b, "t")
        assert live is not None and "__v" in os.path.basename(live)
        assert os.path.commonpath([live, str(db_b.resolve())]) == str(db_b.resolve())
        assert spark.read.parquet(live).count() == 7
    finally:
        spark.sql("DROP DATABASE IF EXISTS reloc CASCADE")
