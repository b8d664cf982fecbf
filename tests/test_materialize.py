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


def _describe(spark, ident):
    """``DESCRIBE TABLE EXTENDED`` as {col_name: data_type}."""
    return {r["col_name"]: r["data_type"] for r in spark.sql(
        f"DESCRIBE TABLE EXTENDED {ident}").collect()}


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


# --- the table commit: version dirs, live pointer, swap token ----------------


def _project(tmp_path, name, models):
    proj = tmp_path / name
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(f"name: {name}\n")
    for mname, sql in models.items():
        (proj / "models" / f"{mname}.sql").write_text(sql)
    return proj


def test_every_commit_lands_external_at_the_version_dir_the_pointer_names(spark):
    """A first write, a same-shape rebuild, and a partitioned,
    schema-changed and bucket-changed rebuild each leave an EXTERNAL
    table at a fresh ``__v<uuid8>`` dir, the one the live pointer names."""
    import os
    import re

    from dbt_fal_spark.materialize import (
        _read_live_pointer,
        _re_sub_version,
        _table_location,
        replace_relation_atomic,
    )

    t = f"{SCHEMA}.commits"
    rows = lambda n, extra="": spark.range(n).selectExpr(  # noqa: E731
        "id AS k", "cast(id % 3 as string) AS p", *([extra] if extra else [])
    )
    steps = [
        ("first write", lambda: write_table(rows(10), t), 10),
        ("same-shape rebuild", lambda: replace_relation_atomic(spark, rows(11), t), 11),
        ("partitioned rebuild",
         lambda: replace_relation_atomic(spark, rows(12), t, partition_by="p"), 12),
        ("schema-changed rebuild",
         lambda: replace_relation_atomic(spark, rows(13, "id * 2 AS v"), t, partition_by="p"), 13),
        ("bucket-changed rebuild",
         lambda: replace_relation_atomic(
             spark, rows(14, "id * 2 AS v"), t, bucket_by={"cols": "k", "n": 4}), 14),
    ]
    seen = set()
    for step, commit, n in steps:
        commit()
        loc = _table_location(spark, t)
        assert _describe(spark, t)["Type"] == "EXTERNAL", step
        assert re.search(r"__v[0-9a-f]{8}$", loc), (step, loc)
        assert loc not in seen, (step, loc)
        seen.add(loc)
        assert os.path.abspath(_read_live_pointer(_re_sub_version(loc))) == os.path.abspath(loc), step
        assert spark.table(t).count() == n, step


def test_partitioned_rebuild_keeps_read_files_until_vacuum(spark):
    """A reader's file list from before a partitioned rebuild stays on
    disk after it (the previous version is the grace dir) and vacuum
    then removes it."""
    import os
    from urllib.parse import urlparse

    from dbt_fal_spark.materialize import replace_relation_atomic, vacuum_table

    t = f"{SCHEMA}.part_grace"
    df = spark.range(30).selectExpr("id AS k", "cast(id % 3 as string) AS p")
    write_table(df, t, partition_by="p")
    before = [urlparse(f).path for f in spark.table(t).inputFiles()]
    assert before
    replace_relation_atomic(spark, df.filter("k < 20"), t, partition_by="p")
    assert all(os.path.exists(f) for f in before)
    assert spark.table(t).count() == 20
    assert vacuum_table(spark, t) == 1
    assert not any(os.path.exists(f) for f in before)
    assert spark.table(t).count() == 20


def test_restart_reattaches_partitioned_model_with_its_rows(spark, tmp_path):
    """A ``partition_by`` model whose live version a previous session
    committed reads every row once FalSpark re-attaches it: attaching
    recovers the partitions from the dir layout."""
    from dbt_fal_spark.api import FalSpark

    proj = _project(tmp_path, "reattach_part", {
        "pt": "{{ config(partition_by='p') }}\n"
              "SELECT id AS k, cast(id % 3 as string) AS p FROM range(30)",
    })
    wh = tmp_path / "wh"
    (proj / "profiles.yml").write_text(
        "reattach_part:\n  target: dev\n  outputs:\n    dev:\n"
        f"      schema: reattach_part\n      warehouse_dir: {wh}\n"
    )
    spark.range(30).selectExpr("id AS k", "cast(id % 3 as string) AS p").write.partitionBy(
        "p"
    ).parquet(str(wh / "reattach_part.db" / "pt__v0123abcd"))
    try:
        fal = FalSpark(proj, spark=spark)
        assert spark.table(fal._identifier("pt")).count() == 30
    finally:
        spark.sql("DROP DATABASE IF EXISTS reattach_part CASCADE")


def test_attach_live_table_resolves_a_legacy_unsuffixed_dir(spark):
    """A table written before version dirs and pointers (data in the
    un-suffixed ``<db>/<name>`` dir) still attaches."""
    from pathlib import Path
    from urllib.parse import urlparse

    from dbt_fal_spark.materialize import attach_live_table

    db_dir = Path(urlparse(spark.catalog.getDatabase(SCHEMA).locationUri).path)
    spark.range(6).write.mode("overwrite").parquet(str(db_dir / "legacy"))
    assert attach_live_table(spark, f"{SCHEMA}.legacy", db_dir)
    assert spark.table(f"{SCHEMA}.legacy").count() == 6
    assert not attach_live_table(spark, f"{SCHEMA}.nothing_here", db_dir)


def test_live_pointer_roundtrip_and_legacy_formats(tmp_path):
    """The pointer names the version dir; older pointer files (an
    absolute path on one line, or a second nonce line) parse the same."""
    import os

    from dbt_fal_spark.materialize import (
        _live_pointer_path,
        _read_live_pointer,
        _write_live_pointer,
    )

    base = str(tmp_path / "t")
    loc = str(tmp_path / "t__v01234567")
    _write_live_pointer(base, loc)
    assert _read_live_pointer(base) == os.path.abspath(loc)
    for legacy in (os.path.abspath(loc), f"{os.path.abspath(loc)}\n0123456789abcdef"):
        with open(_live_pointer_path(base), "w") as f:
            f.write(legacy)
        assert _read_live_pointer(base) == os.path.abspath(loc)


def test_pointer_write_holds_commit_lock(spark, monkeypatch):
    """The live pointer is rewritten while the per-table commit lock is
    held, so a maintenance verb's token check under that lock sees the
    catalog and the pointer agree."""
    import dbt_fal_spark.materialize as mat

    ident = f"{SCHEMA}.lock_tbl"
    seen = {"locked": None, "calls": 0}
    real = mat._write_live_pointer

    def spy(base, loc):
        seen["calls"] += 1
        seen["locked"] = mat._FLIP_LOCKS[ident.lower()].locked()
        return real(base, loc)

    monkeypatch.setattr(mat, "_write_live_pointer", spy)
    df = spark.range(10).selectExpr("id AS k", "cast(id % 3 as string) AS p")
    mat.replace_relation_atomic(spark, df, ident, partition_by="p")
    assert seen["calls"] == 1
    assert seen["locked"] is True, "pointer rewrite ran outside the commit lock"


def test_swap_token_changes_across_same_mtime_tick_rebuilds(spark):
    """Two partitioned rebuilds forced onto the SAME directory mtime
    still produce different tokens: every commit mints a new location."""
    import os

    from dbt_fal_spark.materialize import (
        _table_location,
        replace_relation_atomic,
        table_swap_token,
    )

    ident = f"{SCHEMA}.tick_tbl"
    pinned = (1_700_000_000, 1_700_000_000)
    df1 = spark.range(10).selectExpr("id AS k", "cast(id % 3 as string) AS p")
    replace_relation_atomic(spark, df1, ident, partition_by="p")
    os.utime(_table_location(spark, ident), pinned)
    tok1 = table_swap_token(spark, ident)

    df2 = spark.range(20).selectExpr("id AS k", "cast(id % 3 as string) AS p")
    replace_relation_atomic(spark, df2, ident, partition_by="p")
    os.utime(_table_location(spark, ident), pinned)  # the coarse same-tick landing
    tok2 = table_swap_token(spark, ident)
    assert tok1 != tok2, "same-tick rebuild produced an equal swap token"


def test_stale_swap_token_aborts_a_partitioned_commit(spark):
    """A token captured before a partitioned rebuild mismatches after
    it, even with the dir mtime pinned equal, so a commit conditioned on
    it aborts; a token captured after the rebuild commits."""
    import os

    from dbt_fal_spark.materialize import (
        ConcurrentRebuildError,
        _table_location,
        replace_relation_atomic,
        table_swap_token,
    )

    ident = f"{SCHEMA}.stale_tok_tbl"
    pinned = (1_700_000_000, 1_700_000_000)
    df1 = spark.range(8).selectExpr("id AS k", "cast(id % 2 as string) AS p")
    replace_relation_atomic(spark, df1, ident, partition_by="p")
    os.utime(_table_location(spark, ident), pinned)
    stale_tok = table_swap_token(spark, ident)

    df2 = spark.range(16).selectExpr("id AS k", "cast(id % 2 as string) AS p")
    replace_relation_atomic(spark, df2, ident, partition_by="p")
    os.utime(_table_location(spark, ident), pinned)
    with pytest.raises(ConcurrentRebuildError):
        replace_relation_atomic(spark, df1, ident, partition_by="p", expected_token=stale_tok)
    assert spark.table(ident).count() == 16
    fresh_tok = table_swap_token(spark, ident)
    replace_relation_atomic(spark, df2, ident, partition_by="p", expected_token=fresh_tok)


def test_swap_token_detects_partitioned_rebuild(spark, tmp_path):
    """A partitioned model rebuilt by a run changes the swap token, so
    optimistic compaction can detect the rebuild."""
    from dbt_fal_spark.api import FalSpark
    from dbt_fal_spark.materialize import table_swap_token

    proj = _project(tmp_path, "tok_part", {
        "t": "{{ config(partition_by='p') }}\n"
             "SELECT id % 3 AS p, id AS v FROM range(60)",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")
    tok1 = table_swap_token(spark, ident)
    fal.run(select=["t"])
    tok2 = table_swap_token(spark, ident)
    assert tok1 != tok2, "rebuild not visible in the swap token"
    assert tok1[0] != tok2[0], "the rebuild reused its version dir"


# --- the catalog entry: one read per commit step ---------------------------


def test_catalog_entry_agrees_with_describe(spark):
    """``_catalog_entry`` reports the location, bucket spec, partitioning
    and columns that ``DESCRIBE TABLE EXTENDED`` and the analyzed table
    report: for a plain, a partitioned, a bucketed and a re-attached
    table, and None for an absent one."""
    import os
    from urllib.parse import urlparse

    from dbt_fal_spark.materialize import _catalog_entry, _signature, attach_live_table

    rows = spark.range(12).selectExpr(
        "id AS k", "cast(id % 3 as string) AS p", "cast(id as decimal(10,2)) AS amt", "array(id) AS a"
    )
    write_table(rows, f"{SCHEMA}.e_plain")
    write_table(rows, f"{SCHEMA}.e_part", partition_by="p")
    write_table(rows, f"{SCHEMA}.e_bkt", bucket_by={"cols": "k, p", "n": 4})
    # a table the catalog forgot (external: DROP keeps its version dir)
    write_table(rows, f"{SCHEMA}.e_attached", partition_by="p")
    spark.sql(f"DROP TABLE {SCHEMA}.e_attached")
    db_dir = urlparse(spark.catalog.getDatabase(SCHEMA).locationUri).path
    assert attach_live_table(spark, f"{SCHEMA}.e_attached", db_dir)

    for name, buckets, partitioned in [
        ("e_plain", None, False),
        ("e_part", None, True),
        ("e_bkt", (4, ("k", "p")), False),
        ("e_attached", None, True),
    ]:
        t = f"{SCHEMA}.{name}"
        desc = _describe(spark, t)
        entry = _catalog_entry(spark, t)
        assert entry.location == urlparse(desc["Location"]).path, name
        assert os.path.isdir(entry.location), name
        assert entry.buckets == buckets, name
        if buckets:
            assert int(desc["Num Buckets"]) == buckets[0], name
            assert desc["Bucket Columns"] == "[" + ", ".join(f"`{c}`" for c in buckets[1]) + "]"
        else:
            assert "Num Buckets" not in desc, name
        assert entry.partitioned == ("# Partition Information" in desc) == partitioned, name
        assert entry.columns == _signature(spark.table(t).schema), name
    assert _catalog_entry(spark, f"{SCHEMA}.e_absent") is None
    assert _catalog_entry(spark, "no_such_db.e_absent") is None


def test_set_location_refreshes_the_table(spark):
    """A re-point commit (SET LOCATION, no separate refresh) leaves the
    session as a refresh would: a new reference reads the new rows, a
    DataFrame resolved before the commit keeps reading the grace
    version, and a cached table is uncached."""
    from dbt_fal_spark.materialize import replace_relation_atomic

    t = f"{SCHEMA}.refreshed"
    rows = lambda n: spark.range(n).selectExpr("id AS k")  # noqa: E731
    write_table(rows(10), t)
    replace_relation_atomic(spark, rows(11), t)
    early = spark.table(t)
    spark.catalog.cacheTable(t)
    assert spark.catalog.isCached(t) and spark.table(t).count() == 11
    replace_relation_atomic(spark, rows(12), t)
    assert spark.table(t).count() == 12
    assert spark.sql(f"SELECT count(*) FROM {t}").collect()[0][0] == 12
    assert early.count() == 11
    assert not spark.catalog.isCached(t)


def test_rebuild_reads_the_catalog_without_describe_or_refresh(spark, tmp_path, monkeypatch):
    """A rebuild of a table model and a merge of an incremental model
    issue no DESCRIBE and no REFRESH statement, and each re-point commit
    issues exactly one SET LOCATION."""
    from pyspark.sql import SparkSession

    from dbt_fal_spark.api import FalSpark

    proj = _project(tmp_path, "catreads", {
        "tbl": "SELECT id AS k, id * 2 AS v FROM range(20)",
        "inc": "{{ config(materialized='incremental', unique_key='k') }}\n"
               "SELECT id AS k, id * 3 AS v FROM range(20)",
    })
    spark.sql("DROP DATABASE IF EXISTS catreads CASCADE")
    fal = FalSpark(proj, spark=spark)
    try:
        assert set(fal.run().values()) == {"success"}
        statements = []
        real_sql = SparkSession.sql

        def recorder(self, query, *args, **kwargs):
            statements.append(" ".join(query.split()).upper())
            return real_sql(self, query, *args, **kwargs)

        monkeypatch.setattr(SparkSession, "sql", recorder)
        assert set(fal.run().values()) == {"success"}
        monkeypatch.undo()
        assert not [q for q in statements if "DESCRIBE" in q or "REFRESH" in q], statements
        set_locations = [q for q in statements if "SET LOCATION" in q]
        assert len(set_locations) == 2, set_locations
        assert {q.split()[2] for q in set_locations} == {"`CATREADS`.`TBL`", "`CATREADS`.`INC`"}
        assert spark.table(fal._identifier("tbl")).count() == 20
        assert spark.table(fal._identifier("inc")).count() == 20
    finally:
        spark.sql("DROP DATABASE IF EXISTS catreads CASCADE")


def test_model_rebuild_reads_the_catalog_entry_twice(spark, tmp_path, monkeypatch):
    """A rebuild of a table model reads its catalog entry once before the
    write and once under the commit lock, and no more: the model write
    does not look the table up again to choose a verb. With two version
    dirs on disk, both kept, the vacuum has nothing to read for."""
    from dbt_fal_spark import materialize
    from dbt_fal_spark.api import FalSpark

    proj = _project(tmp_path, "entryreads", {"tbl": "SELECT id AS k FROM range(5)"})
    spark.sql("DROP DATABASE IF EXISTS entryreads CASCADE")
    fal = FalSpark(proj, spark=spark)
    try:
        assert fal.run() == {"model.entryreads.tbl": "success"}
        reads = []
        real_entry = materialize._catalog_entry

        def counting(spark_, identifier):
            reads.append(identifier)
            return real_entry(spark_, identifier)

        monkeypatch.setattr(materialize, "_catalog_entry", counting)
        assert fal.run() == {"model.entryreads.tbl": "success"}
        monkeypatch.undo()
        assert reads == ["entryreads.tbl", "entryreads.tbl"], reads
        assert spark.table(fal._identifier("tbl")).count() == 5
    finally:
        spark.sql("DROP DATABASE IF EXISTS entryreads CASCADE")
