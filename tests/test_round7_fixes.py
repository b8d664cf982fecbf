"""Round-7 regression locks (VERDICT r6 / ADVICE items): compact must
preserve every declared layout, maintenance CLI edge cases, requirement
spec normalization, JDBC '$' escaping, winnow bounded buckets."""

from __future__ import annotations

import os

import pytest

from dbt_fal_spark.api import FalSpark
from dbt_fal_spark.cli import main
from dbt_fal_spark.environments import _spec_name

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _proj(tmp_path, name, models):
    proj = tmp_path / name
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(f"name: {name}\n")
    for mname, sql in models.items():
        (proj / "models" / f"{mname}.sql").write_text(sql)
    return proj


def _describe(spark, ident):
    return {r["col_name"]: r["data_type"] for r in spark.sql(
        f"DESCRIBE TABLE EXTENDED {ident}").collect()}


# --- compact layout preservation (ADVICE medium, api.py compact) -------------


def test_compact_preserves_bucket_by(spark, tmp_path):
    """Compacting a bucketed model must keep the bucket spec — losing it
    silently voids the zero-shuffle-join contract the config declared."""
    proj = _proj(tmp_path, "bproj", {
        "bucketed": "{{ config(bucket_by={'cols': 'k', 'n': 4}) }}\n"
                    "SELECT id % 97 AS k, id AS payload FROM range(2000)",
    })
    fal = FalSpark(proj, spark=spark)
    assert fal.run(select=["bucketed"])["model.bproj.bucketed"] == "success"
    ident = fal._identifier("bucketed")
    before = _describe(spark, ident)
    assert before.get("Num Buckets") == "4"

    n = fal.compact("bucketed")
    assert n == 4  # bucket count, not defaultParallelism
    after = _describe(spark, ident)
    assert after.get("Num Buckets") == "4", "compact dropped the bucket spec"
    assert "k" in after.get("Bucket Columns", "")
    assert spark.table(ident).count() == 2000


def test_compact_preserves_partition_by(spark, tmp_path):
    """Compacting a hive-partitioned model must re-apply partitionBy —
    a flat rewrite voids partition pruning AND breaks insert_overwrite."""
    import glob as _glob

    proj = _proj(tmp_path, "pproj", {
        "parted": "{{ config(partition_by='grp') }}\n"
                  "SELECT id AS payload, id % 5 AS grp FROM range(1000)",
    })
    fal = FalSpark(proj, spark=spark)
    assert fal.run(select=["parted"])["model.pproj.parted"] == "success"
    ident = fal._identifier("parted")

    fal.compact("parted", target_partitions=2)
    desc = spark.sql(f"DESCRIBE TABLE {ident}").collect()
    names = [r["col_name"] for r in desc]
    assert "# Partition Information" in names, "compact flattened hive layout"
    location = _describe(spark, ident)["Location"].replace("file:", "")
    part_dirs = _glob.glob(location + "/grp=*")
    assert len(part_dirs) == 5, f"expected 5 partition dirs, got {part_dirs}"
    assert spark.table(ident).count() == 1000
    # pruning still works: a partition filter reads one directory
    plan = (
        spark.table(ident).filter("grp = 3")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "grp=3" in plan or "PartitionFilters" in plan


# --- maintenance CLI fallback (ADVICE low, cli.py) ---------------------------


def test_maintenance_views_only_project_is_noop(spark, tmp_path, capsys):
    proj = _proj(tmp_path, "vproj", {
        "v1": "{{ config(materialized='view') }}\nSELECT 1 AS one",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["v1"])
    rc = main(["maintenance", "compact", "--project-dir", str(proj)])
    assert rc == 0  # no-op, not a raise on the unfiltered fallback


def test_maintenance_unknown_select_reports_distinctly(spark, tmp_path, capsys):
    proj = _proj(tmp_path, "uproj", {
        "t1": "SELECT 1 AS one",
    })
    FalSpark(proj, spark=spark).run(select=["t1"])
    rc = main(["maintenance", "compact", "--project-dir", str(proj),
               "--select", "no_such_model"])
    assert rc == 2
    err = capsys.readouterr().err
    assert "unknown model" in err and "no_such_model" in err
    assert "view" not in err  # NOT misreported as a view/ephemeral


# --- requirement spec normalization (ADVICE low, environments.py) ------------


@pytest.mark.parametrize("spec,name", [
    ("pandas[performance]==2.2", "pandas"),
    ('numpy==1.26; python_version<"3.12"', "numpy"),
    ("PyYAML>=6.0", "pyyaml"),
    ("requests [socks] >= 2.0 ; sys_platform == 'linux'", "requests"),
    ("plainname", "plainname"),
    ("./local/path", ""),
])
def test_spec_name_strips_extras_and_markers(spec, name):
    assert _spec_name(spec) == name


def test_declared_extra_spec_suppresses_replicated_pin():
    from dbt_fal_spark.environments import _merge_replicated, replicate_local_deps

    replicated_names = {_spec_name(p) for p in replicate_local_deps()}
    if "pandas" not in replicated_names:
        pytest.skip("pandas not in replicated set in this environment")
    merged = _merge_replicated(["pandas[performance]==2.2"])
    pandas_specs = [s for s in merged if _spec_name(s) == "pandas"]
    assert pandas_specs == ["pandas[performance]==2.2"], (
        "conflicting pandas pins handed to pip: %s" % pandas_specs
    )


# --- JDBC '$' escaping (ADVICE low, api.py) ----------------------------------


def test_expand_source_dollar_escape_and_nonstrict():
    # $$ escapes a literal dollar in both modes
    assert FalSpark._expand_source_path("pw$$123", strict=False) == "pw$123"
    assert FalSpark._expand_source_path("/tmp/a$$b") == "/tmp/a$b"
    # non-strict: a residual unexpanded var passes through (JDBC values)
    assert (
        FalSpark._expand_source_path("jdbc:pg://h/db?pw=a$XNOVARX9",
                                     strict=False)
        == "jdbc:pg://h/db?pw=a$XNOVARX9"
    )
    # strict paths still fail fast with the variable name
    with pytest.raises(ValueError, match="XNOVARX9"):
        FalSpark._expand_source_path("/data/$XNOVARX9/t.parquet")
    # real vars expand in both modes
    os.environ["R7_TEST_VAR"] = "xyz"
    try:
        assert FalSpark._expand_source_path("$R7_TEST_VAR/p") == "xyz/p"
        assert (
            FalSpark._expand_source_path("u$R7_TEST_VAR$$", strict=False)
            == "uxyz$"
        )
    finally:
        del os.environ["R7_TEST_VAR"]


# --- winnow bounded buckets (ADVICE low, dedup.py) ---------------------------


def test_winnow_count_gate_precedes_collect(spark):
    """The cap must be enforced by a count-only gate (a join in the
    plan), not by filtering an already-collected array — otherwise one
    degenerate fingerprint builds an unbounded buffer on one reducer."""
    from dbt_fal_spark.operators.dedup import d_winnow_neardup

    plan = (
        d_winnow_neardup(spark, SF_DIR)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Join" in plan, "count-gate join missing from winnow plan"


# --- rank entries plan no single-partition window ---------------------------


def test_no_unpartitioned_window_in_flagged_entries(spark):
    """The two entries the r6 verdict flagged must plan ZERO
    single-partition WindowExec nodes (the 100TB scale killer)."""
    from dbt_fal_spark.operators.relational import q_customer_value_deciles
    from dbt_fal_spark.operators.stats import q_gini_customer_value

    for fn in (q_customer_value_deciles, q_gini_customer_value):
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window" in line:
                assert "partitionBy" not in line or "__pid" in line, line
                # a window spec with an empty partition list sorts
                # globally on one task — none may remain
                assert "Window [" not in line or "__pid" in line, line


def test_compact_concurrent_reader_sees_old_or_new(spark, tmp_path):
    """VERDICT r6 item 7: a reader racing compact must resolve either
    the pre-compact or the post-compact file set — never a missing-file
    error or a partial aggregate. Content is constant across compacts,
    so any successful read must return the exact total."""
    import threading

    from pyspark.sql import functions as F

    proj = _proj(tmp_path, "cproj", {
        "wide": "SELECT id AS k, id % 7 AS grp FROM range(5000)",
    })
    fal = FalSpark(proj, spark=spark)
    assert fal.run(select=["wide"])["model.cproj.wide"] == "success"
    ident = fal._identifier("wide")
    expected = 4999 * 5000 // 2
    errors: list[str] = []
    reads = [0]
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                total = spark.table(ident).agg(F.sum("k").alias("s")).collect()[0]["s"]
                reads[0] += 1
                if total != expected:
                    errors.append(f"partial/stale result: {total} != {expected}")
            except Exception as e:  # noqa: BLE001 — the assertion IS "no exception"
                errors.append(repr(e))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for i in range(6):
            fal.compact("wide", target_partitions=2 + (i % 3))
    finally:
        stop.set()
        t.join(timeout=60)
    assert reads[0] > 0, "reader thread never completed a read"
    assert not errors, errors[:3]


def test_stale_handle_resolves_post_compact(spark, tmp_path):
    """A DataFrame handle captured BEFORE compact must still produce a
    correct (old-or-new, here identical) result when executed after the
    swap — the catalog file index re-lists at execution time."""
    proj = _proj(tmp_path, "sproj7", {
        "wide": "SELECT id AS k FROM range(3000)",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["wide"])
    handle = spark.table(fal._identifier("wide"))
    fal.compact("wide", target_partitions=2)
    assert handle.count() == 3000


def test_cow_swap_vacuums_old_versions(spark, tmp_path):
    """Repeated rebuilds must keep at most the live version plus the
    one-version grace window on disk — version dirs may not accumulate."""
    import glob as _glob

    from dbt_fal_spark.materialize import _table_location

    proj = _proj(tmp_path, "vacproj", {
        "t": "SELECT id AS k FROM range(100)",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    ident = fal._identifier("t")
    for _ in range(4):
        fal.compact("t", target_partitions=1)
    loc = _table_location(spark, ident)
    assert "__v" in loc  # pointer-flipped at least once
    db_dir = os.path.dirname(loc)
    versions = [
        d for d in _glob.glob(os.path.join(db_dir, "t__v*")) + [os.path.join(db_dir, "t")]
        if os.path.isdir(d)
    ]
    assert len(versions) <= 2, f"version dirs accumulated: {versions}"
    assert spark.table(ident).count() == 100


def test_incremental_merge_is_pointer_flipped(spark, tmp_path):
    """Incremental merges go through the copy-on-write flip too: after a
    second run the table lives in a versioned dir, the previous version
    survives as the grace window, and a pre-merge handle still reads."""
    from dbt_fal_spark.materialize import _table_location

    proj = _proj(tmp_path, "incproj7", {
        "inc": "{{ config(materialized='incremental', unique_key='k') }}\n"
               "SELECT id AS k, 'v1' AS v FROM range(50)",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["inc"])
    ident = fal._identifier("inc")
    handle = spark.table(ident)
    fal.run(select=["inc"])  # merge path (table exists, unique_key set)
    loc = _table_location(spark, ident)
    assert "__v" in loc, "merge did not pointer-flip"
    assert handle.count() == 50  # pre-merge handle resolves post-swap
    assert spark.table(ident).count() == 50


def test_schema_change_rebuild_falls_back_and_lands(spark, tmp_path):
    """A rebuild that changes columns cannot pointer-flip (stale catalog
    schema) — it must replace the catalog entry (DROP + RENAME) and land
    the NEW schema."""
    from dbt_fal_spark.materialize import replace_relation_atomic, write_table

    spark.sql("CREATE DATABASE IF NOT EXISTS r7schema")
    t = "r7schema.evolve"
    try:
        write_table(spark.createDataFrame([(1, "a")], "k long, v string"), t)
        df2 = spark.createDataFrame([(1, "a", 9.5)], "k long, v string, score double")
        replace_relation_atomic(spark, df2, t)
        got = spark.table(t)
        assert got.columns == ["k", "v", "score"]
        assert got.count() == 1
    finally:
        spark.sql("DROP DATABASE IF EXISTS r7schema CASCADE")


def test_vacuum_removes_grace_window(spark, tmp_path, capsys):
    """maintenance vacuum deletes the grace-window version dir, keeping
    only the live one; the table still reads."""
    import glob as _glob

    from dbt_fal_spark.cli import main
    from dbt_fal_spark.materialize import _table_location

    proj = _proj(tmp_path, "vacproj2", {
        "t": "SELECT id AS k FROM range(64)",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    fal.compact("t", target_partitions=1)  # creates one version + grace
    ident = fal._identifier("t")
    live = _table_location(spark, ident)
    db_dir = os.path.dirname(live)
    before = [d for d in _glob.glob(os.path.join(db_dir, "t__v*")) + [os.path.join(db_dir, "t")]
              if os.path.isdir(d)]
    assert len(before) == 2  # live + grace

    rc = main(["maintenance", "vacuum", "--project-dir", str(proj), "--select", "t"])
    assert rc == 0
    after = [d for d in _glob.glob(os.path.join(db_dir, "t__v*")) + [os.path.join(db_dir, "t")]
             if os.path.isdir(d)]
    assert after == [live]
    assert spark.table(ident).count() == 64


def test_bucketed_join_zero_shuffle_survives_compact(spark, tmp_path):
    """The real bucket_by contract: after compact, a same-key equi-join
    between two co-bucketed models still plans ZERO shuffle exchanges."""
    proj = _proj(tmp_path, "bkflip", {
        "left_t": "{{ config(bucket_by={'cols': 'k', 'n': 4}) }}\n"
                  "SELECT id % 500 AS k, id AS a FROM range(2000)",
        "right_t": "{{ config(bucket_by={'cols': 'k', 'n': 4}) }}\n"
                   "SELECT id % 500 AS k, id * 2 AS b FROM range(1000)",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["left_t", "right_t"])
    fal.compact("left_t")
    fal.compact("right_t")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(fal._identifier("left_t")).join(
            spark.table(fal._identifier("right_t")), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "compact broke the co-bucketed join:\n" + plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_reattach_skips_interrupted_version_dirs(spark, tmp_path):
    """A crashed commit leaves a newest '<name>__v*' dir holding
    only _temporary staging files — reattach must pick the older dir
    with COMMITTED parquet, not the staging debris (and not fail)."""
    import time as _time

    proj = _proj(tmp_path, "crashproj", {
        "t": "SELECT id AS k FROM range(40)",
    })
    fal = FalSpark(proj, spark=spark)
    fal.run(select=["t"])
    from dbt_fal_spark.materialize import _table_location

    ident = fal._identifier("t")
    db_dir = os.path.dirname(_table_location(spark, ident))
    # forget the table (simulating a process restart losing the catalog;
    # the external table's files stay) and its live pointer (a table
    # written before pointers existed)
    spark.sql(f"DROP TABLE {ident}")
    os.remove(os.path.join(db_dir, "_t.__live__"))
    # fabricate a NEWER crashed version dir: only staging files inside
    _time.sleep(0.05)
    crashed = os.path.join(db_dir, "t__vdeadbeef")
    os.makedirs(os.path.join(crashed, "_temporary", "0"))
    with open(os.path.join(crashed, "_temporary", "0", "part-0.parquet"), "wb") as f:
        f.write(b"not real parquet")

    fal2 = FalSpark(proj, spark=spark)  # triggers _reattach_catalog
    assert spark.table(fal2._identifier("t")).count() == 40
