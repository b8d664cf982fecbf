"""Accuracy contract of the HLL sketch operator (no SQL oracle exists
for approximate results — this is its correctness gate), and the events
scan counts and reference values of the DAU sketch and retention
cohorts."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_fal_spark.operators.timeseries import e_dau_hll_sketch, e_daily_active_users
from dbt_fal_spark.sources.readers import load_table
from tests.conftest import SF_DIR


def test_hll_dau_within_5pct_of_exact(spark):
    exact = {r["day"]: r["dau"] for r in e_daily_active_users(spark, SF_DIR).collect()}
    approx = {r["day"]: r["dau_approx"] for r in e_dau_hll_sketch(spark, SF_DIR).collect()}
    assert set(exact) == set(approx)
    for day, dau in exact.items():
        assert abs(approx[day] - dau) <= max(2, 0.05 * dau), (day, approx[day], dau)


def test_hll_weekly_union_matches_exact_window(spark):
    ev = load_table(spark, SF_DIR, "events")
    days = sorted(
        r["day"] for r in ev.select(F.col("ts").cast("date").alias("day")).distinct().collect()
    )
    approx = {r["day"]: r["wau_approx_7d"] for r in e_dau_hll_sketch(spark, SF_DIR).collect()}
    import datetime as dt

    for day in days[:10]:  # first 10 windows keep the test quick
        lo = day - dt.timedelta(days=6)
        exact = (
            ev.filter((F.col("ts").cast("date") >= lo) & (F.col("ts").cast("date") <= day))
            .select("user_id").distinct().count()
        )
        assert abs(approx[day] - exact) <= max(2, 0.05 * exact), (day, approx[day], exact)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _parquet_scans(df, table: str) -> int:
    """Count UNCACHED scans of `table` in the executed plan: FileScan
    leaves with no InMemoryTableScan ancestor (toString renders a cached
    relation's recipe inline under its InMemoryTableScan — those nested
    FileScans execute no file read on a cache hit). Ancestry is decided
    by tree indentation: an ancestor renders at a strictly smaller
    indent above the leaf."""

    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-*"))

    uncached = 0
    lines = _physical_plan(df).splitlines()
    for i, ln in enumerate(lines):
        if "Scan parquet" in ln and f"{table}.parquet" in ln:
            cur = indent(ln)
            covered = False
            for j in range(i - 1, -1, -1):  # climb the ancestor chain
                d = indent(lines[j])
                if d < cur:
                    if "InMemoryTableScan" in lines[j]:
                        covered = True
                        break
                    cur = d
            if not covered:
                uncached += 1
    return uncached


def test_dau_hll_single_events_scan(spark):
    from dbt_fal_spark.operators.timeseries import e_dau_hll_sketch

    # no cache: the merged nev+DAU aggregate leaves exactly TWO events
    # scans (register pass x2 branches)
    df = e_dau_hll_sketch(spark, SF_DIR)
    assert _parquet_scans(df, "events") == 2


def test_dau_hll_n_events_matches_direct_count(spark):
    from dbt_fal_spark.operators.timeseries import e_dau_hll_sketch
    from dbt_fal_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    got = {
        r["day"]: r["n_events"]
        for r in e_dau_hll_sketch(spark, SF_DIR).select("day", "n_events").collect()
    }
    spark.catalog.clearCache()
    ev = load_table(spark, SF_DIR, "events")
    want = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["day"] is not None
    }
    # NULL-day groups drop at the join in both shapes; compare non-null days
    assert got == {d: n for d, n in want.items() if d in got} and len(got) == len(want)


def test_retention_single_events_scan(spark):
    from dbt_fal_spark.operators.timeseries import e_retention_cohorts

    # one uncached scan in the plan (the activity-side events read) + the
    # firsts cache fill at runtime = two reads total, post-join distinct
    # present
    df = e_retention_cohorts(spark, SF_DIR)
    assert _parquet_scans(df, "events") == 1


def test_retention_matches_two_scan_reference(spark):
    from dbt_fal_spark.operators.timeseries import e_retention_cohorts
    from dbt_fal_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    got = {
        (r["cohort_week"], r["week_offset"]): (r["active_users"], r["cohort_size"])
        for r in e_retention_cohorts(spark, SF_DIR).collect()
    }
    spark.catalog.clearCache()
    # pre-r16 two-scan shape, rebuilt inline as the reference
    ev = load_table(spark, SF_DIR, "events")
    week = F.date_trunc("week", F.col("ts").cast("date")).cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = (
        ev.select("user_id", week.alias("week"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    want = {
        (r["cohort_week"], r["week_offset"]): (r["active_users"], r["cohort_size"])
        for r in activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(sizes, "cohort_week")
        .collect()
    }
    assert got == want
