"""Regression tests for the round-4 ADVICE fixes:

- streaming nanos detection must also catch tz-adjusted nanos
  (``timestamp[ns, tz=UTC]``), not just naive ``timestamp[ns]``
- snapshot_scd2 deduplicates staged rows per unique_key (timestamp) and
  rejects duplicates (check strategy)
- snapshot .sql discovery is recursive like models
- a home-dir profiles.yml lacking this project's profile is ignored
  instead of hard-erroring
- an isolated script that sys.exit(0)s before the runner's handoff dump
  surfaces a descriptive error, not FileNotFoundError
"""

from __future__ import annotations

import textwrap

import pandas as pd
import pytest

from pyspark.sql import functions as F

from dbt_fal_spark.environments import VirtualEnvironment
from dbt_fal_spark.materialize import snapshot_scd2
from dbt_fal_spark.project.loader import load_profile, load_project
from dbt_fal_spark.streaming.windows import read_events_stream, run_stream_to_completion


def test_tz_adjusted_nanos_stream(spark, tmp_path):
    """TIMESTAMP(NANOS, isAdjustedToUTC=true) parquet must take the
    nanos-as-long path: pyarrow stringifies it 'timestamp[ns, tz=UTC]'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pd.to_datetime(
        ["2024-01-01 00:30:00", "2024-01-01 01:45:00"]
    ).tz_localize("UTC")
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns", tz="UTC")),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": pa.array(["click", "click"]),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"), store_schema=False)
    assert str(
        pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type
    ).startswith("timestamp[ns")

    stream = read_events_stream(spark, str(tmp_path))
    out = run_stream_to_completion(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )
    assert [(r["event_type"], r["n"]) for r in out.collect()] == [("click", 2)]


def _staged(spark, rows):
    pdf = pd.DataFrame(
        {
            "id": [r[0] for r in rows],
            "status": [r[1] for r in rows],
            "updated_ts": pd.to_datetime([r[2] for r in rows]).astype("datetime64[us]"),
        }
    )
    return spark.createDataFrame(pdf)


def test_snapshot_timestamp_dedups_staged_duplicates(spark):
    spark.sql("DROP TABLE IF EXISTS snap_dup_ts")
    staged = _staged(
        spark,
        [(1, "open", "2024-01-01"), (1, "done", "2024-02-01"), (2, "open", "2024-01-01")],
    )
    snapshot_scd2(
        spark, staged, "snap_dup_ts", "id", strategy="timestamp", updated_at="updated_ts"
    )
    live = spark.table("snap_dup_ts").filter(F.col("dbt_valid_to").isNull())
    rows = {(r["id"], r["status"]) for r in live.collect()}
    # one live row per key, and it is the LATEST staged version
    assert rows == {(1, "done"), (2, "open")}
    # second run with the same duplicate input must not fan out history
    snapshot_scd2(
        spark,
        _staged(spark, [(1, "open", "2024-01-01"), (1, "done", "2024-02-01")]),
        "snap_dup_ts",
        "id",
        strategy="timestamp",
        updated_at="updated_ts",
    )
    live2 = spark.table("snap_dup_ts").filter(F.col("dbt_valid_to").isNull())
    assert live2.groupBy("id").count().filter(F.col("count") > 1).count() == 0
    spark.sql("DROP TABLE IF EXISTS snap_dup_ts")


def test_snapshot_check_rejects_staged_duplicates(spark):
    spark.sql("DROP TABLE IF EXISTS snap_dup_chk")
    staged = _staged(spark, [(1, "open", "2024-01-01"), (1, "done", "2024-01-01")])
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_scd2(
            spark,
            staged,
            "snap_dup_chk",
            "id",
            strategy="check",
            check_cols=["status"],
            as_of="2024-03-01 00:00:00",
        )


def test_snapshots_discovered_recursively(tmp_path):
    proj = tmp_path / "proj"
    (proj / "snapshots" / "finance").mkdir(parents=True)
    (proj / "models").mkdir()
    (proj / "dbt_project.yml").write_text("name: rglobproj")
    (proj / "snapshots" / "finance" / "deep_snap.sql").write_text("SELECT 1 AS id")
    manifest = load_project(proj)
    assert "snapshot.rglobproj.deep_snap" in manifest.snapshots


def test_home_profiles_without_project_profile_ignored(tmp_path, monkeypatch):
    home = tmp_path / "home"
    (home / ".dbt").mkdir(parents=True)
    (home / ".dbt" / "profiles.yml").write_text(
        textwrap.dedent(
            """
            some_other_project:
              target: dev
              outputs:
                dev: {type: spark}
            """
        )
    )
    monkeypatch.setenv("HOME", str(home))
    proj = tmp_path / "proj"
    proj.mkdir()
    (proj / "dbt_project.yml").write_text("name: orphanproj")
    assert load_profile(proj) is None


def test_project_profiles_missing_profile_still_errors(tmp_path):
    proj = tmp_path / "proj"
    proj.mkdir()
    (proj / "dbt_project.yml").write_text("name: localproj")
    (proj / "profiles.yml").write_text("wrong_name:\n  target: dev\n  outputs:\n    dev: {}\n")
    with pytest.raises(ValueError, match="no profile"):
        load_profile(proj)


def test_isolated_script_sys_exit_before_handoff(tmp_path):
    env = VirtualEnvironment(name="exit0", base_dir=tmp_path / "envs")
    script = tmp_path / "bail.py"
    script.write_text("import sys\nsys.exit(0)\n")
    with pytest.raises(RuntimeError, match="without producing a result"):
        env.run_script(
            script,
            {
                "current_model": {"name": "m", "alias": "m", "status": "success", "meta": {}},
                "arguments": {},
                "target": "dev",
            },
        )


def test_snapshot_timestamp_equal_ts_tiebreak_is_deterministic(spark):
    """Equal updated_at duplicates must keep the SAME row every run —
    the tie-break is a content hash, a pure function of the data, so
    the survivor cannot depend on shuffle order."""
    spark.sql("DROP TABLE IF EXISTS snap_tie_a")
    spark.sql("DROP TABLE IF EXISTS snap_tie_b")
    rows = [(1, "open", "2024-01-01"), (1, "done", "2024-01-01")]
    survivors = []
    for tbl, n_parts in (("snap_tie_a", 1), ("snap_tie_b", 7)):
        staged = _staged(spark, rows).repartition(n_parts)
        snapshot_scd2(
            spark, staged, tbl, "id", strategy="timestamp", updated_at="updated_ts"
        )
        live = spark.table(tbl).filter(F.col("dbt_valid_to").isNull()).collect()
        assert len(live) == 1
        survivors.append(live[0]["status"])
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert survivors[0] == survivors[1]
