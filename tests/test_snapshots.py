"""dbt snapshot (SCD2) materialization: timestamp and check strategies,
history correctness across repeated runs."""

from __future__ import annotations

import textwrap
from pathlib import Path

import pandas as pd
import pytest

from dbt_fal_spark.api import FalSpark


def _write_source(path: Path, rows: list[tuple[int, str, str]]) -> None:
    pdf = pd.DataFrame(
        {
            "id": [r[0] for r in rows],
            "status": [r[1] for r in rows],
            # micros, not pandas' default nanos — Spark has no nanos type
            "updated_ts": pd.to_datetime([r[2] for r in rows]).astype("datetime64[us]"),
        }
    )
    pdf.to_parquet(str(path))


@pytest.fixture()
def snap_project(tmp_path: Path) -> Path:
    proj = tmp_path / "proj"
    (proj / "snapshots").mkdir(parents=True)
    (proj / "models").mkdir()
    (proj / "dbt_project.yml").write_text("name: snapproj")
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            f"""
            version: 2
            sources:
              - name: raw
                tables:
                  - name: orders_raw
                    meta:
                      path: {tmp_path}/orders_raw.parquet
            """
        )
    )
    (proj / "snapshots" / "orders_snap.sql").write_text(
        "SELECT id, status, updated_ts FROM {{ source('raw', 'orders_raw') }}"
    )
    (proj / "snapshots" / "schema.yml").write_text(
        textwrap.dedent(
            """
            snapshots:
              - name: orders_snap
                config:
                  unique_key: id
                  strategy: timestamp
                  updated_at: updated_ts
            """
        )
    )
    return proj


def test_timestamp_snapshot_builds_scd2_history(spark, snap_project, tmp_path):
    spark.sql("DROP DATABASE IF EXISTS snapproj CASCADE")
    src = tmp_path / "orders_raw.parquet"
    _write_source(
        src,
        [(1, "open", "2024-01-01"), (2, "open", "2024-01-01"), (3, "done", "2024-01-01")],
    )
    fal = FalSpark(snap_project, spark=spark)
    assert fal.snapshot() == {"snapshot.snapproj.orders_snap": "success"}
    t1 = {(r["id"], r["status"], str(r["dbt_valid_to"])) for r in fal.ref("orders_snap").collect()}
    assert t1 == {(1, "open", "None"), (2, "open", "None"), (3, "done", "None")}

    # id=2 advances, id=4 appears, id=1/3 unchanged; stale update for 3 ignored
    _write_source(
        src,
        [
            (1, "open", "2024-01-01"),
            (2, "done", "2024-02-01"),
            (3, "done", "2023-12-01"),
            (4, "open", "2024-02-01"),
        ],
    )
    # fresh FalSpark: snapshot state lives in the warehouse, not the process
    fal2 = FalSpark(snap_project, spark=spark)
    assert fal2.snapshot() == {"snapshot.snapproj.orders_snap": "success"}
    hist = [
        (r["id"], r["status"], str(r["dbt_valid_from"])[:10], str(r["dbt_valid_to"])[:10])
        for r in fal2.ref("orders_snap").collect()
    ]
    assert sorted(hist) == sorted(
        [
            (1, "open", "2024-01-01", "None"),          # untouched
            (2, "open", "2024-01-01", "2024-02-01"),    # closed old version
            (2, "done", "2024-02-01", "None"),          # new live version
            (3, "done", "2024-01-01", "None"),          # stale source ignored
            (4, "open", "2024-02-01", "None"),          # new key
        ]
    )
    # scd ids unique per (key, valid_from)
    ids = [r["dbt_scd_id"] for r in fal2.ref("orders_snap").collect()]
    assert len(ids) == len(set(ids))
    spark.sql("DROP DATABASE IF EXISTS snapproj CASCADE")


def test_snapshot_rejects_a_selectors_yml_dict(spark, snap_project):
    """Snapshots are selected by name: a selectors.yml dict (what a
    `--selector` may resolve to) is an error, not an empty selection."""
    fal = FalSpark(snap_project, spark=spark)
    with pytest.raises(ValueError, match="selected by name"):
        fal.snapshot(select={"union": ["orders_snap"]})


def test_snapshot_rejects_method_and_graph_operator_words(spark, snap_project):
    """A `--select` word with a method prefix or a graph operator is an
    error for snapshots, not a name that runs nothing; a plain name
    still selects."""
    from dbt_fal_spark.plans.selectors import SelectorError

    fal = FalSpark(snap_project, spark=spark)
    for select in ("tag:nightly", "+orders_snap", "orders_snap+", "@orders_snap",
                   "orders_snap,x", ["orders_snap", "state:new"]):
        with pytest.raises(SelectorError, match="selected by name"):
            fal.snapshot(select=select)
    assert fal.snapshot(select="no_such_snap") == {}


def test_cli_reports_every_failing_snapshot_by_id(spark, snap_project, capsys):
    """Two snapshots over a source with no data both fail; the CLI prints
    an error detail line for each, named by its snapshot's id, and
    ``FalSpark.snapshot`` keeps both tracebacks in ``errors``."""
    from dbt_fal_spark.cli import main

    (snap_project / "snapshots" / "orders_snap_2.sql").write_text(
        "SELECT id, status, updated_ts FROM {{ source('raw', 'orders_raw') }}"
    )
    with open(snap_project / "snapshots" / "schema.yml", "a") as f:
        f.write(
            "  - name: orders_snap_2\n"
            "    config: {unique_key: id, strategy: timestamp, updated_at: updated_ts}\n"
        )
    spark.sql("DROP DATABASE IF EXISTS snapproj CASCADE")
    fal = FalSpark(snap_project, spark=spark)
    uids = ["snapshot.snapproj.orders_snap", "snapshot.snapproj.orders_snap_2"]
    assert fal.snapshot() == {uid: "error" for uid in uids}
    assert sorted(fal.errors) == uids
    capsys.readouterr()
    assert main(["snapshot", "--project-dir", str(snap_project)]) == 1
    captured = capsys.readouterr()
    assert [line.split()[0] for line in captured.out.splitlines()] == ["error", "error"]
    details = [line for line in captured.err.splitlines() if line.startswith("error detail")]
    assert [d.split(":")[0] for d in details] == [f"error detail ({uid})" for uid in uids], details
    spark.sql("DROP DATABASE IF EXISTS snapproj CASCADE")


def test_check_strategy_snapshot(spark, snap_project, tmp_path):
    spark.sql("DROP DATABASE IF EXISTS snapproj CASCADE")
    # rewrite the snapshot config to check strategy
    (snap_project / "snapshots" / "schema.yml").write_text(
        textwrap.dedent(
            """
            snapshots:
              - name: orders_snap
                config:
                  unique_key: id
                  strategy: check
                  check_cols: [status]
            """
        )
    )
    src = tmp_path / "orders_raw.parquet"
    _write_source(src, [(1, "open", "2024-01-01"), (2, "open", "2024-01-01")])
    fal = FalSpark(snap_project, spark=spark)
    assert fal.snapshot(as_of="2024-03-01 00:00:00")["snapshot.snapproj.orders_snap"] == "success"

    _write_source(src, [(1, "done", "2024-01-01"), (2, "open", "2024-01-01")])
    fal2 = FalSpark(snap_project, spark=spark)
    assert fal2.snapshot(as_of="2024-04-01 00:00:00")["snapshot.snapproj.orders_snap"] == "success"
    hist = sorted(
        (r["id"], r["status"], str(r["dbt_valid_from"])[:10], str(r["dbt_valid_to"])[:10])
        for r in fal2.ref("orders_snap").collect()
    )
    assert hist == sorted(
        [
            (1, "open", "2024-03-01", "2024-04-01"),
            (1, "done", "2024-04-01", "None"),
            (2, "open", "2024-03-01", "None"),
        ]
    )
    spark.sql("DROP DATABASE IF EXISTS snapproj CASCADE")


def test_snapshot_list_unique_key_errors_clearly(spark):
    from dbt_fal_spark.materialize import snapshot_scd2

    staged = spark.range(3).selectExpr("id AS k", "id AS v", "timestamp'2024-01-01' AS ts")
    with pytest.raises(ValueError, match="single column name"):
        snapshot_scd2(
            spark, staged, "default.snap_badkey", ["k", "v"],
            strategy="timestamp", updated_at="ts",
        )
