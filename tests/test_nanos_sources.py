"""Parquet TIMESTAMP(NANOS) sources read without touching the session.

Spark has no nanosecond timestamp type; such columns only read as raw
int64 nanos, and the session-wide ``spark.sql.legacy.parquet.nanosAsLong``
conf would make every later parquet read in the session decode nanos
columns that way too. The streaming events scan and FalSpark sources
declared with ``nanos_cols`` read through an explicit long schema
instead: the conf stays unset and the column truncates to micros.
"""

from __future__ import annotations

import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
# 2024-01-01 00:00:00.123456789 and one hour later, in epoch nanos
TS_NS = [1_704_067_200_123_456_789, 1_704_070_800_999_999_999]


def _write_ns_events(path, tz):
    n = len(TS_NS)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(TS_NS, pa.timestamp("ns", tz=tz)),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["click"] * n, pa.string()),
                "value": pa.array([1.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        str(path),
    )


def _micros(df):
    return sorted(r["us"] for r in df.select(F.unix_micros("ts").alias("us")).collect())


@pytest.mark.parametrize("tz", [None, "UTC"])
def test_read_events_stream_leaves_nanos_conf_unset(spark, tmp_path, tz):
    from dbt_fal_spark.streaming.windows import read_events_stream, run_stream_to_completion

    spark.conf.unset(NANOS_CONF)
    _write_ns_events(tmp_path / "events.parquet", tz)
    got = run_stream_to_completion(
        read_events_stream(spark, str(tmp_path)).select("event_id", "ts"), mode="append"
    )
    assert _micros(got) == [ns // 1000 for ns in TS_NS]
    assert spark.conf.get(NANOS_CONF, "false") == "false"


@pytest.mark.parametrize("tz", [None, "UTC"])
def test_falspark_nanos_source_leaves_nanos_conf_unset(spark, tmp_path, tz):
    from dbt_fal_spark.api import FalSpark

    spark.conf.unset(NANOS_CONF)
    data = tmp_path / "events.parquet"
    _write_ns_events(data, tz)
    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text("name: nanosproj\n")
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            f"""
            version: 2
            sources:
              - name: raw
                tables:
                  - name: events
                    meta:
                      path: {data}
                      nanos_cols: [ts]
            """
        )
    )
    fal = FalSpark(proj, spark=spark)
    assert _micros(fal.source("raw", "events")) == [ns // 1000 for ns in TS_NS]
    assert spark.conf.get(NANOS_CONF, "false") == "false"
