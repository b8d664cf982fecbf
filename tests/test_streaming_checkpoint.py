"""Checkpointed restart semantics: a stopped streaming query resumed
with the same checkpoint processes ONLY new input — no reprocessing, no
duplicates in a file sink (exactly-once for the parquet sink's commit
protocol).

This is the production shape the memory-sink drains in the oracle gate
deliberately skip: run 1 ingests file A and stops at end-of-available;
file B arrives; run 2 (same checkpoint dir) must pick up exactly B.

Stateful entries also give identical results under the RocksDB state
store the scale profile sets.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from pyspark.sql import functions as F

from dbt_fal_spark.streaming.windows import EVENTS_SCHEMA
from tests.conftest import SF_DIR


def _write_events(path: str, ids: list[int], mtime: float) -> None:
    pdf = pd.DataFrame(
        {
            "event_id": ids,
            "ts": [int(pd.Timestamp("2024-01-01 00:00:00").value) + i for i in ids],
            "user_id": [1] * len(ids),
            "event_type": ["click"] * len(ids),
            "value": [1.0] * len(ids),
            "props": ["{}"] * len(ids),
        }
    )
    pdf.to_parquet(path)
    os.utime(path, (mtime, mtime))


def _run_once(spark, src_dir: str, sink_dir: str, ckpt_dir: str) -> None:
    raw = spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(src_dir)
    out = raw.select("event_id", F.timestamp_micros(F.expr("ts div 1000")).alias("ts"))
    q = (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    _write_events(str(src / "a.parquet"), [1, 2, 3], now - 120)
    _run_once(spark, str(src), sink, ckpt)
    first = [r["event_id"] for r in spark.read.parquet(sink).collect()]
    assert sorted(first) == [1, 2, 3]
    # new file arrives; resume from the SAME checkpoint
    _write_events(str(src / "b.parquet"), [4, 5], now - 60)
    _run_once(spark, str(src), sink, ckpt)
    resumed = [r["event_id"] for r in spark.read.parquet(sink).collect()]
    # every event exactly once: file A not reprocessed, B fully ingested
    assert sorted(resumed) == [1, 2, 3, 4, 5]


def test_streaming_state_rocksdb_provider_matches_default(spark):
    """The scale profile sets the RocksDB state-store provider (state
    off-heap/on-disk instead of deserialized JVM-heap objects — guide
    §5). Lock: representative stateful entries (arbitrary-state agg,
    watermark-bounded dedup) produce identical results under RocksDB."""
    from dbt_fal_spark.registry import all_queries

    specs = all_queries()
    names = ["st_user_totals_stateful", "st_dedup_within_watermark_stream"]
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    for name in names:
        base = {tuple(r) for r in specs[name].fn(spark, SF_DIR).collect()}
        prior = spark.conf.get(key, None)
        try:
            spark.conf.set(key, rocks)
            got = {tuple(r) for r in specs[name].fn(spark, SF_DIR).collect()}
        finally:
            if prior:
                spark.conf.set(key, prior)
            else:
                spark.conf.unset(key)
        assert got == base and len(base) > 0, name
