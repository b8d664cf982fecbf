"""Watermark semantics under multi-microbatch streaming: late events
must be DROPPED and finalized windows must emit exactly once.

The oracle-gate streaming checks drain everything in one availableNow
batch, which never exercises watermark advancement. Here three files
become three microbatches (maxFilesPerTrigger=1):

  batch 0: events at 00:30 and 06:30  → watermark becomes 04:30
  batch 1: event at 07:00 — during this batch the 00:00 window
           (end 01:00 < watermark) is finalized, EMITTED with count 1,
           and its state evicted; watermark advances to 05:00
  batch 2: late event at 00:45 — its window's state is gone and it is
           below the watermark → guaranteed drop (Spark's watermark
           contract: drops are guaranteed only once state is evicted;
           a late row arriving in the same batch its window finalizes
           may still merge — which is why this needs three batches)

Append mode emits ONLY finalized windows: exactly {00:00 → 1}. The
06:00/07:00 windows remain unfinalized state, correctly unemitted —
as a real continuous stream would leave them.
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd
import pytest

from pyspark.sql import functions as F

from dbt_fal_spark.streaming.windows import EVENTS_SCHEMA


def _write_events(path: str, rows: list[tuple[int, str]], mtime: float) -> None:
    """rows: (event_id, iso_ts). ts stored as int64 nanos like the testdata."""
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [int(pd.Timestamp(r[1]).value) for r in rows],
            "user_id": [1] * len(rows),
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(path)
    os.utime(path, (mtime, mtime))


@pytest.fixture()
def staged_stream_dir(tmp_path):
    now = time.time()
    _write_events(
        str(tmp_path / "a_first.parquet"),
        [(1, "2024-01-01 00:30:00"), (2, "2024-01-01 06:30:00")],
        now - 180,
    )
    _write_events(
        str(tmp_path / "b_advance.parquet"),
        [(3, "2024-01-01 07:00:00")],
        now - 120,
    )
    _write_events(
        str(tmp_path / "c_late.parquet"),
        [(4, "2024-01-01 00:45:00")],
        now - 60,
    )
    return str(tmp_path)


def test_late_rows_dropped_and_windows_finalize_once(spark, staged_stream_dir):
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(staged_stream_dir)
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("hour"), "n_events")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(str(r["hour"]), r["n_events"]) for r in spark.table(name).collect()}
    # exactly the finalized 00:00 window, WITHOUT the late event #3;
    # 05:00/06:00 windows are unfinalized state, correctly unemitted
    assert rows == {("2024-01-01 00:00:00", 1)}


@pytest.fixture()
def dup_stream_dir(tmp_path):
    """Three microbatches exercising dropDuplicatesWithinWatermark's
    bounded-state contract on key (user_id, event_type) with a 2 h delay:

      batch 0: key at 00:30, plus a 06:30 duplicate (suppressed: the
               batch-0 watermark is still 0, so the 00:30 state is
               live; its TTL stays 02:30 — the TTL is first-occurrence
               event time + delay and is NOT extended by suppressed
               duplicates, per the documented contract "within the
               delay threshold of the FIRST record")
      batch 1: duplicate at 06:45 — still suppressed (state eviction
               with the batch-1 watermark 04:30 happens at batch END,
               after the dedup check), and then the 00:30 state
               (TTL 02:30 < 04:30) is evicted
      batch 2: duplicate at 06:50 — fresh state, so the key RE-EMITS
               (bounded state: a plain dropDuplicates would have
               suppressed it forever)
    """
    now = time.time()
    _write_events(
        str(tmp_path / "a_first.parquet"),
        [(1, "2024-01-01 00:30:00"), (2, "2024-01-01 06:30:00")],
        now - 180,
    )
    _write_events(
        str(tmp_path / "b_reoccur.parquet"),
        [(3, "2024-01-01 06:45:00")],
        now - 120,
    )
    _write_events(
        str(tmp_path / "c_within.parquet"),
        [(4, "2024-01-01 06:50:00")],
        now - 60,
    )
    return str(tmp_path)


def test_dedup_within_watermark_bounded_state(spark, dup_stream_dir):
    """State eviction makes re-occurrences past the horizon re-emit, and
    duplicates inside the horizon drop — the exact semantics the
    st_dedup_within_watermark_stream entry builds on (its hour-in-key
    design keeps every duplicate inside the horizon, which is why the
    entry can equal batch DISTINCT)."""
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(dup_stream_dir)
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    deduped = (
        events.select("event_id", "user_id", "event_type", "ts")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    name = f"ddwm_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = sorted(r["event_id"] for r in spark.table(name).collect())
    # events 2 and 3 are suppressed while the first occurrence's state
    # lives; once the watermark passes its TTL the state evicts and the
    # key re-emits (event 4) — dedup is guaranteed only within the
    # delay of the FIRST occurrence, which is exactly why the
    # st_dedup_within_watermark_stream entry puts the event-time hour
    # in the key: every duplicate of (user, type, hour) is < 1 h from
    # the first one, strictly inside the 2 h delay, so the bounded-
    # state result equals batch DISTINCT.
    assert emitted == [1, 4]
