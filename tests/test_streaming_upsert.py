"""foreachBatch upsert sink: multi-microbatch merge correctness.

The registry drain of st_upsert_stream usually sees ONE microbatch; this
test stages three source files with maxFilesPerTrigger=1 so the
library's replace-on-key merge (``drain_upserts``) actually executes
across batches, and the final target must still equal the batch
aggregate.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import functions as F

from dbt_fal_spark.streaming.windows import drain_upserts


def _write_events(path, rows):
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype("datetime64[us]"),
            "user_id": [r[2] for r in rows],
            "event_type": ["click"] * len(rows),
            "value": [r[3] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(str(path))


def test_upsert_across_microbatches_equals_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_events(src / "a.parquet", [(1, "2024-01-01 00:00", 10, 1.25), (2, "2024-01-01 00:01", 11, 2.50)])
    _write_events(src / "b.parquet", [(3, "2024-01-01 00:02", 10, 0.75)])
    _write_events(src / "c.parquet", [(4, "2024-01-01 00:03", 12, 9.99), (5, "2024-01-01 00:04", 10, 0.01)])

    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    images = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    final = drain_upserts(images)
    assert final.endswith("v2")  # one batch per staged file
    # each batch removed the version it superseded
    assert os.listdir(os.path.dirname(final)) == ["v2"]
    got = {
        r["user_id"]: (r["n_events"], r["cents"])
        for r in spark.read.parquet(final).collect()
    }
    assert got == {
        10: (3, 201),   # 1.25 + 0.75 + 0.01 = 2.01
        11: (1, 250),
        12: (1, 999),
    }
