"""Lifetime of drained streaming results.

A drained result lives as long as the DataFrame that holds it: the
drain leaves no temp view in the session, sequentially or under
concurrent drains. The ``st_upsert_stream`` target lives in the
application's temp dir, so a result the caller still holds stays
readable across later runs, and nothing is left in the warehouse.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import urlparse

from pyspark import SparkFiles

from dbt_fal_spark.registry import all_queries
from dbt_fal_spark.streaming.windows import (
    hourly_windowed_agg,
    read_events_stream,
    run_stream_to_completion,
)
from tests.conftest import SF_DIR

HOURLY_ROWS = 868  # st_hourly_stream's row count at sf0.001
USERS = 15  # st_upsert_stream's row count at sf0.001


def _stream_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]


def _drain(spark):
    return run_stream_to_completion(hourly_windowed_agg(read_events_stream(spark, SF_DIR)))


def test_drain_leaves_no_temp_view(spark):
    results = [_drain(spark) for _ in range(3)]
    errs: list[Exception] = []

    def drain():
        try:
            results.append(_drain(spark))
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=drain) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert _stream_views(spark) == []
    assert [r.count() for r in results] == [HOURLY_ROWS] * 6


def test_held_upsert_results_survive_later_runs(spark):
    upsert = all_queries()["st_upsert_stream"].fn
    held = [upsert(spark, SF_DIR) for _ in range(4)]
    assert [df.count() for df in held] == [USERS] * 4


def test_upsert_target_lives_in_app_temp_dir(spark):
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def targets() -> set[str]:
        if not os.path.isdir(wh):
            return set()
        return {d for d in os.listdir(wh) if d.startswith("st_upsert_stream_target_")}

    before = targets()
    df = all_queries()["st_upsert_stream"].fn(spark, SF_DIR)
    root = SparkFiles.getRootDirectory()
    paths = [urlparse(p).path for p in df.inputFiles()]
    assert paths
    assert all(p.startswith(root + os.sep) for p in paths), (root, paths)
    assert targets() == before
