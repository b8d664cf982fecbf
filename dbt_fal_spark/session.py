"""SparkSession factory tuned for both local testing and cluster scale.

Local mode runs ``local[$SPARK_GRAFT_CPUS]`` (default all cores); on a real
cluster the same settings hold except memory/partition counts come from
submit-time conf. Every knob here is chosen for the 100 TB target:

- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- Shuffle partitions sized to cores locally; AQE re-coalesces at runtime so
  the same code scales to thousands of partitions on a cluster.
- Arrow enabled: every pandas interchange (Pandas UDFs, ``toPandas``) is
  columnar-batched instead of row-pickled.
- Session timezone pinned UTC so timestamp semantics are engine-independent
  (and match the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_COMMON = {
    # FIFO scheduling: measured ~60 ms/job cheaper than FAIR in local mode
    # (FAIR's pool accounting is pure overhead for one-query-at-a-time
    # workloads). The orchestration path (the executor in plans/schedule.py,
    # which DOES run independent DAG branches concurrently) opts back in by passing
    # ``**{"spark.scheduler.mode": "FAIR"}`` to ``get_spark`` — scheduler
    # mode is a context-level conf, so it must be chosen at session build.
    "spark.scheduler.mode": "FIFO",
    "spark.sql.session.timeZone": "UTC",
    # Read naive parquet timestamps (isAdjustedToUTC=false) as TIMESTAMP
    # rather than TIMESTAMP_NTZ: with the session tz pinned UTC the wall
    # values are identical, but NTZ forbids numeric casts (epoch math via
    # ts.cast("double")) and diverges from the DuckDB oracle's epoch().
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # cap in-memory partition bytes so a 100 TB scan splits into sane tasks
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}

# Scale profile: the plans AQE produces are what you want on a cluster
# reading TBs (runtime coalescing, skew splitting, dynamic broadcast),
# but its stage-barrier materialization costs ~100ms+ per shuffle — real
# money on sub-GB inputs. So the session picks a profile from the input
# footprint (measured, not guessed): small data gets a low-latency plan
# (no AQE, few shuffle partitions), big data gets the full adaptive
# machinery with wide shuffles. This mirrors what a production deployment
# does with --conf per workload class.
_LATENCY_PROFILE = {
    # profile marker for run records (perfbench writes it into
    # meta.profile); no operator reads it: every operator builds one plan
    # and the profile differs only in the confs below
    "spark.dbt_fal.profile": "latency",
    "spark.sql.adaptive.enabled": "false",
    # 8 post-shuffle partitions: sub-GB inputs leave reduce stages task-
    # overhead-bound, but narrower (4) measured WORSE on the full suite —
    # the Arrow-stage queries lose reduce width after their 8-wide Python
    # stages. Operators that need wider reduce stages repartition
    # explicitly (e.g. the jaccard self-join).
    "spark.sql.shuffle.partitions": "8",
}
_SCALE_PROFILE = {
    "spark.dbt_fal.profile": "scale",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "200",
    # Streaming state store: the default HDFS-backed
    # provider holds EVERY state row as deserialized objects on the
    # executor JVM heap, competing with execution memory — at 100 TB/day
    # the dedup / outer-interval-join state is the largest on-heap risk
    # in the st_* family. RocksDB keeps state off-heap and on local disk
    # with incremental snapshot checkpointing. Latency profile keeps the
    # default provider: for the KB-sized local state the JVM map is
    # faster than JNI round-trips (measured in STREAM_BENCH_r17.json;
    # correctness under RocksDB is locked by
    # tests/test_streaming_checkpoint.py).
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}

_SMALL_INPUT_BYTES = 1 << 30  # 1 GiB


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def pick_profile(sf_dir: str | None = None) -> dict[str, str]:
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        small = _dir_bytes(sf_dir) < _SMALL_INPUT_BYTES
    except OSError:
        small = False
    return dict(_LATENCY_PROFILE if small else _SCALE_PROFILE)


def get_spark(app_name: str = "dbt_fal_spark", sf_dir: str | None = None, **overrides: str) -> SparkSession:
    """Build (or fetch) the session. ``overrides`` win over defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_COMMON)
    conf.update(pick_profile(sf_dir))
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
