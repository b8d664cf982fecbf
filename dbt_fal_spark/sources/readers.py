"""Source readers: parquet scans + catalog registration.

The reference moves data through per-warehouse read paths
(reference: projects/adapter/src/dbt/adapters/fal_experimental/support/*.py,
dispatch at adapter_support.py:130-173) — all of that collapses to a single
lazy ``spark.read.parquet`` here. Registration as temp views makes the
tables addressable from ``spark.sql`` exactly like dbt sources
(reference: projects/adapter/src/fal/dbt/integration/project.py:717-755).

Persist contract: an operator persists a relation its plan consumes
more than once and never unpersists it, because the cache must outlive
the lazy plan it returns. The runners (bench.py, tools/check.py) call
``spark.catalog.clearCache()`` after each query; a caller embedding the
operators in a long-lived session owns the same step once the query's
outputs are materialized. Every operator builds one plan whatever the
session profile; the profile only sets session confs (session.py).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns written as parquet TIMESTAMP(NANOS) — Spark has no nanos timestamp
# type, so they are read as raw int64 (legacy conf) and truncated to micros,
# matching DuckDB's own nanos→micros truncation.
_NANOS_TS_COLS = {"events": ("ts",)}

# Catalog-metadata cache: `spark.read.parquet` re-reads footers and re-infers
# the schema on every call (~80 ms/table in local mode — a per-query tax a
# metastore-backed deployment never pays). DataFrames are immutable lazy
# plans, so one per (session, dir, table) is safe to hand out repeatedly;
# keyed by applicationId so a restarted session gets fresh scans.
_SCAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one testdata table (predicate/column pushdown
    stays available because nothing is materialized here)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    if name in _NANOS_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            # integer division: ns values (~1.7e18) exceed double precision
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # Naive parquet timestamps read as TIMESTAMP_NTZ under Spark 4 defaults
    # (the driver hands us arbitrary sessions, so the session-level
    # inferTimestampNTZ=false in session.py cannot be assumed). NTZ forbids
    # numeric casts (epoch math) and diverges from DuckDB's epoch(); with
    # the session tz pinned UTC the LTZ cast is wall-value identical.
    for col, dtype in df.dtypes:
        if dtype.startswith("timestamp_ntz"):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _SCAN_CACHE[key] = df
    return df


# NOTE on the repeated `if text is None: continue` guard inside Arrow
# batch loops (7 sites across dedup/curation/text): it cannot be factored
# into a shared helper here, because mapInPandas closures must be
# SELF-CONTAINED — a module-level function referenced from a UDF is
# pickled by reference (not by value) and raises ModuleNotFoundError on
# executors whose Python workers cannot import dbt_fal_spark (any
# driver-provided session where the package is not on the workers'
# sys.path). The guard is therefore intentionally inlined per closure.


def load_table_fresh(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like load_table but always a NEW scan with fresh attribute ids —
    for the right side of a cogrouped self-join, where sharing lineage
    with the cached scan trips the ambiguous-self-join analyzer check.
    Applies the same schema fixups as load_table (one source of truth
    for path convention + timestamp handling). The pre-existing cache
    entry (if any) is restored afterwards so other callers keep their
    shared scan; the fresh scan itself is never cached (a later
    load_table returning it would re-create the shared-lineage problem
    this function exists to avoid)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    prior = _SCAN_CACHE.pop(key, None)
    df = load_table(spark, sf_dir, name)
    if prior is not None:
        _SCAN_CACHE[key] = prior
    else:
        _SCAN_CACHE.pop(key, None)
    return df


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view named after the table."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Spark accepts byte-size confs either as bare numbers or as size strings
# ("128m", "1g"), so a plain int() on the conf value is not enough.
_SIZE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Byte-size conf as an int, accepting Spark's size-string forms
    (JavaUtils.byteStringAsBytes suffixes, case-insensitive; a bare
    number means bytes for the confs read here). An unparseable value
    falls back to `default` — visibly a parse decision, not an exception
    swallowed on an unrelated code path."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    m = re.fullmatch(r"(\d+)\s*([a-z]*)", raw)
    if not m or m.group(2) not in _SIZE_SUFFIX:
        return int(default)
    return int(m.group(1)) * _SIZE_SUFFIX[m.group(2)]


def scan_bytes(df: DataFrame) -> int:
    """Optimizer estimate of the bytes this plan's SCANS read: the sum of
    the LEAF relations' stats (a pure driver-side plan visit, ~25 ms).
    The leaves report file-index totals — exactly the quantity split
    planning divides by maxPartitionBytes — unlike the projected plan's
    estimate, which scales by schema-default attribute widths (string =
    20 B) and can grossly underestimate a narrow (id, text) projection
    of a table with large variable-length text."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size()))


def spread(df: DataFrame) -> DataFrame:
    """Small-file guard for compute-heavy map stages: a single-row-group
    parquet file scans as ONE task, which would run a downstream Python /
    expression-heavy stage single-threaded. If the scan is too small to
    have reached the target width, round-robin repartition (one tiny
    shuffle of the narrow projection). Width is capped at 8: each Python
    task costs ~10 ms of worker dispatch + Arrow framing, so at
    small-file sizes 8 wide batches beat 32 slivers (measured 0.31 s vs
    0.44 s for the minhash stage at sf0.1). At real data sizes the scan
    is far over the size cutoff and this is a no-op.

    The width decision reads the leaf scan estimate (scan_bytes, a
    driver-side plan visit) rather than probing the RDD's partition
    count, which would build the physical plan and an RDD graph per call
    (~100 ms each). A scan whose files total under
    target x maxPartitionBytes cannot have produced ``target`` full
    splits, so it gets the widening repartition; anything larger already
    scans >= target-wide."""
    spark = df.sparkSession
    target = min(8, spark.sparkContext.defaultParallelism)
    if scan_bytes(df) < target * conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 134217728):
        return df.repartition(target)
    return df


def read_seed_csv(spark: SparkSession, path: str) -> DataFrame:
    """dbt-style seed load (reference seeds are headered CSVs, e.g.
    projects/adapter/cli_tests/projects/002_jaffle_shop/data/raw_orders.csv)."""
    return spark.read.csv(path, header=True, inferSchema=True)
