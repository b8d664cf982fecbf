"""Distributed exact global rank — total-order row numbering without the
single-partition WindowExec a bare ``row_number() OVER (ORDER BY ...)``
plans (Spark warns "No Partition Defined ... all the data to a single
partition"; at 100 TB that executor is the job).

Shape (the classic two-pass prefix-sum rank):

1. ``repartitionByRange`` on the order key — partition p's keys all sort
   before partition p+1's (RangePartitioner samples split points), so
   the global order is the concatenation of per-partition orders.
2. per-partition ``row_number`` windows (parallel — partitioned by the
   range-partition id, never a single reducer).
3. add the exclusive prefix-sum of partition sizes, computed from an
   O(num_partitions)-row count aggregate collected to the driver (the
   documented bounded-broadcast pattern: scalars, not data) and joined
   back as a broadcast.

Exact for any input (ties across a range boundary are still totally
ordered when ``order_cols`` is a unique key, which every caller must
supply — same contract ntile/row_number determinism needs anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def global_row_number_with_total(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "i",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Rank rows 1..N in the total order of ``order_cols`` (which must be
    a unique key for a deterministic result). Returns (ranked df, N) —
    N comes free from the partition-size pass, saving callers that need
    it (ntile arithmetic, Gini normalization) a separate count job.

    Pinning contract: the size pass and the rank job MUST see the same
    physical partitioning — RangePartitioner re-samples split points
    per job (seeded from the fresh RDD id), so letting the two jobs
    each run their own repartitionByRange can shift rows across
    boundaries and duplicate/skip global ranks. The range-shuffled input
    is therefore cached to pin it (recomputation is never the pinning
    strategy); the cache is released by the query harness's post-query
    ``spark.catalog.clearCache()`` (registry.py's documented lifecycle)."""
    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    parts = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    sizes = parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt")).collect()
    offsets, acc = [], 0
    for row in sorted(sizes, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], acc))
        acc += row["__cnt"]
    off_df = spark.createDataFrame(offsets or [], "__pid int, __off long")
    local = F.row_number().over(W.partitionBy("__pid").orderBy(*order_cols))
    ranked = (
        parts.withColumn("__lr", local)
        .join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, (F.col("__lr") + F.col("__off")).cast("long"))
        .drop("__pid", "__lr", "__off")
    )
    return ranked, acc


def ntile_from_rank(rank_col: str, n_rows: int, n_buckets: int):
    """SQL-standard ntile bucket from an exact global rank: the first
    ``n_rows mod n_buckets`` buckets take ``ceil(n/k)`` rows, the rest
    ``floor(n/k)`` — pure int64 arithmetic on driver-side constants, so
    it composes with global_row_number_with_total into a fully distributed
    ntile."""
    base, rem = divmod(n_rows, n_buckets)
    if base == 0:
        # fewer rows than buckets: each row is its own bucket (ntile spec)
        return F.col(rank_col).cast("int")
    cut = rem * (base + 1)
    i = F.col(rank_col)
    first = F.expr(f"CAST(({rank_col} + {base}) DIV {base + 1} AS INT)")
    rest = F.expr(
        f"CAST({rem} + ({rank_col} - {cut} + {base - 1}) DIV {base} AS INT)"
    )
    return F.when(i <= F.lit(cut), first).otherwise(rest)
