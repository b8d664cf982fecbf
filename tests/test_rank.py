"""Distributed exact global rank (functions/rank.py): equivalence with
the single-partition window functions it replaces, and balance under
value skew."""

from __future__ import annotations

import pytest


def test_global_row_number_matches_window_row_number(spark):
    """Exact equivalence with row_number() OVER (ORDER BY ...) on
    tie-heavy data spread over many range partitions — ties across a
    partition boundary must still rank in (value, key) total order."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from dbt_fal_spark.functions.rank import global_row_number_with_total

    df = spark.range(997).select(
        (F.col("id") % 13).alias("v"), F.col("id").alias("k")
    )
    ranked, n = global_row_number_with_total(df, ["v", "k"], num_partitions=7)
    assert n == 997
    expected = df.withColumn(
        "i", F.row_number().over(W.orderBy("v", "k")).cast("long")
    )
    got = {(r.v, r.k): r.i for r in ranked.collect()}
    want = {(r.v, r.k): r.i for r in expected.collect()}
    assert got == want


@pytest.mark.parametrize("n_rows,k", [(997, 10), (1000, 10), (7, 10), (10, 10), (11, 4)])
def test_ntile_from_rank_matches_spark_ntile(spark, n_rows, k):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from dbt_fal_spark.functions.rank import (
        global_row_number_with_total,
        ntile_from_rank,
    )

    df = spark.range(n_rows).select((F.col("id") * 37 % 101).alias("v"),
                                    F.col("id").alias("key"))
    ranked, n = global_row_number_with_total(df, ["v", "key"], num_partitions=5)
    got = {r.key: r.b for r in ranked.select(
        "key", ntile_from_rank("i", n, k).alias("b")).collect()}
    want = {r.key: r.b for r in df.select(
        "key", F.ntile(k).over(W.orderBy("v", "key")).alias("b")).collect()}
    assert got == want


def test_global_row_number_balances_skewed_keys(spark):
    """A 90%-duplicate order value must not hot-spot one range partition:
    the unique tiebreak column lets the lexicographic range partitioner
    split ties, so the helper stays parallel under value skew."""
    from pyspark.sql import functions as F

    from dbt_fal_spark.functions.rank import global_row_number_with_total

    df = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("v"),
        F.col("id").alias("k"),
    )
    ranked, n = global_row_number_with_total(df, ["v", "k"], num_partitions=8)
    assert n == 10000
    sizes = (
        ranked.withColumn("p", F.spark_partition_id()).groupBy("p").count().collect()
    )
    largest = max(r["count"] for r in sizes)
    assert largest < 10000 * 0.5, f"hot partition under skew: {sizes}"
    # ranks are still a permutation of 1..N
    assert ranked.agg(F.sum("i")).collect()[0][0] == n * (n + 1) // 2
