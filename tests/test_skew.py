"""salted_join must be result-identical to the plain join (salting moves
work, never rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_fal_spark.functions.skew import salted_join
from dbt_fal_spark.sources.readers import load_table
from tests.conftest import SF_DIR


def test_salted_join_matches_plain_join(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    supp = load_table(spark, SF_DIR, "supplier")
    plain = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    li2 = li.withColumnRenamed("l_suppkey", "s_suppkey")
    salted = (
        salted_join(li2, supp, on="s_suppkey", salts=4)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    a = {(r.s_name, r.n, float(r.q)) for r in plain.collect()}
    b = {(r.s_name, r.n, float(r.q)) for r in salted.collect()}
    assert a == b


def test_salted_left_join_preserves_unmatched(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (99, "z")], "k long, v string")
    d = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    out = {tuple(r) for r in salted_join(a, d, on="k", how="left", salts=3).collect()}
    assert (99, "z", None) in out and len(out) == 3


def test_salted_join_rejects_outer_shapes(spark):
    """A right/full outer salted join would emit unmatched small-side
    rows once PER SALT (the small side is replicated) — phantom rows.
    Big-side-preserving types stay result-invariant."""
    from dbt_fal_spark.functions.skew import salted_join

    big = spark.range(100).selectExpr("id % 10 AS k", "id AS v")
    small = spark.range(5).selectExpr("id AS k", "id * 10 AS w")
    for bad in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="not big-side-preserving"):
            salted_join(big, small, on="k", how=bad)
    # left outer on the BIG side stays exact: row count = plain join's
    plain = big.join(small, on="k", how="left").count()
    assert salted_join(big, small, on="k", how="left").count() == plain
    # semi/anti preserved too
    assert (
        salted_join(big, small, on="k", how="left_semi").count()
        == big.join(small, on="k", how="left_semi").count()
    )
