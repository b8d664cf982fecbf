"""Every registered query runs on Spark and (when an oracle exists)
matches DuckDB on sorted rows — the same gate the driver applies.

This mirrors the reference's behavior-level testing philosophy
(SURVEY §5) plus the query-correctness layer the reference lacks.
q_generic_tests is also checked against per-test aggregates computed
directly.
"""

from __future__ import annotations

import math

import pytest

from dbt_fal_spark.registry import all_queries
from tests.conftest import SF_DIR

SPECS = all_queries()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, oracle):
    spec = SPECS[name]
    sdf = spec.fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        # rows-only contract: runs and yields a stable schema
        assert isinstance(srows, list)
        assert scols
        return
    res = oracle.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    assert _canon(scols, srows) == _canon(ocols, orows), f"{name}: values differ"


def test_generic_tests_values_match_per_test_aggregates(spark):
    from dbt_fal_spark.operators.relational import q_generic_tests
    from dbt_fal_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    got = {r["test_name"]: r["violations"] for r in q_generic_tests(spark, SF_DIR).collect()}
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    li = load_table(spark, SF_DIR, "lineitem")
    want = {
        "orders_o_orderkey_unique": orders.agg(
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v")
        ).collect()[0]["v"],
        "orders_o_custkey_not_null": orders.agg(
            F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("v")
        ).collect()[0]["v"],
        "lineitem_l_quantity_not_null": li.agg(
            F.count(F.when(F.col("l_quantity").isNull(), 1)).alias("v")
        ).collect()[0]["v"],
        "customer_c_custkey_unique": cust.agg(
            (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("v")
        ).collect()[0]["v"],
    }
    assert got == want


def test_sentiment_batch_inference_shape_and_semantics(spark):
    from dbt_fal_spark.operators.inference import p_sentiment_batch_inference

    df = p_sentiment_batch_inference(spark, SF_DIR)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "n_tokens", "n_pos", "n_neg", "sentiment_score", "label",
    ]
    rows = df.collect()
    assert rows, "no scored documents"
    labels = {r.label for r in rows}
    assert labels <= {"positive", "negative", "neutral"}
    assert len(labels) >= 2, "degenerate scoring — lexicon missing from corpus"
    for r in rows:
        assert -1.0 <= r.sentiment_score <= 1.0
        assert (r.sentiment_score > 0) == (r.label == "positive")
        assert (r.sentiment_score < 0) == (r.label == "negative")
        assert r.n_pos + r.n_neg <= r.n_tokens
