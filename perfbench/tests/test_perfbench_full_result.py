"""The timed action runs the work ``toPandas()`` runs, and keeps the
operators ``.count()`` prunes."""

import pytest

import datagen
from layertrace import plan_operators, stage_metrics, wait_listener_bus
from run import full_result

PRUNED_BY_COUNT = ["t_repetition_stats", "p_sentiment_batch_inference"]


@pytest.fixture(scope="module")
def spark_and_data(tmp_path_factory):
    from dbt_fal_spark.session import get_spark

    data = str(tmp_path_factory.mktemp("data"))
    datagen.generate(data, 1, 0.001)
    spark = get_spark("perfbench-tests", sf_dir=data, **{"spark.ui.showConsoleProgress": "false"})
    spark.conf.set("perfbench.data", data)
    yield spark, data


def _ran(spark, name, action):
    """Build ``name``'s plan, then run ``action(df)`` under a job group of its
    own; what the status store saw of the action alone."""
    from dbt_fal_spark.registry import all_queries

    sc = spark.sparkContext
    sc.setJobGroup(f"{name}:build", "build")
    df = all_queries()[name].fn(spark, spark.conf.get("perfbench.data"))
    group = f"{name}:{action.__name__}"
    sc.setJobGroup(group, group)
    try:
        out = action(df)
    finally:
        sc.setJobGroup("idle", "idle")
        spark.catalog.clearCache()
    wait_listener_bus(sc)
    return out, stage_metrics(sc, [group])


def to_pandas(df):
    return df.toPandas()


@pytest.mark.parametrize("name", PRUNED_BY_COUNT + ["q01_pricing_summary"])
def test_full_result_runs_what_to_pandas_runs(spark_and_data, name):
    spark, _ = spark_and_data
    rows, collected = _ran(spark, name, to_pandas)
    n, timed = _ran(spark, name, full_result)
    assert n == len(rows)
    assert timed["stages"] > 0
    for key in ("jobs", "stages", "tasks", "input_rows", "shuffle_write_bytes"):
        assert timed[key] == collected[key], key


def _executed(df):
    return plan_operators(df._jdf.queryExecution().executedPlan())


@pytest.mark.parametrize("name", PRUNED_BY_COUNT)
def test_count_prunes_what_the_full_result_keeps(spark_and_data, name):
    from dbt_fal_spark.registry import all_queries

    spark, data = spark_and_data
    df = all_queries()[name].fn(spark, data)
    full_result(df)
    kept = set(_executed(df))
    counted = df.groupBy().count()  # the plan DataFrame.count() executes
    counted.collect()
    pruned = kept - set(_executed(counted))
    spark.catalog.clearCache()
    assert pruned, f"{name}: .count() kept every operator"
    if name == "p_sentiment_batch_inference":
        assert any("Python" in op or "Arrow" in op for op in pruned), pruned
