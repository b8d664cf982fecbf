"""Statistical / non-equi relational operators (round-4 additions).

Fills the remaining analytics shapes a warehouse user of the reference
would reach for (the reference delegates all of these to its target
warehouse — SURVEY.md §2.G): fixed-width histograms, closed-form Pearson
correlation, non-equi (range/band) joins, and robust outlier detection
via median absolute deviation.

Determinism across engines (the oracle gate): every aggregate follows
the repo-wide rule — integer/decimal math for all order-dependent sums,
with double arithmetic only in a final, textually-identical expression
tree evaluated once per output row (IEEE ops on identical inputs are
bit-equal in Spark and DuckDB).

Scale notes (100 TB design):
- Histogram/corr are single hash-aggregates with map-side partials; the
  bucket/group key is tiny, so the shuffle carries only partial sums.
- The band join broadcasts the 4-row band table (BroadcastNestedLoopJoin
  — the only sane plan for a non-equi join against a small dim; the fact
  side never shuffles).
- MAD needs exact per-group medians: two passes over orders with a
  broadcast join of the tiny per-group median table between them. At
  100 TB swap `percentile` for `approx_percentile` (t-digest, mergeable
  sketch, one pass) and the plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dbt_fal_spark.functions.numeric import dsum, o_dsum
from dbt_fal_spark.registry import query
from dbt_fal_spark.sources.readers import load_table


def _ieee_div(a, b):
    """IEEE-754 double division: NaN/±Inf on a zero divisor instead of
    Spark's ANSI DIVIDE_BY_ZERO error — the semantics the DuckDB
    oracle's doubles already have (CASE branches are short-circuit in
    codegen, so the guarded division never executes on zero rows).
    NULL/0 stays NULL (SQL null propagation, e.g. sum() over zero rows
    divided by count 0 on an empty table), matching the oracle."""
    return (
        F.when(
            b == 0.0,
            F.when(a.isNull(), F.lit(None).cast("double"))
            .when(a == 0.0, F.expr("double('NaN')"))
            .when(a > 0.0, F.expr("double('Infinity')"))
            .otherwise(F.expr("double('-Infinity')")),
        ).otherwise(a / b)
    )


@query(
    "q_histogram_totalprice",
    oracle=f"""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           {o_dsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("aggregate", "histogram"),
)
def q_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value: bucket = floor(x / 50k),
    top-capped at 9. The bucket id is computed per row (one IEEE divide +
    floor — identical in both engines), so the whole query is a single
    hash aggregate with map-side partials; at 100 TB only 10 partial rows
    per task shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / F.lit(50000.0)), F.lit(9)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("bucket")
    )


@query(
    "q_corr_stats_by_flag",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
             AS corr_qty_price
    FROM s
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "statistics"),
)
def q_corr_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from exact closed-form sums.

    Built-in `corr()` keeps double running sums, which are shuffle-order-
    dependent — the distributed-safe version aggregates Σx Σy Σxx Σyy Σxy
    exactly in DECIMAL (order-independent, map-side combinable), casts
    each once to double, and evaluates one textually-identical IEEE
    expression per group. The decimal→double casts themselves can differ
    by 1 ulp between engines (DuckDB divides by 10^scale, the JVM rounds
    the exact value), so the final score is rounded to 9 digits — far
    above the ulp noise, far below the statistic's meaningful precision.
    Same construction as q_revenue_trend_by_priority (relational.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    # constant x or y ⇒ 0/0: the oracle's IEEE doubles give NaN where
    # Spark's ANSI division would error — emit the NaN explicitly (the
    # numerator is provably 0 whenever the denominator is: covariance
    # with a constant is zero)
    corr = F.when(den == 0.0, F.expr("double('NaN')")).otherwise(num / den)
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(corr, 9).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "q_range_join_price_band",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES
      ('1_small',  0.0,      100000.0),
      ('2_medium', 100000.0, 250000.0),
      ('3_large',  250000.0, 400000.0),
      ('4_jumbo',  400000.0, 1000000000.0))
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_orders,
           {o_dsum('o_totalprice')} AS revenue
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    ORDER BY band
    """,
    tags=("join", "range-join"),
)
def q_range_join_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/band) join: orders land in a value band via
    `lo <= x < hi`. The band table is broadcast, so Catalyst picks
    BroadcastNestedLoopJoin — with 4 band rows that is 4 comparisons per
    fact row, no shuffle of the fact side, and the aggregate's map-side
    partials reduce the output to 4 rows per task. This is the pattern
    for any small-dim interval lookup (tax brackets, SLA tiers, time
    buckets) at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [
            ("1_small", 0.0, 100000.0),
            ("2_medium", 100000.0, 250000.0),
            ("3_large", 250000.0, 400000.0),
            ("4_jumbo", 400000.0, 1000000000.0),
        ],
        "band string, lo double, hi double",
    )
    joined = orders.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("band")
    )


@query(
    "q_mad_outlier_orders",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderpriority
    ),
    mad AS (
      SELECT o.o_orderpriority,
             quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad
      FROM orders o JOIN med m USING (o_orderpriority)
      GROUP BY o.o_orderpriority
    )
    SELECT o.o_orderpriority, m.med, d.mad,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE abs(o.o_totalprice - m.med) > 3 * d.mad)
                AS BIGINT) AS n_outliers
    FROM orders o
    JOIN med m USING (o_orderpriority)
    JOIN mad d USING (o_orderpriority)
    GROUP BY o.o_orderpriority, m.med, d.mad
    ORDER BY o.o_orderpriority
    """,
    tags=("aggregate", "percentile", "outlier"),
)
def q_mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts via median absolute deviation: per priority,
    med = median(x), mad = median(|x - med|), outlier ⇔ |x - med| > 3·mad.

    Two exact-percentile passes over orders; the tiny per-group median
    (then MAD) tables are broadcast back, so the fact table never
    shuffles — each pass is scan + broadcast-hash-join + hash-agg. Spark
    `percentile` and DuckDB `quantile_cont` share linear-interpolation
    semantics, and |x − med| is one IEEE subtract, so both engines see
    identical deviation values. At 100 TB: approx_percentile for the
    medians (mergeable t-digest, one pass each)."""
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    dev = orders.join(F.broadcast(med), "o_orderpriority")
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("percentile(abs(o_totalprice - med), 0.5)").alias("mad")
    )
    adev = F.abs(F.col("o_totalprice") - F.col("med"))
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(adev > 3 * F.col("mad"), 1)).alias("n_outliers"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_unpivot_segment_metrics",
    oracle=f"""
    WITH wide AS (
      SELECT c_mktsegment,
             CAST(count(*) AS DOUBLE) AS n_customers,
             {o_dsum('c_acctbal')} AS total_acctbal,
             CAST(max(c_acctbal) AS DOUBLE) AS max_acctbal,
             CAST(min(c_acctbal) AS DOUBLE) AS min_acctbal
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, metric, value
    FROM (UNPIVOT wide
          ON n_customers, total_acctbal, max_acctbal, min_acctbal
          INTO NAME metric VALUE value)
    """,
    tags=("relational", "unpivot"),
)
def q_unpivot_segment_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT (melt): a per-segment metric block flips
    into (segment, metric, value) rows — the reshape feeding metric
    stores and long-format BI tools.

    Plan: one partial-aggregated groupBy builds the wide block (5 rows),
    then ``DataFrame.unpivot`` expands it metric-wise — the expansion is
    a zero-shuffle projection (Spark's Expand node), so at scale the
    cost stays that of the aggregation. max/min double casts are exact
    (values are parquet doubles); the sum goes through DECIMAL(18,4)
    per the engine-wide determinism contract (functions/numeric.py)."""
    cust = load_table(spark, sf_dir, "customer")
    wide = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        dsum("c_acctbal", "total_acctbal"),
        F.max("c_acctbal").cast("double").alias("max_acctbal"),
        F.min("c_acctbal").cast("double").alias("min_acctbal"),
    )
    return wide.unpivot(
        ids=["c_mktsegment"],
        values=["n_customers", "total_acctbal", "max_acctbal", "min_acctbal"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "q_conditional_aggs",
    oracle="""
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_open,
           bool_and(o_totalprice > 1000) AS all_above_1k,
           bool_or(o_orderstatus = 'F') AS any_fulfilled,
           median(o_totalprice) AS median_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("relational", "aggregate"),
)
def q_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / boolean / positional aggregate shapes in one pass:
    count_if, bool_and, bool_or, and exact median per group.

    One hash aggregation; count_if/bool_and/bool_or partial-aggregate
    map-side (each carries a counter or a bit). median is the one
    full-sort member — exact by contract here; at 100 TB swap in
    approx_percentile's mergeable t-digest (documented trade: ±ε error
    for a one-pass mergeable sketch). Median determinism: an exact
    median is order-insensitive (sorted multiset), and the even-count
    midpoint average is a single double op in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_above_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_fulfilled"),
        F.median("o_totalprice").alias("median_price"),
    )


@query(
    "q_ab_test_proportions",
    oracle="""
    WITH tagged AS (
      SELECT user_id % 2 AS variant,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
    ), agg AS (
      -- count(*) FILTER, not count_if: DuckDB's count_if is sum-like
      -- (NULL over zero rows) where Spark's count_if counts (0) — a
      -- variant with no rows is a COUNT of 0 in both engines this way
      SELECT CAST(count(*) FILTER (WHERE variant = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE variant = 1) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
      FROM tagged
    )
    SELECT n0, n1, c0, c1,
           CAST(c0 AS DOUBLE) / n0 AS p0,
           CAST(c1 AS DOUBLE) / n1 AS p1,
           (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)) AS z_score
    FROM agg
    """,
    tags=("stats", "hypothesis-test"),
)
def q_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on event conversion (purchase share) with
    users split into variants by ``user_id % 2`` — the A/B significance
    readout every experimentation pipeline ends with.

    One full-corpus pass: a single hash aggregation produces four exact
    integer counters (map-side combined, no per-variant shuffle split),
    and the z statistic is computed from them in one projection — the
    identical closed-form single-op sequence in both engines, so the
    doubles match bit-for-bit. At 100 TB: same plan, four counters.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    agg = tagged.agg(
        F.count_if(F.col("variant") == 0).cast("bigint").alias("n0"),
        F.count_if(F.col("variant") == 1).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    # IEEE division throughout: an empty variant (n=0) or a pooled
    # proportion of exactly 0/1 (stderr 0) gives NaN/Inf in the oracle's
    # doubles where Spark's ANSI division would error — _ieee_div makes
    # the whole closed form IEEE-faithful (×, √, − already are)
    p0 = _ieee_div(F.col("c0").cast("double"), F.col("n0").cast("double"))
    p1 = _ieee_div(F.col("c1").cast("double"), F.col("n1").cast("double"))
    p_pool = _ieee_div(
        (F.col("c0") + F.col("c1")).cast("double"),
        (F.col("n0") + F.col("n1")).cast("double"),
    )
    inv0 = _ieee_div(F.lit(1.0), F.col("n0").cast("double"))
    inv1 = _ieee_div(F.lit(1.0), F.col("n1").cast("double"))
    z = _ieee_div(p1 - p0, F.sqrt(p_pool * (F.lit(1.0) - p_pool) * (inv0 + inv1)))
    return agg.select(
        "n0", "n1", "c0", "c1", p0.alias("p0"), p1.alias("p1"), z.alias("z_score")
    )


@query(
    "q_latest_order_per_customer",
    oracle="""
    SELECT c_custkey, o_orderkey AS latest_orderkey,
           o_orderdate AS latest_orderdate,
           CAST(o_totalprice AS DOUBLE) AS latest_totalprice
    FROM (
      SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
             row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC
             ) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
    ) t WHERE rn = 1
    """,
    tags=("relational", "dedup", "cdc"),
)
def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key (the CDC compaction / QUALIFY rn=1 shape):
    each customer's most recent order, deterministic under the
    (orderdate desc, orderkey desc) total order.

    One key-partitioned window after the join — the exact plan a MERGE
    compaction runs at scale; with both tables bucketed on the customer
    key the join and the window share one exchange.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("c_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").alias("latest_orderdate"),
            F.col("o_totalprice").cast("double").alias("latest_totalprice"),
        )
    )


@query(
    "q_revenue_share_by_nation",
    oracle=f"""
    WITH per_nation AS (
      SELECT n_name, {o_dsum('o_totalprice')} AS revenue
      FROM nation
      JOIN customer ON n_nationkey = c_nationkey
      JOIN orders ON c_custkey = o_custkey
      GROUP BY n_name
    )
    , tot AS (
      SELECT {o_dsum('o_totalprice')} AS total
      FROM orders
    )
    SELECT n_name, revenue,
           revenue / total AS revenue_share,
           rank() OVER (ORDER BY revenue DESC, n_name) AS revenue_rank
    FROM per_nation, tot
    """,
    tags=("relational", "window", "share"),
)
def q_revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total with rank (the BI share-of-business readout):
    each nation's revenue as a fraction of the whole, plus its rank.

    The corpus-sized work is one aggregation; the rank window runs on
    the |nations|-sized result, bounded by dimension cardinality, never
    the fact table. Share determinism: a windowed sum-of-doubles total
    proved order-sensitive in the last ulp (hash-mismatch), so the
    total is instead ONE exact decimal scalar over the fact join,
    broadcast back — each share is then a single double division.
    """
    nat = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_nation = (
        F.broadcast(nat)
        .join(cust, nat.n_nationkey == cust.c_nationkey)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("n_name")
        .agg(dsum("o_totalprice", "revenue"))
    )
    # o_custkey is FK-complete, so the customer join neither filters nor
    # duplicates — the grand total comes straight off the fact table
    tot = orders.agg(dsum("o_totalprice", "total"))
    return per_nation.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "revenue",
        (F.col("revenue") / F.col("total")).alias("revenue_share"),
        F.rank().over(W.orderBy(F.desc("revenue"), F.asc("n_name"))).alias("revenue_rank"),
    )


@query(
    "q_gini_customer_value",
    oracle="""
    WITH v AS (
      SELECT c_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ), r AS (
      SELECT x, row_number() OVER (ORDER BY x, c_custkey) AS i FROM v
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(x) AS DOUBLE) AS total_value,
           (2.0 * CAST(sum(i * x) AS DOUBLE))
             / (count(*) * CAST(sum(x) AS DOUBLE))
             - (count(*) + 1.0) / count(*) AS gini
    FROM r
    """,
    tags=("stats", "inequality"),
)
def q_gini_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime value — the inequality
    metric behind whale-concentration dashboards, computed with the
    rank-weighted identity G = 2·Σ(i·x₍ᵢ₎)/(n·Σx) − (n+1)/n over
    ascending-sorted values.

    Determinism: per-customer values stay DECIMAL through both sums
    (Σx and the rank-weighted Σi·x are exact in any order); the rank
    is a total order (value, key); the final formula is the identical
    single-op double sequence in both engines. The rank is computed
    DISTRIBUTED (range-repartition + per-partition row_number +
    partition-size prefix-sum, functions/rank.py) — no single-partition
    window, so the plan holds at any |customers|.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    from dbt_fal_spark.functions.numeric import DEC, dec
    from dbt_fal_spark.functions.rank import global_row_number_with_total

    v = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey")
        .agg(F.sum(dec("o_totalprice")).cast(DEC).alias("x"))
    )
    r, _ = global_row_number_with_total(v, ["x", "c_custkey"], out_col="i")
    n = F.count("*")
    total_d = F.sum("x").cast("double")
    sum_ix_d = F.sum(F.col("i") * F.col("x")).cast("double")
    return r.agg(
        n.cast("bigint").alias("n_customers"),
        total_d.alias("total_value"),
        (
            (F.lit(2.0) * sum_ix_d) / (n * total_d) - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )
