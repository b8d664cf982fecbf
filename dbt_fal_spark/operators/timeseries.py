"""Event / time-series operators over the ``events`` table.

The reference has no streaming or time-series operators (SURVEY §1.1 —
time series are plain (ds, y) tables fed batchwise to Prophet), so this
module is the batch-first extension surface the testdata's ``events``
table exists for: sessionization, tumbling windows, as-of joins, JSON
props extraction. The streaming variants live in
``dbt_fal_spark/streaming/``.

Scale notes (100 TB design):
- Every operator partitions by ``user_id`` (high cardinality) — window
  state per key is bounded by that user's events, never global.
- The as-of join is the union+last_value trick: one shuffle on user_id,
  one ordered window pass — no per-key loop, no range-explosion. This is
  the scalable alternative to ``pd.merge_asof`` per group.
- Timestamp arithmetic uses epoch doubles (``ts.cast("double")``), exact
  for microsecond timestamps until year ~2255 (2^53 µs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dbt_fal_spark.functions.numeric import dsum, o_dsum
from dbt_fal_spark.registry import query
from dbt_fal_spark.sources.readers import load_table

SESSION_GAP_SEC = 1800  # 30 min


@query(
    "e_sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_SEC}
                     THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT *, CAST(sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           {o_dsum('value')} AS session_value
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("window", "sessionize", "events"),
)
def e_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag → new-session flag → running count.

    Two window passes over the same (user_id, ts) ordering — Catalyst
    executes both in a single sort within one shuffle of user_id
    partitions. The streaming twin is ``session_window`` (streaming/).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    flagged = ev.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0),
    )
    sess = flagged.withColumn("session_id", F.sum("is_new").over(wf))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value", "session_value"),
    )


@query(
    "e_hourly_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           {o_dsum('value')} AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("aggregate", "events"),
)
def e_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event type (batch twin of the
    Structured Streaming windowed agg in streaming/windows.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value", "total_value"),
    )


@query(
    "e_asof_purchase_attribution",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, c.ts AS click_ts,
           p.ts AS last_purchase_ts, p.value AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    tags=("asof", "events"),
)
def e_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one): for each click, the most
    recent prior-or-equal purchase by the same user.

    Implementation: tag both streams, union, then last_value(ignoreNulls)
    over (user_id ordered by ts) — the purchase columns "carry forward"
    to later clicks. One shuffle + one sort; at 100 TB this beats a
    range join (no pair explosion) and pd.merge_asof (no Python).
    Purchases sort before clicks at equal ts (is_click tiebreak) to match
    ASOF's >= semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(None).cast("double").alias("p_value"),
        F.lit(1).alias("is_click"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
        F.lit(0).alias("is_click"),
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = purch.unionByName(clicks).select(
        "user_id",
        "ts",
        "event_id",
        "is_click",
        F.last("p_ts", ignorenulls=True).over(wf).alias("last_purchase_ts"),
        F.last("p_value", ignorenulls=True).over(wf).alias("last_purchase_value"),
    )
    return filled.filter(F.col("is_click") == 1).select(
        "event_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        "last_purchase_ts",
        "last_purchase_value",
    )


@query(
    "e_json_props_stats",
    oracle=f"""
    SELECT event_type,
           count(json_extract_string(props, '$.k')) AS n_with_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "events"),
)
def e_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON props → typed column → aggregate.

    Replaces the reference's VARIANT-as-string + manual json.loads hack
    (reference: projects/adapter/src/fal/dbt/integration/lib.py:725-732)
    with engine-native JSON path extraction.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "e_user_activity_pivot",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
           {o_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")} AS purchase_value
    FROM events
    GROUP BY user_id
    """,
    tags=("pivot", "events"),
)
def e_user_activity_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conditional pivot over event types — single hash agg."""
    ev = load_table(spark, sf_dir, "events")

    def n_type(t: str):
        return F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")

    from dbt_fal_spark.functions.numeric import dec

    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        n_type("click"),
        n_type("view"),
        n_type("purchase"),
        n_type("signup"),
        n_type("error"),
        F.sum(dec(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)))
        .cast("double")
        .alias("purchase_value"),
    )


@query(
    "e_purchase_gap_stats",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, ts,
           epoch(ts) - epoch(prev_ts) AS gap_sec
    FROM p
    WHERE prev_ts IS NOT NULL
    """,
    tags=("window", "events"),
)
def e_purchase_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap per user via lag — gaps-and-islands primitive."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            (F.col("ts").cast("double") - prev.cast("double")).alias("gap_sec"),
        )
        .filter(F.col("gap_sec").isNotNull())
    )


@query(
    "e_daily_active_users",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           count(DISTINCT user_id) AS dau,
           count(*) AS n_events,
           count(*) / count(DISTINCT user_id) AS events_per_user
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
    tags=("distinct", "events"),
)
def e_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU: exact distinct per day. At 100 TB switch to
    approx_count_distinct (HLL) — noted here as the scale path."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
        (F.count(F.lit(1)) / F.countDistinct("user_id")).alias("events_per_user"),
    )


_HLL_SCALE = 562949953421312  # 2^49: fixed-point scale for the 2^-rho sum


def _hll_estimate_sql(s: str, v: str) -> str:
    """HyperLogLog estimate from exact register state, as SQL text BOTH
    engines evaluate bit-identically: ``s`` is the 2^49-scaled harmonic
    denominator (an exact BIGINT — integer sums are order-independent,
    unlike a double sum of 2^-rho), ``v`` the count of zero registers.
    Raw estimate alpha_m*m^2/Z with m=4096 (Flajolet et al. 2007), and
    the standard linear-counting small-range correction m*ln(m/V) when
    E <= 2.5m — the only branch with a transcendental, over ≤4096
    discrete inputs. floor() before the BIGINT cast so DuckDB's
    round-on-cast and Spark's truncate-on-cast agree."""
    raw = (
        "((0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * "
        f"562949953421312.0 / CAST({s} AS DOUBLE))"
    )
    return (
        f"CAST(floor(CASE WHEN {raw} <= 10240.0 AND {v} > 0 "
        f"THEN 4096.0 * ln(4096.0 / {v}) ELSE {raw} END) AS BIGINT)"
    )


@query(
    "e_dau_hll_sketch",
    oracle=f"""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
      FROM events
    ), regs AS (
      SELECT day, hv % 4096 AS bucket,
             CAST(max(CASE WHEN hv // 4096 = 0 THEN 49
                           ELSE 49 - length(bin(hv // 4096)) END) AS BIGINT) AS r
      FROM h GROUP BY day, bucket
    ), nev AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_events FROM events GROUP BY 1
    ), dau AS (
      SELECT day,
             CAST(sum(CAST(1 AS BIGINT) << (49 - r))
                  + (4096 - count(*)) * {_HLL_SCALE} AS BIGINT) AS s_d,
             CAST(4096 - count(*) AS BIGINT) AS v_d
      FROM regs GROUP BY day
    ), w AS (
      SELECT regs.day + CAST(g.off AS INTEGER) AS day, bucket, max(r) AS r
      FROM regs, generate_series(0, 6) AS g(off)
      GROUP BY 1, 2
    ), wau AS (
      SELECT day,
             CAST(sum(CAST(1 AS BIGINT) << (49 - r))
                  + (4096 - count(*)) * {_HLL_SCALE} AS BIGINT) AS s_w,
             CAST(4096 - count(*) AS BIGINT) AS v_w
      FROM w GROUP BY day
    )
    SELECT nev.day, nev.n_events,
           {_hll_estimate_sql("s_d", "v_d")} AS dau_approx,
           {_hll_estimate_sql("s_w", "v_w")} AS wau_approx_7d
    FROM nev JOIN dau ON nev.day = dau.day JOIN wau ON nev.day = wau.day
    """,
    tags=("distinct", "sketch", "events"),
)
def e_dau_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB DAU path made concrete: per-day HLL register state
    (4096 registers from the md5-derived 60-bit hash — the same build
    e_hll_register_state pins at 256 registers) plus a rolling-week
    MERGE of the daily registers (element-wise max — sketches are
    mergeable state; exact distincts are not), then the HLL estimate
    computed from the registers in both engines. Unlike the earlier
    Datasketches formulation (whose estimate no SQL oracle could
    restate), every step here — hash, bucket, rho, element-wise max,
    2^49-scaled harmonic sum — is exact integer math, so the estimate
    itself is driver-hash-checkable; the accuracy contract (±5% of
    exact) stays pinned by tests/test_sketch.py.

    Scale shape: registers partial-aggregate map-side (max is
    associative); per-day state is ≤4096 rows regardless of corpus
    size; the 7-day union is a 7-way map-only expansion of bounded
    state, never a re-scan of the week's raw events.

    One register pass feeds both branches: the register aggregation
    also counts its group's events (count(*) per (day, bucket) — free in
    the same map-side partial), and the DAU state and the per-day event
    totals fold into ONE downstream aggregate (per-day totals are the
    SUM of the per-bucket counts: every event row lands in exactly one
    (day, bucket) group, NULL groups included). The register relation is
    not persisted, so the DAU and WAU branches each scan events once —
    two scans; caching the bounded register state measured slower than
    the second scan at the bench's input sizes."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        F.col("ts").cast("date").alias("day"),
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    rho = F.when(F.expr("hv div 4096") == 0, F.lit(49)).otherwise(
        F.lit(49) - F.length(F.expr("bin(hv div 4096)"))
    )
    # bounded state: <= 4096 rows per day (+ one NULL-bucket row)
    regs = h.groupBy("day", (F.col("hv") % 4096).alias("bucket")).agg(
        F.max(rho).cast("bigint").alias("r"), F.count(F.lit(1)).alias("n_ev")
    )

    def day_state(df, s_name, v_name):
        return df.groupBy("day").agg(
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 49 - r)"))
                + (F.lit(4096) - F.count(F.lit(1))) * F.lit(_HLL_SCALE)
            ).alias(s_name),
            (F.lit(4096) - F.count(F.lit(1))).cast("bigint").alias(v_name),
        )

    # DAU registers + per-day event totals in one aggregate over regs
    dayrow = regs.groupBy("day").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 49 - r)"))
            + (F.lit(4096) - F.count(F.lit(1))) * F.lit(_HLL_SCALE)
        ).alias("s_d"),
        (F.lit(4096) - F.count(F.lit(1))).cast("bigint").alias("v_d"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
    )
    # 7-day register union: expand each day's registers to the 7 windows
    # they participate in, then element-wise max per (day, bucket)
    w7 = (
        regs.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day", "bucket", "r"
        )
        .groupBy(F.date_add("day", F.col("off")).alias("day"), "bucket")
        .agg(F.max("r").alias("r"))
    )
    wau = day_state(w7, "s_w", "v_w")
    return dayrow.join(wau, "day").select(
        "day",
        "n_events",
        F.expr(_hll_estimate_sql("s_d", "v_d")).alias("dau_approx"),
        F.expr(_hll_estimate_sql("s_w", "v_w")).alias("wau_approx_7d"),
    )


@query(
    "e_funnel_conversion",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT count(*) AS n_signup,
           count(c.user_id) AS n_click_after_signup,
           count(p.user_id) AS n_purchase_after_click,
           CAST(count(p.user_id) AS DOUBLE) / count(*) AS conversion
    FROM s
    LEFT JOIN c ON s.user_id = c.user_id
    LEFT JOIN p ON s.user_id = p.user_id
    """,
    tags=("funnel", "events"),
)
def e_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who signed up → first click strictly after
    the signup → first purchase strictly after that click, with the
    end-to-end conversion rate. ONE shuffle of events on user_id does
    the whole chain: three CHAINED unordered windows over the same
    partitioning (each stage's conditional min references the previous
    stage's column — Catalyst stacks all three Window nodes on one
    exchange), versus the oracle's three self-join CTEs. Funnel state
    per user is three timestamps, never an event list — the shape that
    holds at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    is_type = lambda t: F.col("event_type") == t  # noqa: E731
    staged = (
        ev.select("user_id", "event_type", "ts")
        .withColumn("t_signup", F.min(F.when(is_type("signup"), F.col("ts"))).over(w))
        .withColumn(
            "t_click",
            F.min(
                F.when(is_type("click") & (F.col("ts") > F.col("t_signup")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(is_type("purchase") & (F.col("ts") > F.col("t_click")), F.col("ts"))
            ).over(w),
        )
    )
    per_user = (
        staged.filter(F.col("t_signup").isNotNull())
        .select("user_id", "t_click", "t_purchase")
        .groupBy("user_id")
        .agg(F.first("t_click").alias("t_click"), F.first("t_purchase").alias("t_purchase"))
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_signup"),
        F.count("t_click").alias("n_click_after_signup"),
        F.count("t_purchase").alias("n_purchase_after_click"),
        (F.count("t_purchase").cast("double") / F.count(F.lit(1))).alias("conversion"),
    )


@query(
    "e_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(date_trunc('week', CAST(ts AS DATE))) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('week', f.cohort_week,
                            date_trunc('week', CAST(e.ts AS DATE))) AS BIGINT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ), cohort_sizes AS (
      SELECT cohort_week, count(*) AS cohort_size
      FROM firsts GROUP BY cohort_week
    )
    SELECT a.cohort_week, a.week_offset,
           count(*) AS active_users,
           s.cohort_size,
           CAST(count(*) AS DOUBLE) / s.cohort_size AS retention
    FROM activity a
    JOIN cohort_sizes s ON a.cohort_week = s.cohort_week
    GROUP BY a.cohort_week, a.week_offset, s.cohort_size
    """,
    tags=("retention", "cohort", "events"),
)
def e_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — the canonical product-analytics rollup:
    users grouped by first-activity week, retention = share of the
    cohort active k weeks later.

    firsts (each user's cohort week) is aggregated directly from events
    and persisted: it is users-sized and consumed twice (the activity
    join and the cohort sizes). The activity relation joins the events'
    (user, week) pairs to it and applies distinct once, after the join.
    A distinct-(user, week)-first shape measured slower uncached: its
    events-sized distinct shuffle runs once per consumer. Values are
    locked against a two-scan reference by
    tests/test_sketch.py::test_retention_matches_two_scan_reference.

    Cohort sizes stay dimension-sized and broadcast back. NULL
    semantics are unchanged: NULL user_ids drop at the equi-join
    exactly as before, NULL weeks (NULL ts) survive distinct/min
    identically in both shapes."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    week = F.date_trunc("week", day).cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week")).persist()
    activity = (
        ev.select("user_id", week.alias("week"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            (F.col("active_users").cast("double") / F.col("cohort_size")).alias("retention"),
        )
    )


@query(
    "e_rolling_7d_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
             min(CAST(o_orderdate AS DATE)) AS day,
             {o_dsum('o_totalprice')} AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT day, revenue, n_orders,
           CAST(sum(CAST(revenue AS DECIMAL(18,4))) OVER (
             ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS revenue_7d,
           CAST(sum(n_orders) OVER (
             ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS orders_7d
    FROM daily
    """,
    tags=("window", "rolling", "timeseries"),
)
def e_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling revenue over a calendar RANGE frame (not ROWS — gaps
    in the calendar must shrink the window, so the frame is keyed on the
    integer day index). The daily pre-aggregation collapses the fact
    table to ~one row per day BEFORE the unpartitioned window, so the
    single-partition sort sees thousands of rows, not 600 K — at 100 TB
    the same shape holds (days, not rows, hit the window).
    Decimal inner sums keep the rolling total order-independent."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("day_idx")
    ).agg(
        F.min(F.col("o_orderdate").cast("date")).alias("day"),
        dsum("o_totalprice", "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = W.orderBy("day_idx").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "revenue",
        "n_orders",
        F.sum(F.col("revenue").cast("decimal(18,4)")).over(w).cast("double").alias("revenue_7d"),
        F.sum("n_orders").over(w).alias("orders_7d"),
    )


@query(
    "e_resample_daily_fill",
    oracle=f"""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), grid AS (
      SELECT day, event_type FROM spine CROSS JOIN types
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             count(*) AS n, {o_dsum('value')} AS day_value
      FROM events GROUP BY 1, 2
    )
    SELECT g.day, g.event_type,
           coalesce(d.n, 0) AS n_events,
           coalesce(d.day_value, 0.0) AS day_value,
           last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS day_value_ffill
    FROM grid g LEFT JOIN daily d ON g.day = d.day AND g.event_type = d.event_type
    """,
    tags=("timeseries", "resample"),
)
def e_resample_daily_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an event stream onto a dense daily grid: date spine
    (sequence → explode) × observed types, left join the daily rollup,
    zero-fill counts and FORWARD-fill values (last non-null via
    last_value IGNORE NULLS). The spine is generated, never collected;
    the fill is one partitioned window — the standard gap-repair step
    before any rolling/seasonal model at scale."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"), F.max(F.col("ts").cast("date")).alias("hi")
    )
    spine = bounds.select(F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"))
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(types)
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value", "day_value"))
    joined = grid.alias("g").join(
        daily.alias("d"),
        (F.col("g.day") == F.col("d.day")) & (F.col("g.event_type") == F.col("d.event_type")),
        "left_outer",
    )
    wf = (
        W.partitionBy("g.event_type")
        .orderBy("g.day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        F.col("g.day").alias("day"),
        F.col("g.event_type").alias("event_type"),
        F.coalesce(F.col("d.n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("d.day_value"), F.lit(0.0)).alias("day_value"),
        F.last(F.col("d.day_value"), ignorenulls=True).over(wf).alias("day_value_ffill"),
    )


@query(
    "e_sliding_window_traffic",
    oracle=f"""
    WITH base AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS slot, event_type, value
      FROM events
    ), w0 AS (
      SELECT slot AS window_start, event_type, count(*) AS n, {o_dsum('value')} AS v
      FROM base GROUP BY slot, event_type
    ), w1 AS (
      SELECT slot - INTERVAL 30 MINUTE AS window_start, event_type, count(*) AS n, {o_dsum('value')} AS v
      FROM base GROUP BY slot, event_type
    ), both_halves AS (
      SELECT * FROM w0 UNION ALL SELECT * FROM w1
    )
    SELECT window_start, event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM both_halves
    GROUP BY window_start, event_type
    """,
    tags=("window", "sliding", "events"),
)
def e_sliding_window_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min (each event lands in exactly
    two windows). Spark's window(ts, '1 hour', '30 minutes') generates
    the member windows per row and aggregates once; the oracle builds the
    same answer from two half-hour-offset tumbling rollups merged — a
    useful identity (hour sliding-by-half = union of shifted halves
    re-aggregated) that also shows the partial-agg-then-merge shape this
    compiles to at scale. Decimal at both levels keeps re-aggregation
    order-independent."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Per-group model fit + forecast (the reference's flagship Python-model shape)
# ---------------------------------------------------------------------------

FORECAST_H = 7  # days ahead
_TS_EPOCH = "2024-01-01"


@query(
    "e_forecast_daily_by_type",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '{_TS_EPOCH}', CAST(ts AS DATE)) AS BIGINT) AS x,
             sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS y
      FROM events
      GROUP BY event_type, CAST(ts AS DATE)
    ), s AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(x * x) AS sxx,
             sum(y) AS sy, sum(x * y) AS sxy,
             max(x) AS xmax
      FROM daily GROUP BY event_type
    ), fit AS (
      SELECT event_type, n, sx, sy, xmax,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
      FROM s
    ), fit2 AS (
      SELECT event_type, xmax, slope,
             (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS icept
      FROM fit
    )
    SELECT event_type,
           DATE '{_TS_EPOCH}' + CAST(xmax + h AS INTEGER) AS forecast_day,
           (icept + slope * CAST(xmax + h AS DOUBLE)) / CAST(100 AS DOUBLE) AS yhat
    FROM fit2, (SELECT unnest(generate_series(1, {FORECAST_H})) AS h)
    """,
    tags=("timeseries", "forecast", "applyInPandas"),
)
def e_forecast_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fit + horizon forecast via ``applyInPandas`` — the
    reference's flagship Python-model workload (orders_forecast.py fits
    Prophet per series on pandas and writes yhat rows; SURVEY §2.G
    "ML/UDF workloads") re-expressed Spark-first: daily totals are
    pre-aggregated JVM-side (decimal-exact cents), then each event_type
    group ships ONE small Arrow batch to a Python worker that fits a
    least-squares trend and emits {FORECAST_H} forecast rows. Swap the
    closed form for Prophet/sklearn inside the same UDF — the plan shape
    (shuffle on group key, per-group fit, tiny fan-out) is unchanged, and
    is exactly how per-series models scale to millions of series.

    Determinism: the fit consumes exact integer sums (Python bigints ==
    DuckDB HUGEINT), and slope/intercept/yhat do the identical sequence
    of double ops as the oracle — bit-identical output.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit(_TS_EPOCH).cast("date"))
            .cast("long")
            .alias("x"),
            (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("cents").alias("y"))
    )
    horizon = FORECAST_H
    epoch = _TS_EPOCH

    def fit_forecast(pdf):
        # nested import/helpers only — executors can't import dbt_fal_spark
        import datetime as dt

        import pandas as pd

        xs = [int(v) for v in pdf["x"]]
        ys = [int(v) for v in pdf["y"]]
        n, sx = len(xs), sum(xs)
        sxx = sum(v * v for v in xs)
        sy = sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        xmax = max(xs)
        # IEEE division, not Python's: a single-day group makes the
        # denominator 0 and the oracle's DOUBLE division yields ±Inf/NaN
        # there (DuckDB doubles don't error) — numpy matches that
        import numpy as np

        with np.errstate(divide="ignore", invalid="ignore"):
            slope = float(
                np.float64(n * sxy - sx * sy) / np.float64(n * sxx - sx * sx)
            )
        icept = (float(sy) - slope * float(sx)) / float(n)
        base = dt.date.fromisoformat(epoch)
        rows = []
        for h in range(1, horizon + 1):
            x_h = xmax + h
            rows.append(
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "forecast_day": base + dt.timedelta(days=x_h),
                    "yhat": (icept + slope * float(x_h)) / 100.0,
                }
            )
        return pd.DataFrame(rows)

    return daily.groupBy("event_type").applyInPandas(
        fit_forecast, schema="event_type string, forecast_day date, yhat double"
    )


@query(
    "e_anomaly_events",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, event_type, ts,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    ), s AS (
      SELECT user_id, count(*) AS n, sum(cents) AS sx,
             sum(cents * cents) AS sxx
      FROM c GROUP BY user_id
    )
    SELECT event_id, c.user_id, event_type, ts
    FROM c JOIN s ON c.user_id = s.user_id
    WHERE n >= 2
      AND (c.cents * n - sx) * (c.cents * n - sx) > 9 * (n * sxx - sx * sx)
    """,
    tags=("timeseries", "anomaly"),
)
def e_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 3σ outlier detection (the reference's anomaly-detection
    example, `examples/anomaly-detection/README.md`, re-expressed as
    relational algebra instead of a single-node sklearn fit): an event is
    anomalous when |value − mean_user| > 3·σ_user (population σ).

    The predicate is algebraically cleared of ALL division and sqrt:
    |v − sx/n| > 3·sqrt((n·sxx − sx²))/n  ⟺  (v·n − sx)² > 9·(n·sxx − sx²),
    so both engines evaluate pure integer arithmetic on exact cents —
    zero float sensitivity. The per-user moments (n, Σx, Σx²) come from
    an unordered window over user_id: ONE shuffle of the facts, each
    event compared to its own partition's moments in the same pass — no
    second stats relation to join back (a groupBy+join would either
    broadcast |users| rows — not broadcast-sized at 100 TB — or pay a
    second shuffle).
    """
    events = load_table(spark, sf_dir, "events")
    c = events.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("user_id")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("cents").over(w)
    sxx = F.sum(F.col("cents") * F.col("cents")).over(w)
    stats = c.select("event_id", "user_id", "event_type", "ts", "cents",
                     n.alias("n"), sx.alias("sx"), sxx.alias("sxx"))
    dev = F.col("cents") * F.col("n") - F.col("sx")
    m2 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        stats.filter((F.col("n") >= 2) & (dev * dev > 9 * m2))
        .select("event_id", "user_id", "event_type", "ts")
    )


@query(
    "e_interpolate_daily_user",
    oracle=f"""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds
    ), users AS (
      SELECT DISTINCT user_id FROM events
    ), grid AS (
      SELECT user_id, day FROM users CROSS JOIN spine
    ), daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, {o_dsum('value')} AS v
      FROM events GROUP BY 1, 2
    ), filled AS (
      SELECT g.user_id, g.day, d.v,
             last_value(d.v IGNORE NULLS) OVER w_past AS prev_v,
             last_value(CASE WHEN d.v IS NOT NULL THEN g.day END IGNORE NULLS)
               OVER w_past AS prev_day,
             first_value(d.v IGNORE NULLS) OVER w_future AS next_v,
             first_value(CASE WHEN d.v IS NOT NULL THEN g.day END IGNORE NULLS)
               OVER w_future AS next_day
      FROM grid g LEFT JOIN daily d USING (user_id, day)
      WINDOW
        w_past AS (PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_future AS (PARTITION BY g.user_id ORDER BY g.day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day, (v IS NOT NULL) AS observed,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             ELSE prev_v + (next_v - prev_v)
                  * (CAST(day - prev_day AS DOUBLE)
                     / CAST(next_day - prev_day AS DOUBLE))
           END AS v_interp
    FROM filled
    """,
    tags=("timeseries", "interpolate"),
)
def e_interpolate_daily_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of per-user daily value over a dense date
    spine: observed days keep their exact daily sum, interior gaps get
    the lerp between the nearest observed neighbors, and edge gaps
    extend the nearest value — the gap-repair step feeding per-entity
    models, one notch past e_resample_daily_fill's forward-fill.

    Plan: generated spine × distinct users (never collected), left join
    the daily rollup, then TWO bounded windows per user (past for
    prev/prev-day, future for next/next-day) — the window key is
    user_id, so state per partition is one user's days and the shape
    scales horizontally with entity count, never with corpus length.

    Determinism: daily sums are exact decimal→double; the lerp is the
    identical single-op sequence in both engines — (next−prev) double
    subtraction, int-day ratio divided as double, one multiply, one
    add — so results are bit-identical.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"))
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(spine))
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(dsum("value", "v"))
    joined = grid.join(daily, ["user_id", "day"], "left_outer")
    w_past = (
        W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_future = (
        W.partitionBy("user_id").orderBy("day").rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    filled = joined.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_past).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(w_past).alias("prev_day"),
        F.first("v", ignorenulls=True).over(w_future).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(w_future).alias("next_day"),
    )
    lerp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.datediff("day", "prev_day").cast("double")
        / F.datediff("next_day", "prev_day").cast("double")
    )
    return filled.select(
        "user_id",
        "day",
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(lerp)
        .alias("v_interp"),
    )


@query(
    "e_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ), cusum AS (
      SELECT d.event_type, d.day, d.c,
             CAST(sum(t.n_days * d.c) OVER w
                  - row_number() OVER w * t.s AS BIGINT) AS cusum_scaled
      FROM daily d JOIN tot t USING (event_type)
      WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day AS change_day, CAST(c AS BIGINT) AS day_count,
           cusum_scaled,
           CAST(abs(cusum_scaled) AS DOUBLE) / (SELECT max(s * n_days)
             FROM tot t2 WHERE t2.event_type = cusum.event_type)
             AS cusum_norm
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY event_type
        ORDER BY abs(cusum_scaled) DESC, day
      ) AS rnk
      FROM cusum
    ) cusum
    WHERE rnk = 1
    """,
    tags=("timeseries", "changepoint"),
)
def e_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint detection over daily event counts: for
    each event type, the day where the cumulative deviation from the
    mean daily rate is largest — the classic level-shift detector.

    Exactness trick: the textbook CUSUM_k = Σ_{i≤k}(c_i − S/N) needs a
    float mean whose running float sum is summation-order-sensitive;
    scaling by N gives CUSUM_k·N = Σ_{i≤k} N·c_i − k·S — ALL integer,
    so the running sum is exact in any order and both engines agree
    bit-for-bit. One normalizing double division at the end.

    Plan: daily rollup (map-side combined), per-type totals joined back
    broadcast-small, one bounded per-type ordered window for the
    running sum, one rank window for the argmax — state per partition
    is one type's days.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("c"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wo = W.partitionBy("event_type").orderBy("day")
    cusum = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn(
            "cusum_scaled",
            (
                F.sum(F.col("n_days") * F.col("c")).over(w)
                - F.row_number().over(wo).cast("bigint") * F.col("s")
            ).cast("bigint"),
        )
    )
    rank_w = W.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.col("day").asc()
    )
    return (
        cusum.withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("c").cast("bigint").alias("day_count"),
            "cusum_scaled",
            (
                F.abs(F.col("cusum_scaled")).cast("double")
                / (F.col("s") * F.col("n_days"))
            ).alias("cusum_norm"),
        )
    )


@query(
    "e_hll_register_state",
    oracle="""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
      FROM events
    ), rb AS (
      SELECT day, hv % 256 AS bucket, hv // 256 AS rest FROM h
    )
    SELECT day, bucket,
           CAST(max(CASE WHEN rest = 0 THEN 53
                         ELSE 53 - length(bin(rest)) END) AS BIGINT) AS max_rho
    FROM rb GROUP BY day, bucket
    """,
    tags=("distinct", "sketch", "events"),
)
def e_hll_register_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch BUILD verified exactly: per-day register state
    (bucket = low 8 hash bits, max_rho = leading-zero rank of the
    remaining 52 bits) from an md5-derived 60-bit hash — pure integer
    math both engines compute bit-identically, unlike the estimate
    (which ``e_dau_hll_sketch`` keeps as the rows-only entry via
    Datasketches' own hashing).

    This is the mergeable-state core of the 100 TB distinct-count path:
    registers partial-aggregate map-side (max is associative), merge
    across days/partitions by element-wise max, and the final estimate
    is a driver-sized fold over 256 values. The exact register check
    here pins the build; the accuracy contract of the estimate is
    pinned in tests/test_sketch.py.
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        F.col("ts").cast("date").alias("day"),
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    rb = h.select(
        "day",
        (F.col("hv") % 256).alias("bucket"),
        F.expr("hv div 256").alias("rest"),
    )
    rho = F.when(F.col("rest") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.expr("bin(rest)"))
    )
    return rb.groupBy("day", "bucket").agg(F.max(rho).cast("bigint").alias("max_rho"))


@query(
    "e_rolling_median_7d",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, {o_dsum('value')} AS day_value
      FROM events GROUP BY 1
    )
    SELECT day, day_value,
           median(day_value) OVER (
             ORDER BY datediff('day', DATE '2024-01-01', day)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS med_7d
    FROM daily
    """,
    tags=("timeseries", "rolling", "median"),
)
def e_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling MEDIAN of daily revenue — the robust
    sibling of e_rolling_7d_revenue's rolling sum: an ordered statistic
    over a calendar RANGE frame, insensitive to single-day spikes.

    Determinism: daily values are exact decimal sums cast once to
    double; an exact median over a ≤7-value frame is order-insensitive
    (sorted multiset, midpoint average is one double op); the frame is
    keyed on an integer day index (timezone-independent, no
    86400-second-day assumption). Frame state is 7 values per
    partition — at scale, partition the window by entity/type and the
    state stays constant-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        dsum("value", "day_value")
    )
    # integer day index, not epoch seconds: the epoch cast runs through
    # the session timezone and assumes 86400-second days (DST hazard);
    # the day_idx pattern (e_rolling_7d_revenue) is tz-independent
    w = W.orderBy(
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
    ).rangeBetween(-6, 0)
    return daily.select(
        "day",
        "day_value",
        F.expr("percentile(day_value, 0.5)").over(w).alias("med_7d"),
    )
