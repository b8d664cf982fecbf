"""Structured Streaming operators over the ``events`` table.

The reference has no streaming at all (SURVEY §1.1) — this is the
extension surface. Batch twins live in ``operators/timeseries.py``; the
correctness contract is that a stream fully drained over the same input
produces the batch answer (verified by the DuckDB oracle on the batch
semantics).

Lifetime: the module keeps no state between calls. A drained result
lives as long as the DataFrame that holds it (its analyzed plan owns the
memory sink's rows; no temp view outlives the drain). The
``st_upsert_stream`` target lives in the application's temp dir, so it
lives as long as the application: Spark deletes it on stop.

Scale notes:
- ``withWatermark`` bounds state: at 100 TB/day ingest the hourly window
  state is (hours retained × groups), not row count.
- ``complete`` output mode is used only for the finite drain here; a
  production sink would use append + watermark with foreachBatch.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_fal_spark.functions.numeric import dec, o_dsum
from dbt_fal_spark.registry import query

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# Legacy shape: ts as raw int64 (parquet TIMESTAMP(NANOS) has no Spark
# type; an explicit long schema reads its raw nanos without any conf).
# Kept importable for tests that stage their own int64-ns files.
EVENTS_SCHEMA = _events_schema(T.LongType())


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events parquet.

    FileStreamSource cannot infer schemas, so probe the parquet footer
    (driver-side metadata read, no data IO) and match the writer's
    physical type: TIMESTAMP(NANOS) reads as raw long through the
    explicit long schema (no session conf is touched) and truncates to
    micros like the batch path in sources/readers.py; micro/milli
    timestamps read natively as TIMESTAMP."""
    import pyarrow.parquet as pq

    ts_physical = str(pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type)
    # tz-adjusted nanos stringify as "timestamp[ns, tz=UTC]" — prefix
    # match so they also take the legacy nanos-as-long path.
    nanos = ts_physical.startswith("timestamp[ns") or ts_physical == "int64"
    schema = _events_schema(T.LongType() if nanos else T.TimestampType())
    # FileStreamSource requires a directory; glob-filter to the events file
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def hourly_windowed_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window + watermark — the canonical streaming agg."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_stream_to_completion(result: DataFrame, mode: str = "complete") -> DataFrame:
    """Drain a finite stream synchronously via a memory sink; returns the
    materialized result as a batch DataFrame.

    The sink's temp view is dropped before returning: the returned
    DataFrame's analyzed plan already holds the sink's rows, so they live
    exactly as long as the caller keeps the DataFrame, and repeated or
    concurrent drains leave nothing behind in the session catalog."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    spark = result.sparkSession
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


@query(
    "st_hourly_stream",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           count(*) AS n_events,
           {o_dsum('value')} AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("streaming", "window"),
)
def st_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly rollup drained to completion — must equal the
    batch tumbling-window oracle (stream/batch unification check)."""
    events = read_events_stream(spark, sf_dir)
    return run_stream_to_completion(hourly_windowed_agg(events))


# ---------------------------------------------------------------------------
# Session windows (built-in) and custom state (applyInPandasWithState)
# ---------------------------------------------------------------------------

SESSION_GAP_SEC = 1800  # must match operators/timeseries.py batch twin


@query(
    "st_session_stream",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) >= {SESSION_GAP_SEC}
                     THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT *, CAST(sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           count(*) AS n_events,
           {o_dsum('value')} AS session_value
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "session"),
)
def st_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap sessionization with the BUILT-IN session_window:
    windows extend to last_event + gap and merge while they overlap, so
    an event exactly `gap` after the previous one opens a NEW session —
    hence the oracle's `>=` (the batch twin e_sessionize uses `>`; the
    boundary case never fires on this data but the contract is spelled
    out). State per key is bounded by the watermark; sessions close and
    leave state as event time passes. The scale path for 100 TB/day
    clickstreams — no per-user full history is ever held."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", f"{SESSION_GAP_SEC} seconds"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    return run_stream_to_completion(agg)


@query(
    "st_user_totals_stateful",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           {o_dsum('value')} AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def st_user_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, decimal-cents total) kept in GroupState and
    re-emitted as a cumulative update each microbatch; the drained result
    takes each user's final update (max n_events), so correctness does
    not depend on how the source slices microbatches. The template for
    operators Spark lacks natively (CEP, per-entity model state, custom
    eviction) — state is per-key and O(1), the 100 TB path.

    Value totals ride as integer cents (round(value*100)) inside state —
    exact, associative — and divide by 100 in double once at the end,
    matching the decimal oracle bit-for-bit.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
    )

    def update_totals(key, pdfs, state: GroupState):
        # nested helpers only — executors can't import dbt_fal_spark
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # value is dollars.cents exactly representable ×100 in int64
            cents += int(round(pdf["value"].mul(100).round().sum())) if len(pdf) else 0
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "cents": [cents]})

    updates = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = run_stream_to_completion(updates, mode="update")
    final = (
        drained
        .groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "cents"), "n_events").alias("s"))
    )
    return final.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        (F.col("s.cents").cast("double") / 100.0).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment join and watermarked streaming dedup
# ---------------------------------------------------------------------------

@query(
    "st_enriched_stream",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           c_mktsegment AS segment,
           count(*) AS n_events,
           {o_dsum('value')} AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY date_trunc('day', ts), c_mktsegment
    """,
    tags=("streaming", "join"),
)
def st_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static customer
    dimension (re-read and broadcast per microbatch — the standard
    pattern for slowly-changing dims), then aggregates a daily tumbling
    window per market segment. Must equal the batch join+rollup oracle.

    At 100 TB/day the static side stays broadcast-sized (it's a
    dimension); only the windowed agg keeps state, bounded by the
    watermark to (days retained × segments) groups.
    """
    from dbt_fal_spark.sources.readers import load_table

    events = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        events.withWatermark("ts", "2 hours")
        .join(F.broadcast(cust), events.user_id == cust.c_custkey)
        .groupBy(F.window("ts", "1 day"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            # DuckDB date_trunc('day') yields DATE — match it
            F.col("window.start").cast("date").alias("day"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "total_value",
        )
    )
    return run_stream_to_completion(agg)


def _purchase_click_pairs(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The stream-stream interval join the three join entries drain:
    purchases join the same user's clicks of the preceding 30 minutes,
    each side under a 2-hour watermark; ``how`` is the join type."""

    def side(event_type: str, p: str) -> DataFrame:
        return (
            read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{p}_event_id"),
                F.col("user_id").alias(f"{p}_user_id"),
                F.col("ts").alias(f"{p}_ts"),
            )
            .withWatermark(f"{p}_ts", "2 hours")
        )

    return side("purchase", "p").join(
        side("click", "c"),
        F.expr(
            "p_user_id = c_user_id"
            " AND c_ts >= p_ts - INTERVAL 30 minutes"
            " AND c_ts <= p_ts"
        ),
        how,
    )


def _drain_cut(spark: SparkSession, sf_dir: str):
    """least(max purchase ts, max click ts) − 3 h: the outer joins count
    only rows at or before it, strictly inside the region both
    watermarks have evicted at the end of a finite drain."""
    from dbt_fal_spark.sources.readers import load_table

    return (
        load_table(spark, sf_dir, "events")
        .agg(
            (
                F.least(
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                )
                - F.expr("INTERVAL 3 hours")
            ).alias("c")
        )
        .collect()[0]["c"]
    )


@query(
    "st_interval_join_stream",
    oracle="""
    SELECT p.user_id,
           count(*) AS n_pairs,
           count(DISTINCT p.event_id) AS n_attributed_purchases
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts <= p.ts
    GROUP BY p.user_id
    """,
    tags=("streaming", "join", "interval"),
)
def st_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: purchases join clicks of the same
    user within the preceding 30 minutes — click-to-purchase attribution
    as both sides flow. Watermarks on BOTH sides plus the time-range
    predicate are what make the state finite: each side buffers only rows
    inside (watermark − range), so at 100 TB/day the join state is the
    30-minute window's traffic, never history. The joined pairs drain in
    append mode; the per-user rollup happens on the materialized result
    (chaining a second stateful aggregate after a stream-stream join is
    the documented restriction this sidesteps). Must equal the batch
    self-join oracle."""
    pairs = _purchase_click_pairs(spark, sf_dir, "inner")
    drained = run_stream_to_completion(pairs, mode="append")
    return drained.groupBy(F.col("p_user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("p_event_id").alias("n_attributed_purchases"),
    )


@query(
    "st_dedup_stream",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
)
def st_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates on (user_id, event_type)
    keeps the first occurrence seen across microbatches (dedup state per
    key), and the downstream count becomes distinct-users-per-type —
    deterministic even though WHICH duplicate survives is not, because
    only the key columns flow on. The oracle is the batch COUNT(DISTINCT).

    With a watermark the dedup state evicts keys older than the horizon
    (dropDuplicatesWithinWatermark is the at-scale variant when exact
    cross-time uniqueness isn't required); here the finite drain keeps
    full state, bounded by |users × types|, not row count.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return run_stream_to_completion(agg)


@query(
    "st_dedup_within_watermark_stream",
    oracle="""
    SELECT event_type, count(*) AS n_keys
    FROM (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
      FROM events
    )
    GROUP BY event_type
    """,
    tags=("streaming", "dedup", "watermark"),
)
def st_dedup_within_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state — dropDuplicatesWithinWatermark,
    the at-scale variant st_dedup_stream's plain dropDuplicates is not:
    a key's dedup state is EVICTED once the watermark passes its event
    time + delay, so state is (keys per 2-hour horizon), not (all keys
    ever seen) — the only dedup shape that survives an unbounded
    100 TB/day stream where cumulative key cardinality has no ceiling.

    The price is the weaker contract: dedup is guaranteed only within
    the delay threshold of the FIRST occurrence (the state TTL is
    first-occurrence event time + delay, NOT extended by suppressed
    duplicates; a re-occurrence after eviction re-emits — both
    demonstrated across microbatches in
    tests/test_streaming_watermark.py). The entry makes that contract
    EXACT rather than approximate by putting the event-time hour in the
    dedup key: every duplicate of (user, type, hour) is < 1 h after the
    key's first occurrence, strictly inside the 2 h delay, so
    bounded-state dedup equals batch DISTINCT and the DuckDB oracle is
    precise.

    That exactness additionally assumes the WHOLE source lands in ONE
    microbatch (ADVICE r10): with multiple files or maxFilesPerTrigger,
    a key's first occurrence could arrive in a later batch AFTER the
    watermark already passed its event time, be dropped as late, and
    diverge from the oracle. Holds here by construction — the source is
    the single `events.parquet` glob under availableNow with no
    per-file trigger option; a multi-file deployment keeps only the
    within-delay dedup contract, not batch-DISTINCT equality. Deduped
    rows emit immediately (append mode), drain to a sink, and the
    per-type rollup runs on the materialized result — same
    post-aggregation shape as the stream-stream joins."""
    events = read_events_stream(spark, sf_dir)
    deduped = (
        events.select("user_id", "event_type", "ts")
        .withColumn("hr", F.date_trunc("hour", F.col("ts")))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hr"])
    )
    return (
        run_stream_to_completion(deduped, mode="append")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


def drain_upserts(images: DataFrame) -> str | None:
    """Drain an ``update``-mode stream of per-key row images into a
    copy-on-write parquet target keyed on ``user_id``: each microbatch
    full-outer merges onto the previous version (the delta row wins),
    writes the next version and removes the one it superseded. Returns
    the final version's path, or None when no batch ran.

    The versions live under the application's temp dir
    (``SparkFiles.getRootDirectory()``), which Spark deletes when the
    application stops — so the target lives as long as the application,
    and a DataFrame read from an earlier call stays readable. That dir
    is local to the driver: local mode only."""
    from pyspark import SparkFiles

    workdir = tempfile.mkdtemp(prefix="st_upsert_", dir=SparkFiles.getRootDirectory())
    final: str | None = None

    def upsert(batch_df, batch_id: int) -> None:
        nonlocal final
        delta = batch_df.select("user_id", "n_events", "cents")
        if final:
            prev = batch_df.sparkSession.read.parquet(final).alias("t")
            d = delta.alias("d")
            # upsert: the delta row image replaces the target row
            delta = prev.join(d, F.col("t.user_id") == F.col("d.user_id"), "full_outer").select(
                F.coalesce(F.col("d.user_id"), F.col("t.user_id")).alias("user_id"),
                F.coalesce(F.col("d.n_events"), F.col("t.n_events")).alias("n_events"),
                F.coalesce(F.col("d.cents"), F.col("t.cents")).alias("cents"),
            )
        out = f"{workdir}/v{batch_id}"
        delta.write.mode("overwrite").parquet(out)
        if final:
            shutil.rmtree(final, ignore_errors=True)
        final = out

    q = (
        images.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return final


@query(
    "st_upsert_stream",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           {o_dsum('value')} AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "upsert", "foreachBatch"),
)
def st_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert sink — the foreachBatch CDC pattern every
    production pipeline ends in: ``update`` output mode hands each
    microbatch the keys whose aggregate CHANGED (with their new
    cumulative values — row images), and foreachBatch upserts them into
    a persistent target (``drain_upserts``). The drained target must
    equal the batch aggregate no matter how the source slices
    microbatches, because each row image is already cumulative. On a
    lakehouse the merge body is one MERGE INTO (Delta/Iceberg); the
    copy-on-write version directories here are the plain-parquet
    rendition, final version = the table, read back distributed (it
    never rides through the driver). State lives in the stream's agg
    store; the target's exactly-once is the sink's transactionality
    (file-sink variant tested in tests/test_streaming_checkpoint.py).

    Totals ride as integer cents (round(value·100), exact in int64), so
    the final double division matches the decimal oracle bit-for-bit.
    """
    events = read_events_stream(spark, sf_dir)
    images = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    final = drain_upserts(images)
    if final is None:
        return spark.createDataFrame([], "user_id long, n_events long, total_value double")
    return spark.read.parquet(final).select(
        "user_id",
        "n_events",
        (F.col("cents").cast("double") / 100.0).alias("total_value"),
    )


@query(
    "st_left_outer_interval_stream",
    oracle="""
    WITH cut AS (
      SELECT least(
               max(CASE WHEN event_type = 'purchase' THEN ts END),
               max(CASE WHEN event_type = 'click' THEN ts END)
             ) - INTERVAL 3 HOUR AS c
      FROM events
    )
    SELECT p.user_id,
           count(DISTINCT p.event_id) AS n_purchases,
           count(DISTINCT CASE WHEN c.event_id IS NOT NULL
                               THEN p.event_id END) AS n_matched_purchases,
           CAST(count(DISTINCT p.event_id)
                - count(DISTINCT CASE WHEN c.event_id IS NOT NULL
                                      THEN p.event_id END) AS BIGINT)
             AS n_unmatched_purchases
    FROM events p
    LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts <= p.ts
    CROSS JOIN cut
    WHERE p.event_type = 'purchase' AND p.ts <= cut.c
    GROUP BY p.user_id
    """,
    tags=("streaming", "join", "interval", "outer"),
)
def st_left_outer_interval_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER interval join: every purchase emits,
    matched to preceding-30-minute clicks where they exist, with NULLs
    where they don't. The outer side is the part plain inner interval
    joins can't express: a purchase row may only produce its null-match
    once the click watermark has passed its window (no later click can
    ever match), so the emission itself IS the state-eviction proof —
    at 100 TB/day the buffered state stays bounded by the
    watermark + 30-minute range exactly as in the inner join.

    Determinism at the drain boundary: a purchase emits its null-match
    only once the GLOBAL watermark — min over both sides of (that
    side's max event time − 2 h delay), because each stream tracks its
    own watermark column — passes its timestamp; later rows never emit
    in a finite run. BOTH engines therefore restrict to purchases at
    least 3 h before least(max purchase ts, max click ts) — strictly
    inside the evicted region, making boundary semantics irrelevant.
    """
    pairs = _purchase_click_pairs(spark, sf_dir, "leftOuter")
    drained = run_stream_to_completion(pairs, mode="append")
    cut = _drain_cut(spark, sf_dir)
    return (
        drained.filter(F.col("p_ts") <= F.lit(cut))
        .groupBy(F.col("p_user_id").alias("user_id"))
        .agg(
            F.countDistinct("p_event_id").alias("n_purchases"),
            F.countDistinct(
                F.when(F.col("c_event_id").isNotNull(), F.col("p_event_id"))
            ).alias("n_matched_purchases"),
            (
                F.countDistinct("p_event_id")
                - F.countDistinct(
                    F.when(F.col("c_event_id").isNotNull(), F.col("p_event_id"))
                )
            ).cast("bigint").alias("n_unmatched_purchases"),
        )
    )


@query(
    "st_full_outer_interval_stream",
    oracle="""
    WITH cut AS (
      SELECT least(
               max(CASE WHEN event_type = 'purchase' THEN ts END),
               max(CASE WHEN event_type = 'click' THEN ts END)
             ) - INTERVAL 3 HOUR AS c
      FROM events
    ),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    j AS (
      SELECT p.event_id AS p_event_id, p.user_id AS p_user_id, p.ts AS p_ts,
             c.event_id AS c_event_id, c.user_id AS c_user_id, c.ts AS c_ts
      FROM p FULL JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 30 MINUTE
       AND c.ts <= p.ts
    )
    SELECT coalesce(p_user_id, c_user_id) AS user_id,
           count(DISTINCT CASE WHEN p_ts <= cut.c THEN p_event_id END)
             AS n_purchases,
           count(DISTINCT CASE WHEN p_ts <= cut.c AND c_event_id IS NOT NULL
                               THEN p_event_id END) AS n_matched_purchases,
           count(DISTINCT CASE WHEN c_ts <= cut.c THEN c_event_id END)
             AS n_clicks,
           count(DISTINCT CASE WHEN c_ts <= cut.c AND p_event_id IS NOT NULL
                               THEN c_event_id END) AS n_matched_clicks
    FROM j CROSS JOIN cut
    GROUP BY coalesce(p_user_id, c_user_id)
    HAVING count(DISTINCT CASE WHEN p_ts <= cut.c THEN p_event_id END)
         + count(DISTINCT CASE WHEN c_ts <= cut.c THEN c_event_id END) > 0
    """,
    tags=("streaming", "join", "interval", "outer", "full"),
)
def st_full_outer_interval_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM FULL OUTER interval join — the remaining outer
    mode next to st_interval_join_stream (inner) and
    st_left_outer_interval_stream: unmatched PURCHASES null-emit once
    the click watermark passes their window, unmatched CLICKS null-emit
    once the purchase watermark passes theirs, and Spark buffers both
    sides bounded by watermark + the 30-minute range.

    Drain-boundary determinism is subtler than LEFT OUTER because BOTH
    null-emission directions are watermark-gated while matched pairs
    emit eagerly under availableNow. So both engines aggregate the SAME
    row-level predicates over the full join: a side's events count only
    when its timestamp is ≤ cut = least(max purchase ts, max click ts)
    − 3 h — strictly inside the evicted region on both sides (click
    watermark ≥ cut + 1 h > any counted purchase's window end; purchase
    watermark ≥ cut + 1 h > any counted click's window end + 30 min) —
    and all-zero groups are dropped (a late unmatched row's null-emit
    may or may not have fired at the finite drain boundary; its counts
    are zero either way, so the group filter makes the row set
    irrelevant)."""
    pairs = _purchase_click_pairs(spark, sf_dir, "fullOuter")
    drained = run_stream_to_completion(pairs, mode="append")
    cut = _drain_cut(spark, sf_dir)
    p_in = F.col("p_ts") <= F.lit(cut)
    c_in = F.col("c_ts") <= F.lit(cut)
    agg = (
        drained.groupBy(
            F.coalesce("p_user_id", "c_user_id").alias("user_id")
        )
        .agg(
            F.countDistinct(F.when(p_in, F.col("p_event_id"))).alias("n_purchases"),
            F.countDistinct(
                F.when(p_in & F.col("c_event_id").isNotNull(), F.col("p_event_id"))
            ).alias("n_matched_purchases"),
            F.countDistinct(F.when(c_in, F.col("c_event_id"))).alias("n_clicks"),
            F.countDistinct(
                F.when(c_in & F.col("p_event_id").isNotNull(), F.col("c_event_id"))
            ).alias("n_matched_clicks"),
        )
        .filter((F.col("n_purchases") + F.col("n_clicks")) > 0)
    )
    return agg
