"""Benchmark harness: times the composite query set at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS], paired with
the DuckDB oracle in the same process, and prints JSON lines whose LAST
line is the benchmark record: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ..., "raw_ratio": ...}.

Each query is timed as: build the lazy plan + run its full executed plan
(`_full_result`), the work `toPandas()` does minus the row transfer. A
`.count()` would let Catalyst prune projections, windows and Python UDF
stages that `toPandas()` does run.

The query set is defined here: the composite = HEADLINE + the
d_/s_/t_/e_/m_ sweep − SKIP; oracled entries outside it (the remaining
q_*/q##/st_* family) rotate through a per-round ROTATE_N-entry timing
slice reported on a separate `rotating_coverage` JSON line, excluded
from the composite and the ratios so round-over-round composites
compare like-for-like.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbt_fal_spark.registry import all_queries
from dbt_fal_spark.session import get_spark

FLOOR_DIR = "/root/testdata/sf0.001"

# Headline set: the scale-critical relational queries + one per extension
# family. Kept explicit so bench timings are stable as the registry grows.
HEADLINE = [
    "q01_pricing_summary",
    "q03_topk_order_revenue",
    "q05_region_nation_revenue",
    "q06_filtered_revenue",
    "q11_important_parts",
    "q12_latency_priority_pivot",
    "q20_part_promotion_suppliers",
    "q21_suppliers_kept_waiting",
    "q_orders_daily_pivot",
    "q_customer_order_stats",
    "q_topk_orders_per_segment",
    "q_customer_running_total",
    "q_priority_distinct_customers",
    "q_region_rollup_revenue",
    # one entry for the batch-inference family (iterator pandas_udf);
    # p_ prefix is not swept so it is listed explicitly
    "p_sentiment_batch_inference",
]

# the packing pair is excluded from BOTH timing sides: the oracle is a
# row-recursive CTE whose sf0.1 cost (~7 s) is a DuckDB implementation
# artifact, not comparable work — pairing it would flatter the engine.
# (Both stay fully oracle-checked at the sf0.01 correctness gate.)
SKIP = frozenset({"t_pack_sequences", "t_pack_emit"})

# extension families swept into the composite (sorted for stability)
SWEEP_PREFIXES = ("d_", "s_", "t_", "e_", "m_")

# rotating wall-time coverage: entries outside the composite get
# ROTATE_N timing slots per round on a separate JSON line
ROTATE_N = 12


def composite_names(specs) -> list[str]:
    """The per-round composite timing set: HEADLINE entries present in
    the registry, then every oracled d_/s_/t_/e_/m_ entry not already
    listed and not skipped (sorted). specs = registry.all_queries()."""
    names = [n for n in HEADLINE if n in specs]
    for name in sorted(specs):
        if (
            name not in names
            and name not in SKIP
            and specs[name].oracle is not None
            and name.startswith(SWEEP_PREFIXES)
        ):
            names.append(name)
    return names


def rotate_pool(specs) -> list[str]:
    """Every oracled registry entry with no composite slot — the pool
    the per-round rotating slice cycles through."""
    composite = set(composite_names(specs))
    return sorted(
        n
        for n in specs
        if n not in composite and n not in SKIP and specs[n].oracle is not None
    )


def _current_round() -> int:
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json"))
        if (m := re.match(r"BENCH_r(\d+)\.json$", os.path.basename(p)))
    ]
    return (max(rounds) + 1) if rounds else 0


def _rotating_slice(pool: list[str]) -> list[str]:
    n = int(os.environ.get("SPARK_GRAFT_BENCH_ROTATE", str(ROTATE_N)))
    if n <= 0 or not pool:
        return []
    start = (_current_round() * n) % len(pool)
    doubled = pool + pool
    return doubled[start : start + min(n, len(pool))]


def _oracle_connection(sf_dir: str):
    import duckdb

    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _oracle_pass(con, names, specs, runs: int = 1) -> dict[str, float]:
    """One DuckDB pass: each query `runs` times back-to-back (min), so
    the oracle side gets the SAME per-pass sample count as the engine —
    asymmetric sampling would bias the ratio in the engine's favor under
    host noise."""
    out: dict[str, float] = {}
    for name in names:
        sql = specs[name].oracle
        if not sql:
            continue
        best = None
        for _ in range(max(1, runs)):
            t0 = time.time()
            con.execute(sql).fetchall()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        out[name] = best
    return out


def _oracle_timings(names, specs, sf_dir: str, runs: int = 3) -> dict[str, float]:
    """DuckDB oracle timings on a fresh warm connection, min-of-`runs`."""
    con = _oracle_connection(sf_dir)
    _oracle_pass(con, names, specs)  # warm
    best: dict[str, float] = {}
    for _ in range(runs):
        for name, dt in _oracle_pass(con, names, specs).items():
            if name not in best or dt < best[name]:
                best[name] = dt
    con.close()
    return {n: round(v, 3) for n, v in best.items()}


def _full_result(df) -> int:
    """Run `df`'s own executed plan to completion without moving rows to
    Python. Unlike `df.count()`, Catalyst cannot prune columns, windows
    or UDFs that `toPandas()` computes."""
    return int(df._jdf.queryExecution().toRdd().count())


def _time_engine(spark, jvm_gc, fn, sf_dir: str, runs: int) -> float:
    """min-of-`runs` back-to-back wall for one query: full GC between
    runs (the PREVIOUS query's collection pauses land outside the timed
    region; the ContextCleaner reaps dereferenced broadcasts), cache
    cleared after each run (operators persist() multi-consumer
    intermediates for their own query's duration — compounding them
    across runs would build memory pressure)."""
    best = None
    for _ in range(max(1, runs)):
        jvm_gc()
        t0 = time.time()
        _full_result(fn(spark, sf_dir))
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
        spark.catalog.clearCache()
    return best


def _engine_pass(
    spark, jvm_gc, specs, names, sf_dir, runs_per_pass, broken, failures
) -> dict[str, float]:
    """One full engine pass over `names` (skipping queries already
    marked broken — one broken query must not zero the whole record)."""
    epass: dict[str, float] = {}
    for name in names:
        if name in broken:
            continue
        try:
            epass[name] = _time_engine(
                spark, jvm_gc, specs[name].fn, sf_dir, runs_per_pass
            )
        except Exception as exc:  # noqa: BLE001 — report it, keep timing
            failures[name] = f"{type(exc).__name__}: {exc}"[:300]
            broken.add(name)
            spark.catalog.clearCache()
    return epass


def _aggregate(names, engine_passes, oracle_passes):
    """Per-query minima across passes; totals over queries present in
    ALL engine passes (a mid-bench failure must not skew pass totals)."""
    ok_names = [n for n in names if all(n in p for p in engine_passes)]
    timings = {n: round(min(p[n] for p in engine_passes), 3) for n in ok_names}
    oracle_timings = {}
    if oracle_passes:
        oracle_timings = {
            n: round(min(p[n] for p in oracle_passes), 3)
            for n in ok_names
            if all(n in p for p in oracle_passes)
        }
    engine_pass_totals = [
        round(sum(p[n] for n in ok_names), 3) for p in engine_passes
    ]
    oracle_pass_totals = [
        round(sum(p[n] for n in oracle_timings), 3) for p in oracle_passes
    ]
    return timings, oracle_timings, engine_pass_totals, oracle_pass_totals


def _engine_floor(spark, jvm_gc, specs, names, runs: int = 2) -> float:
    """Sum of per-query sf0.001 walls — the per-query fixed cost
    (scheduling floor locally, absent at cluster scale). min-of-2
    suffices for a fixed-cost estimate; queries are already warm."""
    total = 0.0
    for name in names:
        total += _time_engine(spark, jvm_gc, specs[name].fn, FLOOR_DIR, runs)
    return total


def _paired_ratios(
    spark, jvm_gc, specs, engine_timings, oracle_timings, sf_dir: str
) -> dict:
    """raw_ratio = paired engine/oracle minima-composite totals at
    sf_dir; floor_adjusted_ratio subtracts each side's sf0.001 totals
    so the ratio reflects per-row data work."""
    paired = [n for n in engine_timings if n in oracle_timings]
    eng_total = sum(engine_timings[n] for n in paired)
    ora_total = sum(oracle_timings[n] for n in paired)
    out = {
        "n_paired": len(paired),
        "oracle_total_sec": round(ora_total, 3),
        "raw_ratio": round(eng_total / ora_total, 3) if ora_total else None,
        "floor_adjusted_ratio": None,
    }
    if os.path.isdir(FLOOR_DIR) and os.path.abspath(sf_dir) != os.path.abspath(FLOOR_DIR):
        eng_floor = _engine_floor(spark, jvm_gc, specs, paired)
        ora_floor = sum(_oracle_timings(paired, specs, FLOOR_DIR, runs=2).values())
        out["engine_floor_sec"] = round(eng_floor, 3)
        out["oracle_floor_sec"] = round(ora_floor, 3)
        adj_num, adj_den = eng_total - eng_floor, ora_total - ora_floor
        if adj_num > 0 and adj_den > 0:
            out["floor_adjusted_ratio"] = round(adj_num / adj_den, 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    specs = all_queries()
    names = composite_names(specs)
    rotating = _rotating_slice(rotate_pool(specs))

    # Warm-up: run every query once at the smallest SF so JVM class
    # loading + whole-stage-codegen compilation happen outside the timed
    # region — the timings below are steady-state throughput, which is
    # what matters for a long-lived engine.
    if os.path.isdir(FLOOR_DIR):
        for name in names + rotating:
            try:
                _full_result(specs[name].fn(spark, FLOOR_DIR))
            except Exception:
                pass
        spark.catalog.clearCache()

    # Interleaved-pass protocol: N full engine-then-oracle PASSES, each
    # running every query once. Host noise that lands in one pass hits
    # both sides comparably instead of whichever side happened to be
    # running; the primary artifact is the sum-of-per-query-MINIMA
    # composite for BOTH sides, and the per-pass totals expose the
    # spread in the same JSON line.
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    # within a pass each query is timed as min of K back-to-back runs:
    # the 2nd consecutive run is the steady-state number (JIT + caches
    # hot for THIS query); the cross-PASS minima then absorb host-noise
    # windows.
    runs_per_pass = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_PER_PASS", "2")))
    paired_on = os.environ.get("SPARK_GRAFT_BENCH_PAIRED", "1") != "0"
    failures: dict[str, str] = {}
    broken: set[str] = set()
    engine_passes: list[dict[str, float]] = []
    oracle_passes: list[dict[str, float]] = []
    jvm_gc = spark.sparkContext._jvm.System.gc
    ora_con = None
    if paired_on:
        try:
            ora_con = _oracle_connection(sf_dir)
            _oracle_pass(ora_con, names, specs)  # warm (page cache, plans)
        except Exception as exc:  # noqa: BLE001 — ratios are additive info
            failures["__oracle__"] = f"{type(exc).__name__}: {exc}"[:200]
            ora_con = None

    for _ in range(n_passes):
        engine_passes.append(
            _engine_pass(
                spark, jvm_gc, specs, names, sf_dir, runs_per_pass, broken, failures
            )
        )
        if ora_con is not None:
            # same per-pass sample count as the engine side; skip queries
            # the engine gave up on (their timings would be discarded);
            # one transient DuckDB error must not lose the engine record —
            # degrade to an engine-only bench
            try:
                oracle_passes.append(
                    _oracle_pass(
                        ora_con,
                        [n for n in names if n not in broken],
                        specs,
                        runs=runs_per_pass,
                    )
                )
            except Exception as exc:  # noqa: BLE001
                failures["__oracle__"] = f"{type(exc).__name__}: {exc}"[:200]
                oracle_passes.clear()
                try:
                    ora_con.close()
                finally:
                    ora_con = None
    timings, oracle_timings, engine_pass_totals, oracle_pass_totals = _aggregate(
        names, engine_passes, oracle_passes
    )
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "oracle_queries": oracle_timings,
                "failures": failures,
                "sf": sf,
            }
        )
    )

    # The driver records only the LAST 2000 chars of output; the full
    # line above outgrew that window in r4 and its head (the total) was
    # cut off. Emit a compact self-sufficient summary so the tail always
    # parses to the totals — FIRST without ratios (failsafe: if the
    # paired phase below is killed by a harness timeout, this line is
    # still the last complete JSON), then again with the ratios.
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,  # sum of per-query engine minima
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        # __oracle__ is a pseudo-entry (oracle-side degradation), not an
        # engine query failure — readers of n_failures expect the latter
        "n_failures": len([k for k in failures if k != "__oracle__"]),
        "n_passes": len(engine_passes),
        # per-pass totals = the spread; the composite above is the signal
        "engine_pass_totals": engine_pass_totals,
        "oracle_pass_totals": oracle_pass_totals,
        "slowest": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5]),
    }
    print(json.dumps(compact), flush=True)

    # Rotating-coverage phase: runs AFTER the composite failsafe line is
    # out — a harness timeout mid-rotation costs only the rotation
    # evidence, never the composite. Own JSON line, kept out of the
    # compact tail so a 2000-char tail window still closes on
    # composite + ratios.
    if rotating:
        rotating_out: dict[str, dict] = {}
        rot_failures: dict[str, str] = {}
        for name in rotating:
            try:
                best = _time_engine(
                    spark, jvm_gc, specs[name].fn, sf_dir, runs_per_pass
                )
                rec = {"engine_sec": round(best, 3)}
                if ora_con is not None:
                    ob = _oracle_pass(ora_con, [name], specs, runs=runs_per_pass)[name]
                    rec["oracle_sec"] = round(ob, 3)
                rotating_out[name] = rec
            except Exception as exc:  # noqa: BLE001 — coverage evidence only
                rot_failures[name] = f"{type(exc).__name__}: {exc}"[:200]
                spark.catalog.clearCache()
        print(
            json.dumps(
                {
                    "metric": "rotating_coverage",
                    "round": _current_round(),
                    "sf": sf,
                    "rotating": rotating_out,
                    "failures": rot_failures,
                }
            ),
            flush=True,
        )
    if ora_con is not None:
        ora_con.close()

    # Paired baseline ratios: oracle minima-composite + floor adjustment,
    # in-process so the final record carries {raw_ratio,
    # floor_adjusted_ratio} without a separate artifact.
    # SPARK_GRAFT_BENCH_PAIRED=0 skips the oracle side entirely for a
    # fast engine-only run.
    ratios: dict = {}
    if oracle_timings:
        try:
            ratios = _paired_ratios(
                spark, jvm_gc, specs, timings, oracle_timings, sf_dir
            )
        except Exception as exc:  # noqa: BLE001 — ratios are additive info
            ratios = {"paired_error": f"{type(exc).__name__}: {exc}"[:200]}

    for line in tail_emission(timings, oracle_timings, sf, {**compact, **ratios}):
        print(line, flush=True)


def tail_emission(timings, oracle_timings, sf, final_payload) -> list[str]:
    """The last stdout lines, in print order (unit-locked by
    tests/test_round17_opt.py).

    Full per-query engine+oracle minima map: per-query, geomean and
    scaling reports join on a `per_query` key shaped like the rotating
    line's records. It rides its OWN JSON line, emitted just before the
    final compact line: the 83-entry map outgrows the 2000-char tail
    window, so it must never be appended to the LAST line — a
    head-truncated final line would cost the whole composite record. Values are the same cross-pass minima as the
    `queries` / `oracle_queries` keys of the full line. The final
    compact line is ALWAYS emitted last, even when the ratio phase
    produced nothing.

    The FINAL line additionally carries a size-budgeted `queries` map
    (the driver-contract key its per-query joiner reads): the driver
    parses only the LAST JSON line inside its 2000-char tail window,
    and the full 83-entry map serializes to ~2.3 KB even at two
    decimals — it cannot fit. So the final line carries the top-K
    slowest entries that keep the WHOLE serialized line under 1950
    bytes (exact sizing, deterministic time-then-name order: a strict
    top-K prefix, so round-over-round joins land on the same heavy
    entries). `queries_truncated_to_tail_budget` says the map is
    partial; the complete map rides the `per_query_timings` line above
    for readers that keep more than the 2000-char tail."""
    per_query = {
        n: (
            {"engine_sec": timings[n], "oracle_sec": oracle_timings[n]}
            if n in oracle_timings
            else {"engine_sec": timings[n]}
        )
        for n in timings
    }
    final = dict(final_payload)
    top_q: dict[str, float] = {}
    final["queries"] = top_q
    final["queries_truncated_to_tail_budget"] = True
    for n, v in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        top_q[n] = round(v, 3)
        if len(json.dumps(final)) > 1950:
            del top_q[n]
            break
    final["queries_truncated_to_tail_budget"] = len(top_q) < len(timings)
    return [
        json.dumps(
            {"metric": "per_query_timings", "sf": sf, "per_query": per_query}
        ),
        json.dumps(final),
    ]


if __name__ == "__main__":
    main()
