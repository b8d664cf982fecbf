"""dbt_fal_spark benchmark: registry queries and dbt-style flow runs.

Usage (from the repository root):

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md):

- ``queries``: pinned registry queries (batch and streaming entries), each
  timed as the ``fn(spark, data)`` call plus a full-result action.
- ``flow_rebuild``: ``FalSpark(project)``, ``.run()``, ``.test()`` on a
  seeded project, over the warehouse a first build left.

Every input comes from ``--seed``: the source tables (datagen.py) and the
project (projgen.py). Outputs are checked against DuckDB outside the timed
region. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps
each layer's public functions from outside the library and prints the
per-layer metrics. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from urllib.parse import urlparse

import datagen
import layertrace
import projgen
from speedprobe import SpeedProbe

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")

SF = 0.002  # source scale: 12k lineitem rows, 3k orders, 2k events
# Heap cap, through the session factory's own setting (its default is 16g).
# Under 16g or 2g the collector let the heap grow to whatever its timing
# suggested (0.6-3.1 GiB in use), so peak RSS varied by up to a third
# between seeds; the data a run keeps live is far smaller (README.md).
DRIVER_MEM = "768m"

# Registry entries the queries workload runs, pinned so timings stay
# comparable as the registry grows: one per operator family, five heavier
# entries (two of them plans that ``.count()`` would prune) and four light
# ones where the per-query fixed cost dominates, and one stateful stream.
# s_knn_bruteforce and a second stream, st_upsert_stream, did not fit the
# run budget.
QUERIES = [
    "q01_pricing_summary",
    "p_sentiment_batch_inference",
    "t_repetition_stats",
    "d_simhash",
    "e_sessionize",
    "q_customer_running_total",
    "q_priority_distinct_customers",
    "e_purchase_gap_stats",
    "s_text_vector_join",
]
STREAMS = [
    "st_hourly_stream",
]
WORKLOADS = ("queries", "flow_rebuild")
PROBE_WARMUP = 4
PROBES_PER_REP = 3

PER_LAYER = {
    "session.start_ms": "ms",
    "project.load_ms": "ms",
    "project.render_ms": "ms",
    "project.render_calls": "count",
    "plans.select_ms": "ms",
    "plans.ready_wait_p50_ms": "ms",
    "plans.ready_wait_p90_ms": "ms",
    "plans.concurrency": "ratio",
    "api.model_ms.sql_table": "ms",
    "api.model_ms.sql_view": "ms",
    "api.model_ms.incremental": "ms",
    "api.model_ms.python": "ms",
    "api.model_ms.pandas": "ms",
    "api.hook_ms": "ms",
    "api.test_ms": "ms",
    "api.to_pandas_ms": "ms",
    "materialize.write_ms": "ms",
    "materialize.swap_ms": "ms",
    "materialize.merge_ms": "ms",
    "materialize.bytes_written": "bytes",
    "materialize.files_written": "count",
    "materialize.write_amp": "ratio",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.rows_per_result": "ratio",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "self_ms.project": "ms",
    "self_ms.plans": "ms",
    "self_ms.api": "ms",
    "self_ms.materialize": "ms",
    "trace.overhead_s": "s",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env(work: str) -> None:
    """Keep every file the run writes (Python temp files, Spark scratch,
    JVM temp dir, warehouse) under ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, data_dir: str, **conf):
    from dbt_fal_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        sf_dir=data_dir,
        **{
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
            **conf,
        },
    )
    return spark, (time.perf_counter() - t0) * 1000


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int | None) -> tuple[float, float]:
    """Peak resident memory of this process and of the JVM, in MiB."""
    jvm = 0
    if pid:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1])
        except OSError:
            pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, jvm / 1024


def jvm_heap_live_mb(spark) -> float:
    """Heap in use right after a full collection, in MiB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def jvm_heap_peak_mb(spark) -> float:
    """Summed peak use of the JVM's heap pools, in MiB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    total = 0
    for i in range(pools.size()):
        pool = pools.get(i)
        if pool.getType().name() == "HEAP":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def other_spark_jvms(own: int | None) -> int:
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == own:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"org.apache.spark" in fh.read():
                    n += 1
        except OSError:
            pass
    return n


def cpu_times() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user ... steal), in ticks."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_frac(start: list[int], end: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(start) < 8 or len(end) < 8:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def tree_cpu_ticks() -> int:
    """CPU ticks used by this process and its live descendants (the JVM and
    its Python workers), including their waited-for children."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                text = fh.read()
        except OSError:
            continue
        fields = text[text.rindex(")") + 2:].split()
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ours, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ours += stats.get(pid, (0, 0))[1]
        todo.extend(p for p, (ppid, _) in stats.items() if ppid == pid)
    return ours


def other_cpu_frac(start: list[int], end: list[int], ours: int) -> float | None:
    """Share of the host's CPU time that processes outside this run kept
    busy in between; ``ours`` is this run's ticks over the same span."""
    if len(start) < 8 or len(end) < 8:
        return None
    delta = [b - a for a, b in zip(start, end)]
    busy = sum(delta) - delta[3] - delta[4] - delta[7]
    return max(0, busy - ours) / sum(delta) if sum(delta) else 0.0


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1)."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """0.9, or the highest quantile that still leaves 10 samples above it
    (never below the median)."""
    return max(0.5, min(0.9, 1 - 10 / n)) if n else 0.5


# ---------------------------------------------------------------------------
# queries workload
# ---------------------------------------------------------------------------


def full_result(df) -> int:
    """Run ``df``'s own executed plan to completion without moving rows to
    Python: the work ``toPandas()`` does, minus the transfer. Unlike
    ``df.count()``, Catalyst cannot prune columns, windows or UDFs."""
    return int(df._jdf.queryExecution().toRdd().count())


class QueriesWorkload:
    # each repetition is still faster than the one before (JIT), so every
    # run does the same count; three give op_p90_s 30 samples
    min_reps = 3

    def __init__(self, args, work: str, data_dir: str) -> None:
        self.args = args
        self.data_dir = data_dir
        self.names = QUERIES + STREAMS
        self.expected_rows: dict[str, int] = {}
        self.failed = 0
        self.attempted = 0

    def setup(self, spark, tracer: layertrace.Tracer) -> None:
        """Warm-up pass that is also the correctness check: each entry's
        ``toPandas()`` result against its DuckDB oracle, compared the way
        tools/check.py does."""
        import duckdb
        from check import pandas_rows, rows_close, table_digest

        from dbt_fal_spark.registry import all_queries
        from dbt_fal_spark.sources.readers import TESTDATA_TABLES

        self.spark = spark
        self.specs = all_queries()
        missing = [n for n in self.names if n not in self.specs]
        if missing:
            raise RuntimeError(f"pinned queries missing from the registry: {missing}")
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        for name in self.names:
            self.attempted += 1
            try:
                sdf = self.specs[name].fn(spark, self.data_dir)
                scols, srows = sdf.columns, pandas_rows(sdf.toPandas())
                res = con.execute(self.specs[name].oracle)
                ocols = [d[0] for d in res.description]
                orows = pandas_rows(res.df())
                ok = table_digest(scols, srows) == table_digest(ocols, orows) or rows_close(
                    scols, srows, ocols, orows
                )
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok, orows = False, []
            finally:
                spark.catalog.clearCache()
            self.expected_rows[name] = len(orows)
            if not ok:
                print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
                self.failed += 1
        con.close()

    def rep(self, i: int, tracing: "TraceState | None") -> tuple[float, list[tuple[str, float]]]:
        spark, sc = self.spark, self.spark.sparkContext
        order = list(self.names)
        random.Random(self.args.seed * 1000 + i).shuffle(order)
        ops: list[tuple[str, float]] = []
        t_rep = time.perf_counter()
        for name in order:
            stream = name in STREAMS
            self.attempted += 1
            try:
                if tracing:
                    sc.setJobGroup(tracing.group(f"{name}:build"), name)
                t0 = time.perf_counter()
                df = self.specs[name].fn(spark, self.data_dir)
                t1 = time.perf_counter()
                if tracing:
                    sc.setJobGroup(tracing.group(f"{name}:exec"), name)
                n = full_result(df)
                t2 = time.perf_counter()
                if tracing:
                    tracing.queries.append({
                        "name": name, "stream": stream, "build_ms": (t1 - t0) * 1000,
                        "exec_ms": (t2 - t1) * 1000, "rows": n, "plan_ms": layertrace.planning_ms(df),
                        "build_group": tracing.group(f"{name}:build"),
                        "exec_group": tracing.group(f"{name}:exec"),
                    })
                spark.catalog.clearCache()
                ops.append((name, t2 - t0))
                if n != self.expected_rows[name]:
                    print(f"perfbench: {name} returned {n} rows, oracle {self.expected_rows[name]}",
                          file=sys.stderr)
                    self.failed += 1
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                self.failed += 1
        total = time.perf_counter() - t_rep
        if tracing:
            sc.setJobGroup("perfbench:idle", "idle")
        return total, ops

    def finish(self) -> None:
        pass


# ---------------------------------------------------------------------------
# flow workloads
# ---------------------------------------------------------------------------


class FlowWorkload:
    schema = projgen.PROJECT_NAME
    min_reps = 2  # two rebuilds already fill --seconds 20

    def __init__(self, args, work: str, data_dir: str) -> None:
        self.args = args
        self.work = work
        self.data_dir = data_dir
        self.proj_dir = os.path.join(work, "project")
        self.project = projgen.generate(args.seed, self.proj_dir)
        os.environ[projgen.DATA_ENV] = data_dir
        self.failed = 0
        self.attempted = 0
        self.threads = int(os.environ["SPARK_GRAFT_CPUS"])

    @property
    def warehouse(self) -> str:
        return os.path.join(self.work, "warehouse", f"{self.schema}.db")

    def _flow(self, tracing: "TraceState | None"):
        from dbt_fal_spark.api import FalSpark

        sc = self.spark.sparkContext
        if tracing:
            sc.setJobGroup(tracing.group("load"), "load")
        fal = FalSpark(self.proj_dir, spark=self.spark)
        statuses = fal.run(threads=self.threads)
        if tracing:
            sc.setJobGroup(tracing.group("test"), "test")
        tests = fal.test()
        if tracing:
            sc.setJobGroup("perfbench:idle", "idle")
        return statuses, tests

    def _check_run(self, statuses: dict, tests: list) -> None:
        """Every model succeeded, every schema test passed, every hook ran."""
        bad = [n for n, s in statuses.items() if s != "success"]
        bad_tests = [t for t in tests if t.get("status") != "tested"]
        log = os.path.join(self.proj_dir, "target", "hooks.log")
        try:
            with open(log) as fh:
                lines = sorted(fh.read().split())
        except OSError:
            lines = []
        hooks_ok = lines == self.project.hook_lines
        self.attempted += len(statuses) + len(tests) + 1
        self.failed += len(bad) + len(bad_tests) + (0 if hooks_ok else 1)
        if bad or bad_tests or not hooks_ok:
            print(f"perfbench: failed models {bad}, tests {bad_tests}, hooks ok {hooks_ok}",
                  file=sys.stderr)

    def _check_tables(self) -> None:
        """Row count and order-independent digest of every materialized
        model against DuckDB evaluating the same SQL."""
        import duckdb
        from check import table_digest

        con = duckdb.connect()
        projgen.oracle_tables(self.project, con, self.data_dir)
        for m in self.project.materialized:
            self.attempted += 1
            try:
                sdf = self.spark.table(f"{self.schema}.{m.name}")
                s_digest = table_digest(sdf.columns, [tuple(r) for r in sdf.collect()])
                res = con.execute(f"SELECT * FROM {m.name}")
                cols = [d[0] for d in res.description]
                o_digest = table_digest(cols, res.fetchall())
                ok = s_digest == o_digest
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"perfbench: model {m.name} differs from its oracle", file=sys.stderr)
                self.failed += 1
        con.close()

    def _clear_hook_log(self) -> None:
        try:
            os.remove(os.path.join(self.proj_dir, "target", "hooks.log"))
        except OSError:
            pass

    def setup(self, spark, tracer: layertrace.Tracer) -> None:
        """The untimed first build; models, tests and hooks are checked.
        ``tracer`` times every model task (layertrace.install)."""
        self.spark = spark
        self.tracer = tracer
        statuses, tests = self._flow(None)
        self._check_run(statuses, tests)

    def rep(self, i: int, tracing: "TraceState | None") -> tuple[float, list[tuple[str, float]]]:
        self._clear_hook_log()
        before = warehouse_files(self.warehouse) if tracing else None
        t0 = time.perf_counter()
        statuses, tests = self._flow(tracing)
        total = time.perf_counter() - t0
        if tracing:
            tracing.flow_reps.append(flow_files(self, before))
        self._check_run(statuses, tests)
        models = [s for s in self.tracer.since(t0) if s.name == "api.model"]
        return total, [(s.attrs["node"], s.duration) for s in models]

    def finish(self) -> None:
        self._check_tables()


def warehouse_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def flow_files(wl: FlowWorkload, before: dict[str, int]) -> dict:
    """Data files written by one flow run, and the bytes of the live model
    tables it left."""
    after = warehouse_files(wl.warehouse)
    new = {p: s for p, s in after.items() if p not in before and p.endswith(".parquet")}
    live = 0
    for m in wl.project.materialized:
        for uri in wl.spark.table(f"{wl.schema}.{m.name}").inputFiles():
            live += after.get(urlparse(uri).path, 0)
    return {"bytes_written": sum(new.values()), "files_written": len(new), "live_bytes": live}


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class TraceState:
    """Per-run trace bookkeeping: the tracer, job-group names, and what each
    traced repetition recorded. The layer wrappers are installed in every
    run, so that untraced and traced runs time model tasks the same way;
    spans other than model tasks, job groups and the streaming listener
    only come with ``--trace 1``."""

    def __init__(self, spark, traced: bool) -> None:
        self.tracer = layertrace.Tracer()
        self.tracer.enabled = False
        self.sc = spark.sparkContext
        self.rep = 0
        self.queries: list[dict] = []
        self.flow_reps: list[dict] = []
        self.used: set[str] = set()
        self.listener = None
        if traced:
            self.listener = layertrace.make_stream_listener()
            spark.streams.addListener(self.listener)
        self.undo = layertrace.install(self.tracer, self.sc, self.group)
        self.per_rep: list[dict[str, float]] = []

    def group(self, name: str) -> str:
        """Job-group name for ``name`` in the current repetition."""
        group = f"perfbench:{self.rep}:{name}"
        self.used.add(group)
        return group

    def groups(self) -> list[str]:
        prefix = f"perfbench:{self.rep}:"
        return sorted(g for g in self.used if g.startswith(prefix))

    def collect(self, t0: float, workload) -> None:
        """Per-layer values of one traced repetition."""
        layertrace.wait_listener_bus(self.sc)
        time.sleep(0.2)  # Python-side streaming listener callbacks
        spans = self.tracer.since(t0)
        selfs = layertrace.self_times(spans)
        by = lambda n: [s for s in spans if s.name == n]  # noqa: E731
        ms = lambda n: sum(s.duration for s in by(n)) * 1000  # noqa: E731
        v: dict[str, float] = {}
        v["project.load_ms"] = ms("project.load")
        v["project.render_ms"] = ms("project.render")
        v["project.render_calls"] = len(by("project.render"))
        v["plans.select_ms"] = ms("plans.select")
        models = by("api.model")
        for kind in ("sql_table", "sql_view", "incremental", "python", "pandas"):
            v[f"api.model_ms.{kind}"] = sum(
                s.duration for s in models if s.attrs["kind"] == kind) * 1000
        v["api.hook_ms"] = ms("api.hook")
        v["api.test_ms"] = ms("api.test")
        v["api.to_pandas_ms"] = ms("api.to_pandas")
        v["materialize.write_ms"] = ms("materialize.write")
        v["materialize.swap_ms"] = ms("materialize.swap")
        v["materialize.merge_ms"] = ms("materialize.merge")
        for layer in ("project", "plans", "api", "materialize"):
            v[f"self_ms.{layer}"] = sum(selfs[s.id] for s in spans if s.layer == layer) * 1000
        execs = by("plans.executor")
        wall = sum(s.duration for s in execs)
        v["plans.concurrency"] = sum(s.duration for s in models) / wall if wall else 0.0
        waits = ready_waits(spans)
        v["plans.ready_wait_p50_ms"] = percentile(waits, 0.5) * 1000 if waits else 0.0
        v["plans.ready_wait_p90_ms"] = percentile(waits, 0.9) * 1000 if waits else 0.0
        groups = self.groups()
        st = layertrace.stage_metrics(self.sc, groups)
        v["spark.jobs"] = st["jobs"]
        v["spark.stages"] = st["stages"]
        v["spark.tasks"] = st["tasks"]
        v["spark.exec_ms"] = st["job_ms"]
        v["spark.executor_run_ms"] = st["executor_run_ms"]
        v["spark.executor_cpu_ms"] = st["executor_cpu_ns"] / 1e6
        v["spark.gc_ms"] = st["gc_ms"]
        v["spark.shuffle_read_bytes"] = st["shuffle_read_bytes"]
        v["spark.shuffle_write_bytes"] = st["shuffle_write_bytes"]
        v["spark.spill_bytes"] = st["memory_spill_bytes"] + st["disk_spill_bytes"]
        v["sources.input_bytes"] = st["input_bytes"]
        v["sources.input_rows"] = st["input_rows"]
        if isinstance(workload, QueriesWorkload):
            qs = [q for q in self.queries if q["exec_group"] in groups]
            batch = [q for q in qs if not q["stream"]]
            build = layertrace.stage_metrics(self.sc, [q["build_group"] for q in batch])
            v["operators.build_ms"] = sum(q["build_ms"] for q in batch)
            v["operators.build_jobs"] = build["jobs"]
            v["spark.plan_ms"] = sum(q["plan_ms"] for q in qs)
            result_rows = sum(q["rows"] for q in qs)
        else:
            files = self.flow_reps[-1]
            v["materialize.bytes_written"] = files["bytes_written"]
            v["materialize.files_written"] = files["files_written"]
            v["materialize.write_amp"] = (
                files["bytes_written"] / files["live_bytes"] if files["live_bytes"] else 0.0)
            result_rows = st["output_rows"]
        v["sources.rows_per_result"] = st["input_rows"] / result_rows if result_rows else 0.0
        events = self.listener.take()
        v["streaming.batches"] = len(events)
        for key in ("trigger_ms", "add_batch_ms", "input_rows"):
            v[f"streaming.{key}"] = sum(e[key] for e in events)
        last: dict[str, dict] = {}
        for e in events:
            last[e["id"]] = e  # state size: the last progress of each query
        v["streaming.state_rows_total"] = sum(e["state_rows_total"] for e in last.values())
        v["streaming.state_memory_bytes"] = sum(e["state_memory_bytes"] for e in last.values())
        self.per_rep.append(v)

    def drain_streams(self) -> None:
        """Drop streaming progress events that arrived outside a traced
        repetition."""
        layertrace.wait_listener_bus(self.sc)
        time.sleep(0.2)  # Python-side listener callbacks
        self.listener.take()

    def close(self) -> None:
        self.undo()


def ready_waits(spans) -> list[float]:
    """Per model group: its first task start minus the time its last
    dependency finished (or the executor started, for roots)."""
    finished = {s.attrs["node"]: s.start for s in spans if s.name == "plans.finish"}
    deps = {s.attrs["node"]: s.attrs["deps"] for s in spans if s.name == "plans.finish"}
    execs = [s for s in spans if s.name == "plans.executor"]
    if not execs:
        return []
    run_start = execs[0].start
    first: dict[str, float] = {}
    for s in spans:
        if s.name in ("api.model", "api.hook") and s.attrs:
            node = s.attrs["node"]
            first[node] = min(first.get(node, s.start), s.start)
    waits = []
    for node, start in first.items():
        ready = max([finished[d] for d in deps.get(node, []) if d in finished], default=run_start)
        waits.append(max(0.0, start - ready))
    return waits


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def measure(wl, seconds: float, probe: SpeedProbe) -> tuple[list[float], list[tuple[str, float]]]:
    """Closed-loop repetitions for ``seconds`` (at least ``wl.min_reps``),
    each followed by ``PROBES_PER_REP`` speed probes; a
    repetition that would likely end past ``seconds`` is not started.
    Returns per-repetition totals and (name, seconds) per operation."""
    totals, ops = [], []
    t_end = time.perf_counter() + seconds
    cycle = 0.0
    while len(totals) < wl.min_reps or time.perf_counter() + cycle <= t_end:
        t0 = time.perf_counter()
        total, rep_ops = wl.rep(len(totals), None)
        totals.append(total)
        ops.extend(rep_ops)
        probe.run(PROBES_PER_REP)
        cycle = time.perf_counter() - t0
    return totals, ops


def measure_traced(wl, seconds: float, tracing: TraceState):
    """Untraced and traced repetitions in alternation, starting and ending
    untraced, so a warm-up trend cancels out of the overhead; returns
    untraced totals, traced totals and traced per-operation times."""
    untraced, traced, ops = [wl.rep(0, None)[0]], [], []
    t_end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        tracing.drain_streams()
        tracing.rep += 1
        tracing.tracer.enabled = True
        t0 = time.perf_counter()
        total, rep_ops = wl.rep(len(untraced) + len(traced), tracing)
        tracing.tracer.enabled = False
        tracing.collect(t0, wl)
        traced.append(total)
        ops.extend(rep_ops)
        untraced.append(wl.rep(len(untraced) + len(traced), None)[0])
    return untraced, traced, ops


def main() -> int:
    ap = argparse.ArgumentParser(description="dbt_fal_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "dbt_fal_spark", "__init__.py")):
        fail(f"no dbt_fal_spark package under {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        fail(f"no tools/check.py under {ROOT}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # check.py: the oracle comparison

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    load_start = os.getloadavg()
    cpu_start, ticks_start = cpu_times(), tree_cpu_ticks()
    spark = None
    try:
        data_dir = os.path.join(work, "data")
        datagen.generate(data_dir, args.seed, SF)
        wl_cls = QueriesWorkload if args.workload == "queries" else FlowWorkload
        wl = wl_cls(args, work, data_dir)
        t_gen = time.perf_counter()
        conf = {} if args.workload == "queries" else {"spark.scheduler.mode": "FAIR"}
        spark, session_ms = start_spark(work, data_dir, **conf)
        pid = jvm_pid(spark)
        import pyspark

        meta = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "profile": spark.conf.get("spark.dbt_fal.profile", None),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "scheduler_mode": spark.sparkContext.getConf().get("spark.scheduler.mode"),
            "pyspark": pyspark.__version__,
            "git_sha": git_sha(),
            "sf": SF,
            "loadavg_start": load_start,
            "other_spark_jvms": other_spark_jvms(pid),
        }
        t_session = time.perf_counter()
        tracing = TraceState(spark, traced=bool(args.trace))
        wl.setup(spark, tracing.tracer)
        setup_s = time.perf_counter() - T_PROCESS
        meta["setup_phases_s"] = {
            "imports_and_inputs": t_gen - T_PROCESS,
            "session": t_session - t_gen,
            "first_pass": time.perf_counter() - t_session,
        }
        if args.trace:
            untraced, traced, ops = measure_traced(wl, args.seconds, tracing)
        else:
            probe = SpeedProbe(spark)
            probe.run(PROBE_WARMUP)
            probe.reset()
            traced, ops = measure(wl, args.seconds, probe)
        tracing.close()
        wl.finish()
        meta["loadavg_end"] = os.getloadavg()
        meta["jvm_heap_peak_mb"] = jvm_heap_peak_mb(spark)
        meta["peak_rss_mb"] = dict(zip(("python", "jvm"), peak_rss_mb(pid)))
        meta["jvm_heap_live_mb"] = jvm_heap_live_mb(spark)
        meta["rep_totals_s"] = traced
        op_s = [t for _, t in ops]
        meta["op_samples"] = len(op_s)
        meta["op_tail_quantile"] = tail_quantile(len(op_s))
        by_op: dict[str, list[float]] = {}
        for name, t in ops:
            by_op.setdefault(name, []).append(t)
        meta["op_median_s"] = {name: statistics.median(ts) for name, ts in sorted(by_op.items())}
        cpu_end = cpu_times()
        meta["cpu_steal_frac"] = steal_frac(cpu_start, cpu_end)
        meta["other_cpu_frac"] = other_cpu_frac(cpu_start, cpu_end, tree_cpu_ticks() - ticks_start)
        meta["attempted"] = wl.attempted
        meta["failed_frac"] = wl.failed / wl.attempted if wl.attempted else 1.0
        if args.trace:
            per_rep = tracing.per_rep
            metrics = {
                k: statistics.median(r[k] for r in per_rep) if all(k in r for r in per_rep) else 0.0
                for k in PER_LAYER
            }
            metrics["session.start_ms"] = session_ms
            metrics["trace.overhead_s"] = min(traced) - min(untraced)
            meta["untraced_total_s"] = min(untraced)
            meta["traced_total_s"] = min(traced)
            out = {k: {"value": float(metrics[k]), "unit": u} for k, u in PER_LAYER.items()}
            trace_path = os.path.join(WORK_ROOT, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"meta": meta, "per_rep": per_rep, "queries": tracing.queries,
                           "spans": tracing.tracer.to_json()}, fh)
            meta["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            raw = {
                "setup_s": setup_s,
                "total_s": statistics.median(traced),
                "op_p50_s": percentile(op_s, 0.5),
                "op_p90_s": percentile(op_s, tail_quantile(len(op_s))),
            }
            scale = probe.scale()
            meta["raw_s"] = raw
            meta["probe_s"] = probe.times
            meta["speed_scale"] = scale
            out = {k: {"value": v * scale, "unit": "s"} for k, v in raw.items()}
            out["peak_rss_mb"] = {"value": sum(meta["peak_rss_mb"].values()), "unit": "MiB"}
        print(json.dumps({"meta": meta}))
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": out,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
