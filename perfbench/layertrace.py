"""Tracing for the benchmark's per-layer run, applied from outside the library.

- ``Tracer`` keeps spans (name, layer, start, end, parent) in memory; the
  benchmark writes them out at exit. ``self_times`` subtracts from each span
  the union of its children's intervals, so overlapping children from the
  threaded DAG executor are not double-counted.
- ``install`` wraps the public functions of each layer (the names the
  calling modules look up) and returns a callable that restores them.
  Model tasks are timed whether or not the tracer is enabled: their spans
  are the benchmark's per-operation times.
- ``stage_metrics`` reads Spark's status store by job group.
- ``make_stream_listener`` builds a listener that collects streaming
  progress events.
"""

from __future__ import annotations

import itertools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end or s.start)
        for s in spans
    }


class Tracer:
    """Span store. A span's parent is the innermost open span of its own
    thread; a span opened on a thread with nothing open (a DAG executor
    worker) takes the innermost open span of the thread that installed the
    tracer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = self._stack()
        self._lock = threading.Lock()
        self.enabled = True

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = Span(next(self._ids), name, layer, time.perf_counter(),
                    parent=parent.id if parent else None, attrs=attrs or None)
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        elif span in stack:
            stack.remove(span)

    def wrap(self, fn, name: str, layer: str):
        """``fn`` timed as a span while the tracer is enabled."""
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return wrapper

    def since(self, t0: float) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.start >= t0 and s.end is not None]

    def to_json(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {"id": s.id, "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "self": st[s.id], **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def patch(obj, attr: str, new) -> callable:
    """Set ``obj.attr = new``; returns the undo."""
    old = getattr(obj, attr)
    setattr(obj, attr, new)
    return lambda: setattr(obj, attr, old)


def _model_kind(task) -> str:
    model = task.fal.graph.node_attr(task.node, "model")
    if model.python_model is not None:
        interop = ((model.meta or {}).get("fal", {}) or {}).get("interop")
        return "pandas" if interop == "pandas" else "python"
    return {"table": "sql_table", "view": "sql_view"}.get(model.materialization, model.materialization)


def install(tracer: Tracer, sc, job_group) -> callable:
    """Wrap each layer's public entry points. ``job_group(node)`` names the
    Spark job group a model or script task sets on its executor thread.
    Returns the undo for every patch."""
    try:  # the DataFrame class sessions hand out (Spark 4 "classic")
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from dbt_fal_spark import api, materialize
    from dbt_fal_spark.plans import schedule

    undo = []
    for mod in (api, materialize):
        for fn_name, span_name in (
            ("write_table", "materialize.write"),
            ("replace_relation_atomic", "materialize.swap"),
            ("incremental_merge", "materialize.merge"),
        ):
            fn = getattr(materialize, fn_name)
            undo.append(patch(mod, fn_name, tracer.wrap(fn, span_name, "materialize")))
    undo.append(patch(api, "load_project", tracer.wrap(api.load_project, "project.load", "project")))
    undo.append(patch(api, "render_model_sql",
                      tracer.wrap(api.render_model_sql, "project.render", "project")))
    undo.append(patch(api, "select_nodes", tracer.wrap(api.select_nodes, "plans.select", "plans")))
    undo.append(patch(api, "parallel_executor",
                      tracer.wrap(api.parallel_executor, "plans.executor", "plans")))
    undo.append(patch(api.FalSpark, "test", tracer.wrap(api.FalSpark.test, "api.test", "api")))
    undo.append(patch(DataFrame, "toPandas", tracer.wrap(DataFrame.toPandas, "api.to_pandas", "api")))

    def grouped(fn, name, node_of, kind_of, always=False):
        def run(self, context):
            if not (tracer.enabled or always):
                return fn(self, context)
            node = node_of(self)
            if tracer.enabled:
                sc.setJobGroup(job_group(node), node)
            span = tracer.open(name, "api", node=node, kind=kind_of(self))
            try:
                return fn(self, context)
            finally:
                tracer.close(span)
        return run

    undo.append(patch(api._ModelTask, "execute", grouped(
        api._ModelTask.execute, "api.model", lambda t: t.node, _model_kind, always=True)))
    undo.append(patch(api._ScriptTask, "execute", grouped(
        api._ScriptTask.execute, "api.hook",
        lambda t: t.model.unique_id if t.model is not None else "global",
        lambda t: "hook" if t.is_hook else "script")))

    finish = schedule.Scheduler.finish

    def finish_traced(self, group, status):
        if not tracer.enabled:
            return finish(self, group, status)
        span = tracer.open("plans.finish", "plans", node=group.group_id,
                           deps=[d.group_id for d in group.dependencies])
        tracer.close(span)
        return finish(self, group, status)

    undo.append(patch(schedule.Scheduler, "finish", finish_traced))
    return lambda: [u() for u in reversed(undo)]


_STAGE_FIELDS = (
    ("tasks", "numTasks"),
    ("executor_run_ms", "executorRunTime"),
    ("executor_cpu_ns", "executorCpuTime"),
    ("gc_ms", "jvmGcTime"),
    ("input_bytes", "inputBytes"),
    ("input_rows", "inputRecords"),
    ("output_bytes", "outputBytes"),
    ("output_rows", "outputRecords"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("memory_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
)


def wait_listener_bus(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_metrics(sc, groups) -> dict[str, float]:
    """Sum the status store's job and stage metrics over the jobs of
    ``groups``. Stages skipped by the scheduler have no attempt and count
    as nothing."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {k: 0.0 for k, _ in _STAGE_FIELDS}
    out.update(jobs=0, stages=0, job_ms=0.0)
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter in _STAGE_FIELDS:
                    out[key] += getattr(sd, getter)()
    return out


def planning_ms(df) -> float:
    """Summed QueryPlanningTracker phase durations of ``df``'s execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def plan_operators(plan) -> list[str]:
    """Node names of a physical plan, subqueries included, sorted."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node.nodeName())
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return sorted(out)


def make_stream_listener():
    """A ``StreamingQueryListener`` that sums progress events; built lazily
    so importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            ops = p.stateOperators or []
            with self.lock:
                self.events.append({
                    "id": str(p.id),
                    "trigger_ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                    "add_batch_ms": float((p.durationMs or {}).get("addBatch", 0)),
                    "input_rows": int(p.numInputRows or 0),
                    "state_rows_total": sum(int(s.numRowsTotal or 0) for s in ops),
                    "state_memory_bytes": sum(int(s.memoryUsedBytes or 0) for s in ops),
                })

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def take(self) -> list[dict]:
            with self.lock:
                out, self.events = self.events, []
            return out

    return StreamListener()
