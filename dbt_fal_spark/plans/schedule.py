"""Task groups, the dependency-counted priority scheduler, and the
thread-pool executor that runs them.

Mirrors the reference's planner (reference: projects/adapter/src/fal/
dbt/planner/schedule.py:26-103 group creation, :106-200 Scheduler;
executor.py:61-178 parallel_executor):

- a TaskGroup = (pre_hooks, main task, post_hooks) for one node chain
- ready set = groups with no unfinished dependencies
- priority = (#groups waiting ONLY on this, #groups waiting on this),
  descending — unblock the widest subtrees first
- within a group, pre-hooks run first; a pre-hook failure skips the main
  task but post-hooks STILL run (the reference's FutureGroup state
  machine, tasks.py:249-276)
- a task fails by raising; the group's first traceback is its ``error``
- failure propagates: every transitive dependent is SKIPPED.

A group's ``status`` is dbt's word for it: pending, running, success,
error or skipped; the scheduler reads what is running and what is done
off that field.

Spark note: each group's main task submits Spark jobs from its thread —
Spark's scheduler interleaves them; set ``spark.scheduler.mode=FAIR``
for long mixed workloads.
"""

from __future__ import annotations

import traceback
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any


@dataclass
class TaskGroup:
    """One schedulable unit. ``task`` and the hooks are objects with
    ``execute(context)``, which fails by raising."""

    group_id: str
    task: Any
    pre_hooks: list[Any] = field(default_factory=list)
    post_hooks: list[Any] = field(default_factory=list)
    dependencies: list["TaskGroup"] = field(default_factory=list)
    status: str = "pending"  # pending | running | success | error | skipped
    error: str | None = None  # traceback of the group's first failure


class Scheduler:
    def __init__(self, groups: list[TaskGroup]) -> None:
        self.groups = list(groups)

    # --- priority (reference: schedule.py:126-147 _calculate_score) ---
    def _score(self, group: TaskGroup) -> tuple[int, int]:
        exclusive = 0
        total = 0
        for other in self.groups:
            if other.status == "pending" and group in other.dependencies:
                total += 1
                if all(dep is group or dep.status == "success" for dep in other.dependencies):
                    exclusive += 1
        return (exclusive, total)

    def iter_available_groups(self):
        """Yield ready groups, highest priority first."""
        ready = [
            g
            for g in self.groups
            if g.status == "pending" and all(dep.status == "success" for dep in g.dependencies)
        ]
        for g in sorted(ready, key=self._score, reverse=True):
            g.status = "running"
            yield g

    def finish(self, group: TaskGroup, status: str) -> None:
        """Record ``status`` (success, error or skipped); anything but
        success skips every transitive dependent."""
        group.status = status
        changed = status != "success"
        while changed:
            changed = False
            for g in self.groups:
                if g.status == "pending" and any(
                    dep.status in ("error", "skipped") for dep in g.dependencies
                ):
                    g.status = "skipped"
                    changed = True

    @property
    def is_done(self) -> bool:
        return all(g.status not in ("pending", "running") for g in self.groups)


def _run_group(group: TaskGroup, context: dict) -> str:
    def ran(task) -> bool:
        try:
            task.execute(context)
            return True
        except Exception:
            group.error = group.error or traceback.format_exc()
            return False

    if all(ran(hook) for hook in group.pre_hooks) and group.task is not None:
        ran(group.task)
    for hook in group.post_hooks:  # post-hooks always run
        ran(hook)
    return "error" if group.error else "success"


def parallel_executor(
    scheduler: Scheduler, context: dict, threads: int = 4, fail_fast: bool = False
) -> None:
    """Run groups as dependencies allow. ``fail_fast`` (dbt --fail-fast):
    after the first failure, stop LAUNCHING new groups — in-flight groups
    finish (their results are real), everything not yet started is
    finished as skipped, and so are its dependents."""
    failed = False
    with ThreadPoolExecutor(max_workers=max(1, threads)) as pool:
        futures = {}
        while not scheduler.is_done:
            for group in scheduler.iter_available_groups():
                if fail_fast and failed:
                    scheduler.finish(group, "skipped")
                    continue
                futures[pool.submit(_run_group, group, context)] = group
            if not futures:
                if scheduler.is_done:
                    break
                # nothing in flight AND nothing launchable AND not done:
                # the scheduler state machine is wedged (should be
                # impossible — cycles are rejected at DAG build, failures
                # transitively skip dependents). Fail loudly rather than
                # busy-spin this loop at 100% CPU forever.
                raise RuntimeError(
                    "executor deadlock: no runnable groups, none in flight, "
                    "scheduler not done"
                )
            done, _ = wait(list(futures), return_when=FIRST_COMPLETED)
            for fut in done:
                group = futures.pop(fut)
                status = fut.result()
                failed = failed or status == "error"
                scheduler.finish(group, status)
