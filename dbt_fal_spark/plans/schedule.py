"""Task groups + dependency-counted priority scheduler.

Mirrors the reference's scheduler semantics exactly (reference:
projects/adapter/src/fal/dbt/planner/schedule.py:26-103 group creation,
:106-200 Scheduler):

- a TaskGroup = (pre_hooks, main task, post_hooks) for one node chain
- ready set = groups with no unfinished dependencies
- priority = (#groups waiting ONLY on this, #groups waiting on this),
  descending — unblock the widest subtrees first
- failure propagates: every transitive dependent is SKIPPED.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

SUCCESS = 0
FAILURE = 1


@dataclass
class TaskGroup:
    """One schedulable unit. ``task`` is any object with
    ``execute(context) -> int`` (0 = success)."""

    group_id: str
    task: Any
    pre_hooks: list[Any] = field(default_factory=list)
    post_hooks: list[Any] = field(default_factory=list)
    dependencies: list["TaskGroup"] = field(default_factory=list)
    status: str = "pending"  # pending | running | success | failure | skipped


class Scheduler:
    def __init__(self, groups: list[TaskGroup]) -> None:
        self.groups = list(groups)
        self._pending = list(groups)
        self._running: set[str] = set()

    # --- priority (reference: schedule.py:126-147 _calculate_score) ---
    def _score(self, group: TaskGroup) -> tuple[int, int]:
        exclusive = 0
        total = 0
        for other in self._pending:
            if group in other.dependencies:
                total += 1
                if all(dep is group or dep.status == "success" for dep in other.dependencies):
                    exclusive += 1
        return (exclusive, total)

    def iter_available_groups(self):
        """Yield ready groups, highest priority first."""
        ready = [
            g
            for g in self._pending
            if g.group_id not in self._running
            and all(dep.status == "success" for dep in g.dependencies)
        ]
        for g in sorted(ready, key=self._score, reverse=True):
            self._running.add(g.group_id)
            g.status = "running"
            yield g

    def finish(self, group: TaskGroup, status: int) -> None:
        self._running.discard(group.group_id)
        if group in self._pending:
            self._pending.remove(group)
        group.status = "success" if status == SUCCESS else "failure"
        if status != SUCCESS:
            self._skip_dependents(group)

    def skip(self, group: TaskGroup) -> None:
        """Mark an un-run group skipped (fail-fast) + its dependents."""
        self._running.discard(group.group_id)
        if group in self._pending:
            self._pending.remove(group)
        group.status = "skipped"
        self._skip_dependents(group)

    def _skip_dependents(self, failed: TaskGroup) -> None:
        changed = True
        while changed:
            changed = False
            for g in list(self._pending):
                if any(dep.status in ("failure", "skipped") for dep in g.dependencies):
                    g.status = "skipped"
                    self._pending.remove(g)
                    changed = True

    @property
    def is_done(self) -> bool:
        return not self._pending and not self._running
