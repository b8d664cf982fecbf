"""Host-speed probe: fixed work that runs no library code.

The measuring host is a few vCPUs of a shared machine whose speed changes
by up to a factor of two over tens of minutes, with load from outside the
virtual machine (README.md, "Host speed"). The benchmark times this probe
between repetitions, in the same JVM and Python process as the workload, and
scales its timings by ``REF_S / median probe time``: a timing then reads as
seconds at the speed at which the probe takes ``REF_S``.

One probe is three fixed pieces of work, each timed on its own:

- ``python``: an interpreter-bound loop in this process (the orchestration
  code and the py4j client run here);
- ``jvm``: a ``BigInteger`` power printed in decimal, one call into the
  driver JVM (Catalyst planning and code generation are single-threaded
  JVM work);
- ``spark``: an aggregate over ``range`` (four tasks, then one), in a
  session of its own whose SQL settings are pinned here, so that a change
  to the library's session profile moves the workload's timings but not
  the probe's.
"""

from __future__ import annotations

import statistics
import time

# Median probe time on the measuring host in a quiet stretch (README.md).
# Any constant would do; this one keeps scaled timings close to raw ones.
REF_S = 0.2
CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
}
PARTS = ("python", "jvm", "spark")


def _python() -> int:
    x = 0
    for i in range(200_000):
        x ^= hash((i, i * 7)) & 0xFFFF
    return x


class SpeedProbe:
    def __init__(self, spark) -> None:
        self.session = spark.newSession()
        for k, v in CONF.items():
            self.session.conf.set(k, v)
        self.jvm = spark.sparkContext._jvm
        self.times: dict[str, list[float]] = {p: [] for p in PARTS}

    def _jvm(self) -> int:
        return len(self.jvm.java.math.BigInteger.valueOf(7).pow(50_000).toString())

    def _spark(self) -> int:
        df = self.session.range(0, 100_000, 1, 4).selectExpr("sum(hash(id)) AS s")
        return int(df._jdf.queryExecution().toRdd().count())

    def run(self, n: int) -> None:
        """Time ``n`` probes."""
        for _ in range(n):
            for part, fn, want in (
                ("python", _python, None),
                ("jvm", self._jvm, 42_255),
                ("spark", self._spark, 1),
            ):
                t0 = time.perf_counter()
                got = fn()
                self.times[part].append(time.perf_counter() - t0)
                if want is not None and got != want:
                    raise RuntimeError(f"speed probe {part} returned {got}, expected {want}")

    def reset(self) -> None:
        self.times = {p: [] for p in PARTS}

    def totals(self) -> list[float]:
        return [sum(ts) for ts in zip(*self.times.values())]

    def scale(self) -> float:
        """Factor that turns a timing taken in this run into seconds at the
        reference speed."""
        return REF_S / statistics.median(self.totals())
