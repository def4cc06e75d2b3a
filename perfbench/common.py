"""State shared by the workloads: the run's context and its operation log."""

from __future__ import annotations

import statistics
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from sparkstats import SparkStats
from spans import Tracer


class OperationFailed(Exception):
    """An operation raised; the run stops timing and reports it."""


class Collected:
    """A collected result in the shape tests/oracle_harness.compare reads."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method compare() calls
        return self._pdf


class Ctx:
    """One run: where it writes, its seed and size, its tracer, and the
    count of operations attempted and failed."""

    def __init__(self, work: str, seed: int, smoke: bool, tracer: Tracer) -> None:
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.tracer = tracer
        self.stats: SparkStats | None = None  # set once a session exists, traced runs only
        self.timed = False  # True inside the timed section
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.latency: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def op(self, kind: str, grouped: bool = True):
        """One operation of `kind`: counted, timed under a span of that name
        and, in a traced run with `grouped`, counted as job group `kind`.

        Latencies are kept per kind, and only for timed operations, so no
        percentile ever mixes two kinds."""
        self.attempted += 1
        group = self.stats.group(kind) if grouped and self.stats else nullcontext()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind), group:
                yield
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}")
            traceback.print_exc()
            raise OperationFailed(kind) from e
        if self.timed:
            self.latency[kind].append(time.perf_counter() - t0)

    def fail(self, message: str) -> None:
        """A checked result was wrong: one more failed operation."""
        self.failed += 1
        self.errors.append(message)


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile that has at least ten
    samples beyond it, or (None, None) when there are ten or fewer."""
    n = len(samples)
    if n <= 10:
        return None, None
    rank = n - 11  # 0-based rank with exactly ten samples above it
    return 100.0 * (rank + 1) / n, sorted(samples)[rank]


def summary(samples: list[float]) -> dict:
    pct, value = tail(samples)
    return {
        "n": len(samples),
        "p50": statistics.median(samples) if samples else None,
        "tail_pct": pct,
        "tail": value,
    }
