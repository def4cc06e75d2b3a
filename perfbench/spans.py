"""In-memory spans recorded around the benchmark's calls into the program.

A span has a name, start, end, the index of its parent span and the run
id; spans stay in a list and are written out once, when the run ends. An
untraced run uses the same code with `Tracer(enabled=False)`, whose span()
records nothing.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover.

        Children of one span run one after another on this thread, so the
        part they cover is the sum of their durations."""
        child_time: dict[int, float] = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = defaultdict(float)
        for i, rec in enumerate(self.spans):
            out[rec["name"]] += rec["end"] - rec["start"] - child_time[i]
        return dict(out)

    def durations(self, name: str, window: tuple[float, float]) -> list[float]:
        """Durations of the spans called `name` that started inside `window`."""
        lo, hi = window
        return [
            r["end"] - r["start"]
            for r in self.spans
            if r["name"] == name and lo <= r["start"] <= hi
        ]

    def total(self, name: str, window: tuple[float, float]) -> float:
        return sum(self.durations(name, window))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "self_s": self.self_times(), "spans": self.spans}, fh)
