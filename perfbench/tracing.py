"""Spans around the benchmark's calls into the program, kept in memory.

Every span is timed (the end-to-end metrics need the per-operation times);
only a traced run also reads Spark's status store after each span, keeps
the span records and writes them to one JSON file at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .probes import StatusStoreProbe


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    spark: dict[str, float] = field(default_factory=dict)
    probe_s: float = 0.0  # status-store read after the span, not inside it

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > reach:
            total += hi - max(lo, reach)
            reach = hi
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._probe = StatusStoreProbe(spark) if enabled else None

    @contextmanager
    def span(self, name: str, run_id: str):
        """Yield a Span whose ``end`` is set on exit (also on a raise)."""
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, run_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                s.spark = self._probe.read()
                s.probe_s = time.perf_counter() - s.end
            else:
                self.spans.pop()

    def skip(self) -> None:
        """Drop the Spark work done since the last span, so that it is
        charged to no span."""
        if self.enabled:
            self._probe.read()

    def self_time(self, index: int) -> float:
        s = self.spans[index]
        kids = [(c.start, c.end) for c in self.spans if c.parent == index]
        return s.duration - covered(kids)

    def write(self, path: str, summary: dict) -> None:
        records = [
            {**asdict(s), "id": i, "self_s": self.self_time(i)} for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": records}, f, indent=1)
