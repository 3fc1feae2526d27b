"""Arithmetic of the benchmark harness: medians, the tail-percentile
rule, and span self time. Pure Python (no Spark), so the tests in
``perfbench/tests`` exercise it directly."""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.99, 99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs) -> float:
    """Median, or 0.0 for no samples: a layer a run never calls reads 0."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, min_beyond: int = 10) -> dict | None:
    """The highest percentile in ``TAIL_PERCENTILES`` that leaves at
    least ``min_beyond`` samples above its nearest-rank position.

    Returns ``{"value", "percentile", "samples", "beyond"}``, or None
    when even the median leaves fewer than ``min_beyond`` samples
    beyond it (fewer than ``2 * min_beyond`` samples): a tail read off
    so few samples would be a single outlier, not a percentile."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, -(-int(round(p * 100)) * n // 10000))  # ceil(p/100 * n)
        if n - rank >= min_beyond:
            return {"value": xs[rank - 1], "percentile": p, "samples": n,
                    "beyond": n - rank}
    return None


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    id: int
    parent: int | None
    trace: int


class Tracer:
    """In-memory spans around calls into the engine's layers.

    A span's parent is the innermost open span of the same thread, or,
    for threads the engine starts itself (``replay_incremental`` with
    ``inflight > 1`` runs batches on a pool), the span opened with
    ``ambient=True``. Disabled tracers record nothing and cost one
    attribute check per call. ``overhead_s`` accumulates the time spent
    in the tracer's own bookkeeping."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._ambient: Span | None = None
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, ambient: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._ambient
        sp = Span(name, 0.0, 0.0, next(self._ids),
                  parent.id if parent else None,
                  parent.trace if parent else 0)
        if parent is None:
            sp.trace = sp.id
        stack.append(sp)
        if ambient:
            self._ambient = sp
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp.end = t2
            stack.pop()
            if ambient:
                self._ambient = None
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def charge(self, seconds: float) -> None:
        """Count time spent in other tracing-only work (job groups,
        counter reads) as overhead."""
        if self.enabled:
            with self._lock:
                self.overhead_s += seconds

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        """Record a span measured by someone else (the sink's returned
        ``phase_s``) as a child of ``parent``."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(
                Span(name, start, end, next(self._ids), parent.id, parent.trace)
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that the
    union of its children covers. Overlapping siblings (pipelined
    batches) are counted once."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        )
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out
