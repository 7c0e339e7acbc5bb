"""Measurement arithmetic shared by every workload: percentiles and the
tail rule, operation tallies, and trace spans with self time.

Nothing here imports Spark, so the tests exercise it directly.
"""

from __future__ import annotations

import itertools
import math
import statistics
import threading
import time
from dataclasses import dataclass, field

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile of ``TAIL_LADDER`` that still has at least ten
    samples beyond it, as ``(percentile, value, n_samples)``; None when
    fewer than 20 samples leave no such percentile at or above p50."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p, percentile(values, p), n
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


class Tally:
    """Attempted and failed operations, per operation kind. An operation
    that raised or returned a wrong result counts as failed."""

    def __init__(self):
        self._lock = threading.Lock()
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.errors: list[str] = []

    def record(self, kind: str, ok: bool, error: str | None = None) -> None:
        with self._lock:
            self.attempted[kind] = self.attempted.get(kind, 0) + 1
            if not ok:
                self.failed[kind] = self.failed.get(kind, 0) + 1
                if error and len(self.errors) < 20:
                    self.errors.append(f"{kind}: {error}")

    def fail_check(self, kind: str, error: str) -> None:
        """Turn an already-recorded success into a failure (a result found
        wrong by a check made after the timed loop)."""
        with self._lock:
            self.failed[kind] = self.failed.get(kind, 0) + 1
            if len(self.errors) < 20:
                self.errors.append(f"{kind}: {error}")

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return min(sum(self.failed.values()), self.total_attempted)

    @property
    def failed_frac(self) -> float:
        return self.total_failed / max(1, self.total_attempted)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    op_id: str | None
    start: float
    end: float = float("nan")
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id → duration minus the part of its interval that its child
    spans cover (children may overlap each other, e.g. two threads)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span recorder. ``on_enter``/``on_exit`` let the caller tag
    work done inside a span (the Spark job group); spans nest per thread."""

    def __init__(self, on_enter=None, on_exit=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._on_enter = on_enter
        self._on_exit = on_exit
        self._clock = clock

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, op_id: str | None = None):
        return _SpanCtx(self, name, op_id)

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: str | None):
        self.tracer, self.name, self.op_id = tracer, name, op_id

    def __enter__(self) -> Span:
        t = self.tracer
        st = t._stack()
        parent = st[-1] if st else None
        with t._lock:
            sid = f"s{next(t._ids)}"
        op = self.op_id or (parent.op_id if parent else None)
        span = Span(sid, self.name, parent.id if parent else None, op, t._clock())
        st.append(span)
        if t._on_enter:
            t._on_enter(span)
        self.span = span
        return span

    def __exit__(self, *exc) -> None:
        t = self.tracer
        st = t._stack()
        self.span.end = t._clock()
        st.pop()
        with t._lock:
            t.spans.append(self.span)
        if t._on_exit:
            t._on_exit(self.span, st[-1] if st else None)
