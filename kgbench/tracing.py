"""In-memory spans recorded around calls into the program's layers.

A span has a name, start, end, parent and trace id (one per batch or
request).  Spans are only ever recorded by wrapping public callables
from the benchmark's side (``Tracer.wrap``); the program itself is not
modified.  ``self_times`` subtracts the union of a span's children from
its duration.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None        # index into Tracer.spans
    trace: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Collects spans in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, cpu_clock=None):
        self.enabled = enabled
        self.cpu_clock = cpu_clock       # () -> seconds, process-tree CPU
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = ""
        self.bookkeeping_s = 0.0         # time spent in the tracer itself

    def begin(self, name: str, cpu: bool = False, **attrs) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        if cpu and self.cpu_clock is not None:
            attrs["cpu_start"] = self.cpu_clock()
        span = Span(name, time.time(), parent=self._stack[-1]
                    if self._stack else None, trace=self.trace_id,
                    attrs=attrs)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        self.bookkeeping_s += time.perf_counter() - t0
        return len(self.spans) - 1

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        t0 = time.perf_counter()
        span = self.spans[idx]
        span.end = time.time()
        if "cpu_start" in span.attrs:
            span.attrs["cpu_s"] = self.cpu_clock() - span.attrs.pop(
                "cpu_start")
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span {span.name} closed out of order")
        self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        """Record the ``with`` body as a span; yields its index (None
        when disabled)."""
        idx = self.begin(name, cpu=cpu, **attrs)
        try:
            yield idx
        finally:
            self.end(idx)

    def wrap(self, holder, attr: str, name, cpu: bool = False):
        """Replace ``holder.attr`` by a wrapper recording a span.  ``name``
        is a string or ``(args, kwargs) -> str``.  Returns an undo
        callable."""
        fn = getattr(holder, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            label = name(args, kwargs) if callable(name) else name
            idx = tracer.begin(label, cpu=cpu)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        setattr(holder, attr, wrapped)
        return lambda: setattr(holder, attr, fn)

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "trace": s.trace,
                 "self_s": st, **s.attrs}
                for s, st in zip(self.spans, self_times(self.spans))]


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the time covered by its direct children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.duration - covered(kids.get(i, []), s.start,
                                 s.end if s.end is not None else s.start)
            for i, s in enumerate(spans)]


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """Highest of p50/p90/p99/p99.9 with at least ``min_beyond`` samples
    strictly above it, as (label, value); None when even p90 lacks
    them (the median is reported on its own)."""
    xs = sorted(samples)
    best = None
    for label, q in (("p90", 0.90), ("p99", 0.99), ("p999", 0.999)):
        if not xs:
            break
        v = xs[min(len(xs) - 1, int(q * len(xs)))]
        if sum(1 for x in xs if x > v) >= min_beyond:
            best = (label, v)
    return best


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")
