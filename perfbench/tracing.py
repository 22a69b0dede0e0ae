"""Benchmark-side spans: one per call the benchmark makes into a module.

A span records its name (``<module>.<function>``), start, end, parent
span and run id, plus counts taken at the same boundary.  Spans stay in
memory; ``Tracer.records`` hands them to the caller, which writes them
out when the run ends.  While a span is open its Spark job group is set,
so every job, stage and SQL execution Spark runs inside it can be
attributed to it through the status store.

Nothing here runs when tracing is off: untraced reps call the program
directly.
"""

from __future__ import annotations

import contextlib
import math
import time
from dataclasses import asdict, dataclass, field
from fractions import Fraction

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float                 # time.perf_counter() seconds
    start_epoch_ms: float        # wall clock, comparable to Spark's job times
    end: float | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Collects spans for one benchmark run; tags Spark jobs per span."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group_id(self, span: Span) -> str:
        return f"perfbench-{span.run_id}-{span.span_id}"

    def _tag(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_id(span), span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name,
                  parent.span_id if parent else None, self.run_id,
                  time.perf_counter(), time.time() * 1e3)
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def count(self, name: str, value: float) -> None:
        """Record a count on the innermost open span."""
        self._stack[-1].counts[name] = value

    def records(self) -> list[dict]:
        own = self_times(self.spans)
        return [dict(asdict(s), duration=s.duration, self_time=own[s.span_id])
                for s in self.spans]


@contextlib.contextmanager
def instrumented(tracer: Tracer | None, module, attr: str, name: str):
    """Wrap ``module.attr`` in a span for the duration of the block, so a
    public function the program calls internally is timed from outside
    (the program's code is untouched).  No-op when ``tracer`` is None."""
    if tracer is None:
        yield
        return
    orig = getattr(module, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return orig(*args, **kwargs)

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, orig)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        out[s.span_id] = s.duration - _covered(
            children.get(s.span_id, []), s.start, end
        )
    return out


def _rank(n: int, p: float) -> int:
    """Nearest rank of the p-th percentile among n samples, 1-based
    (exact arithmetic: 99.9 is not a binary fraction)."""
    return max(1, math.ceil(n * Fraction(str(p)) / 100))


def supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest of PERCENTILES with at least ``min_beyond`` of ``n``
    samples above it, or None when even the median lacks them."""
    best = None
    for p in PERCENTILES:
        if n - _rank(n, p) >= min_beyond:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (a value that was actually measured)."""
    if not values:
        raise ValueError("percentile of no values")
    return sorted(values)[_rank(len(values), p) - 1]
