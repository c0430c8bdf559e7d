"""Pure-Python statistics and bookkeeping shared by the benchmark.

Nothing here imports Spark, so the rules are unit-tested in isolation
(perfbench/tests/test_stats.py).
"""

from __future__ import annotations

import math
import re
import statistics
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# A tail percentile needs at least this many samples above it.
TAIL_SAMPLES = 10


def check_metric_name(name: str) -> str:
    """Return ``name`` if it follows the metric-name grammar, else raise."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name: {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad metric unit: {unit!r}")
    return unit


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (``pct`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest percentile with at least TAIL_SAMPLES of ``n`` samples
    beyond it, floored at the median: with fewer than 2 * TAIL_SAMPLES
    samples no tail is measurable and the rule reports the median."""
    if n <= 0:
        raise ValueError("tail percentile of no samples")
    return max(50.0, 100.0 * (1.0 - TAIL_SAMPLES / n))


def latency_summary(latencies: list[float]) -> dict[str, float]:
    """Median, tail latency, the tail's percentile and the sample count."""
    pct = tail_percentile(len(latencies))
    return {
        "p50": statistics.median(latencies),
        "tail": percentile(latencies, pct),
        "tail_pct": pct,
        "n": len(latencies),
    }


@dataclass
class Span:
    """One timed interval. Spans of one operation share ``op_id``."""

    span_id: int
    parent_id: int | None
    op_id: int
    name: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
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
    """span_id -> self time: the span's duration minus the part of its
    interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def idle_time(wall: tuple[float, float], busy: list[tuple[float, float]]) -> float:
    """Part of the ``wall`` interval not covered by any ``busy`` interval."""
    lo, hi = wall
    return (hi - lo) - _covered(busy, lo, hi)


@dataclass
class Outcomes:
    """Counts operations attempted and failed. An operation fails if it
    raised or if its output check found a wrong result."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.failures.append(f"{name}: {error}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
