"""Pure helpers for the benchmark: tail-guarded percentiles,
interval unions, driver gap and span self time. No Spark imports, so
the unit tests run without a JVM."""

from __future__ import annotations

import math
from collections import defaultdict
from dataclasses import dataclass

# A percentile is reported only when at least this many samples lie
# strictly above its rank.
MIN_TAIL = 10


def percentile(xs: list[float], p: float) -> float | None:
    """Nearest-rank p-th percentile of `xs`, or None when fewer than
    MIN_TAIL samples lie beyond it (the tail is too thin to trust)."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_TAIL:
        return None
    return sorted(xs)[rank - 1]


def highest_percentile(xs: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest whole percentile at or above the median
    that still has MIN_TAIL samples beyond it; None if even p50 has not."""
    for p in range(99, 49, -1):
        v = percentile(xs, p)
        if v is not None:
            return p, v
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float,
         hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def driver_gap(start: float, end: float,
               stage_intervals: list[tuple[float, float]]) -> float:
    """Wall time of [start, end) during which no stage was active: the
    time the driver spent planning, scheduling and waiting between
    stages rather than running tasks."""
    return (end - start) - union_length(clip(stage_intervals, start, end))


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None = None  # per-operation id shared by the op's spans


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.sid: (s.end - s.start)
        - union_length(clip(children[s.sid], s.start, s.end))
        for s in spans
    }

