"""Small, Spark-free arithmetic the benchmark reports with."""

from __future__ import annotations

import math

# Percentiles a timing may be reported at, lowest first.
LADDER = (50.0, 75.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def highest_supported(n: int) -> float | None:
    """The highest ladder percentile with at least MIN_BEYOND of ``n``
    samples above it, or None when even the median has fewer."""
    best = None
    for p in LADDER:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= MIN_BEYOND:
            best = p
    return best


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tick_latencies_ms(
    due_ms: dict[int, int], commit_ms: dict[int, float], ticks: range
) -> tuple[list[float], list[int]]:
    """Latency of each tick in ``ticks`` from its due time to the commit
    of the batch that carried it; ticks never committed are returned
    as missed."""
    lat, missed = [], []
    for t in ticks:
        if t in commit_ms and t in due_ms:
            lat.append(commit_ms[t] - due_ms[t])
        else:
            missed.append(t)
    return lat, missed


def backlog_max(due_ms: dict[int, int], commit_ms: dict[int, float]) -> int:
    """Largest number of ticks that were due but not yet committed, seen
    at any commit instant."""
    commits = sorted(set(commit_ms.values()))
    dues = sorted(due_ms.values())
    best = 0
    for c in commits:
        due_by_c = sum(1 for d in dues if d <= c)
        done_before_c = sum(1 for v in commit_ms.values() if v < c)
        best = max(best, due_by_c - done_before_c)
    return best
