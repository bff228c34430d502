"""Summary statistics and span arithmetic used by the benchmark."""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def valid_metric_name(name: str) -> bool:
    """Metric names: 1-64 of ``[A-Za-z0-9_.-]``, starting with a letter or digit."""
    return (
        0 < len(name) <= 64
        and NAME_RE.fullmatch(name) is not None
        and name[0].isalnum()
    )


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` of the highest nearest-rank percentile that
    leaves at least 10 samples above it.

    The nearest-rank p-th percentile is ``sorted[ceil(p·n/100) - 1]``; at
    least 10 samples beyond it means ``ceil(p·n/100) <= n - 10``, so the
    highest such percentile is ``100·(n-10)/n`` and its value is the 11th
    largest sample. Below 20 samples that percentile falls under the
    median, which is no tail; the maximum is returned with percentile 100
    instead, and callers report ``n``.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(samples)
    if n < 20:
        return ordered[-1], 100.0, n
    return ordered[n - 11], 100.0 * (n - 10) / n, n


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }
