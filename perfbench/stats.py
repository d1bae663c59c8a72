"""Small statistics shared by the benchmark and its spread check."""

from __future__ import annotations

import math
import statistics

#: Percentiles a tail may be reported at, highest first.
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def _rank(n: int, p: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return math.ceil(n * p / 100)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest of ``TAIL_PERCENTILES`` whose nearest-rank sample has at
    least ``beyond`` of the ``n`` samples above it, or None when even the
    median has not."""
    for p in TAIL_PERCENTILES:
        if n - _rank(n, p) >= beyond:
            return p
    return None


def tail(values) -> tuple[int | None, float | None]:
    """``(p, value)`` of the tail percentile of ``values``."""
    p = tail_percentile(len(values))
    return (p, sorted(values)[_rank(len(values), p) - 1]) if p else (None, None)


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")
