"""Small statistics and host-telemetry helpers shared by the harness."""

from __future__ import annotations

import math
import os
import statistics

#: Percentiles tried for a tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def unit_of(name: str) -> str:
    """Unit of a metric, read from its name."""
    if "_bytes" in name:
        return "bytes"
    for suffix, unit in (
        ("records_per_s", "records/s"),
        ("_ms", "ms"),
        ("_s", "s"),
        ("_frac", "fraction"),
        ("_pct", "percentile"),
        ("_exact", "flag"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile of ``TAIL_LADDER`` with at least
    ``MIN_BEYOND`` samples beyond it, as ``(percentile, value, n)``.

    Nearest-rank percentile: the value at 1-based rank ``ceil(p/100 * n)``
    of the sorted samples, with ``n - rank`` samples beyond it. When no
    ladder percentile has enough samples beyond it, returns
    ``(0.0, 0.0, n)``: the sample supports no tail."""
    n = len(samples)
    ordered = sorted(samples)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return p, float(ordered[rank - 1]), n
    return 0.0, 0.0, n


def exact_count(counts: list[int]) -> bool:
    """A count is exact only when it was observed at least twice and every
    observation agrees."""
    return len(counts) >= 2 and len(set(counts)) == 1


def cpu_times() -> tuple[float, float]:
    """``(total, idle)`` jiffies from the first line of /proc/stat, or
    ``(0, 0)`` where it is unreadable."""
    try:
        with open("/proc/stat") as fh:
            vals = [float(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0.0, 0.0
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)
    return sum(vals), idle


def busy_frac(before: tuple[float, float], after: tuple[float, float]) -> float:
    """Share of host CPU time that was not idle between two snapshots."""
    total = after[0] - before[0]
    return round(1.0 - (after[1] - before[1]) / total, 4) if total > 0 else 0.0


def loadavg_1m() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return 0.0
