"""Summary arithmetic for the benchmark's metrics."""

from __future__ import annotations

import statistics
from collections.abc import Sequence

# A tail percentile is reported only where at least this many samples lie
# beyond it.
TAIL_SAMPLES_BEYOND = 10


def quantile(values: Sequence[float], q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation between order
    statistics (numpy's default, Hyndman-Fan type 7)."""
    if not values:
        raise ValueError("quantile of no values")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: Sequence[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_SAMPLES_BEYOND`` samples
    beyond it: returns ``(value, percentile, sample_count)``.

    With n samples that percentile is ``1 - 10/n``; fewer than 11 samples
    leave no such percentile, and the median is returned instead."""
    n = len(values)
    q = max(0.5, 1.0 - TAIL_SAMPLES_BEYOND / n) if n > TAIL_SAMPLES_BEYOND else 0.5
    return quantile(values, q), round(100.0 * q, 2), n


def failed_frac(attempted: int, failed: int) -> float:
    """Executions that raised or failed the output check, over executions
    attempted."""
    if attempted <= 0:
        raise ValueError("no executions attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted


def per_minute(count: int, seconds: float) -> float:
    if seconds <= 0:
        raise ValueError("empty timed region")
    return 60.0 * count / seconds


def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def entry_medians(executions, traced: bool) -> dict[str, float]:
    """Median latency per entry over the checked executions (objects with
    ``entry``, ``ok``, ``traced`` and ``latency_s``) of one kind."""
    by_entry: dict[str, list[float]] = {}
    for e in executions:
        if e.ok and e.traced == traced:
            by_entry.setdefault(e.entry, []).append(e.latency_s)
    return {k: median(v) for k, v in by_entry.items()}
