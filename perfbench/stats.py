"""Summary statistics with the benchmark's percentile rule."""

from __future__ import annotations

import math
import statistics

#: A percentile is reported as supported only with this many samples
#: strictly beyond it.
MIN_BEYOND = 10


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the ``pct``-th percentile."""
    return n - math.ceil(n * pct / 100.0)


def supports(n: int, pct: float) -> bool:
    return samples_beyond(n, pct) >= MIN_BEYOND


def highest_supported(n: int) -> float | None:
    """The highest of p99, p95, p90, p75 and p50 that ``n`` samples support."""
    return next((p for p in (99, 95, 90, 75, 50) if supports(n, p)), None)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (``statistics.quantiles`` inclusive
    method); ``pct`` in [0, 100]."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        return float(values[0])
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def due_latencies(due: dict[str, float], visible: dict[str, float]
                  ) -> tuple[list[float], list[str]]:
    """Open-loop latency: for each item (a file of blocks), the time from
    when it was *due* to when it became visible, plus the items that never
    became visible. Timing from the due time, not from when the generator
    got round to writing it, keeps a late generator from hiding a stall."""
    latencies, missing = [], []
    for name, t_due in due.items():
        if name in visible:
            latencies.append(visible[name] - t_due)
        else:
            missing.append(name)
    return latencies, missing


def median(values: list[float]) -> float:
    return float(statistics.median(values))

