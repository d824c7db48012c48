"""Order statistics used by the report."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it.

    With ``n`` samples, the sample at 0-based rank ``n - 11`` has ten
    samples above it; it is the ``100 * (n - 10) / n``-th percentile
    (nearest rank). Returns ``(percentile, value)``, or None when that
    percentile would not lie above the median (below 21 samples).
    """
    n = len(values)
    if n < 21:
        return None
    ordered = sorted(values)
    return math.floor(1000 * (n - 10) / n) / 10, ordered[n - 11]


def timing(values: list[float]) -> dict:
    """Median plus tail of one timed operation, with its sample count."""
    out = {"n": len(values), "p50": median(values) if values else None,
           "samples": values}
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_pct"], out["tail"] = tail
    return out
