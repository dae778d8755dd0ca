"""Order statistics used by every workload."""

from __future__ import annotations

import math
import statistics


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> dict:
    """The highest percentile that has at least ten samples beyond it
    (nearest rank), with the percentile and the sample count. ``None``
    value when fewer than eleven samples exist."""
    n = len(xs)
    if n < 11:
        return {"value": None, "pct": None, "n": n}
    s = sorted(xs)
    return {"value": s[n - 11], "pct": round(100.0 * (n - 10) / n, 1), "n": n}


def spread(xs: list[float]) -> dict:
    """Median, quartiles (``statistics.quantiles(n=4)``), min, max and the
    inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return {
        "n": len(xs), "median": med, "q1": q1, "q3": q3,
        "min": min(xs), "max": max(xs),
        "iqr_frac": (q3 - q1) / med if med else math.nan,
    }
