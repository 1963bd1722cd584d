"""Small statistics and naming rules shared by the benchmark and its tests."""

from __future__ import annotations

import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# candidate percentiles, highest first; p50 is always the first one reported
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError."""
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}: want [A-Za-z0-9_.-]+, <=64")
    return name


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def reportable_percentile(n: int) -> float | None:
    """Highest percentile with at least ten samples beyond it, or None.

    A percentile p over n samples has n * (1 - p/100) samples above it;
    reporting it from fewer than ten would read a handful of outliers as a
    tail.
    """
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the sample itself, no interpolation)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    k = max(0, min(len(vals) - 1, int(-(-p * len(vals) // 100)) - 1))
    return float(vals[k])


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median — ``statistics.quantiles(values, n=4)``, the spread rule the
    stability check uses."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / q2
