"""Percentiles, sample-count rules and metric names."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# a percentile is reported only when this many samples lie beyond it
MIN_TAIL = 10


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def supports(n: int, p: float) -> bool:
    """Whether ``n`` samples leave at least MIN_TAIL beyond percentile p."""
    return n * (100.0 - p) / 100.0 >= MIN_TAIL - 1e-9


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile, over the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def error_rate(failed: int, attempted: int) -> float:
    """Failed or wrong-output ops over ops attempted."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    return failed / attempted
