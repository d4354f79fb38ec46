"""Summary statistics shared by the benchmark's workloads and its tests.

Only the standard library: the functions here run before Spark is imported
and inside the benchmark's own unit tests.
"""

from __future__ import annotations

import re

#: Metric names use this charset only, so they survive every JSON or CSV
#: consumer unquoted.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

#: Samples a tail percentile must leave beyond it.
TAIL_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default, ``q`` in [0, 1])."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def tail_percentile(n: int) -> float:
    """The highest percentile that leaves at least ``TAIL_BEYOND`` of ``n``
    samples beyond it, never below the median.

    ``n >= 100`` gives p90 or higher; ``n < 20`` cannot leave ten samples
    beyond the median, so the median is reported and the sample count next
    to it says how thin the tail is."""
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(50.0, 100.0 * (1.0 - TAIL_BEYOND / n))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the tail rule above."""
    pct = tail_percentile(len(values))
    return quantile(values, pct / 100.0), pct, len(values)


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.

    Children are clipped to the parent interval and merged first, so
    overlapping or nested children are not subtracted twice."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))
