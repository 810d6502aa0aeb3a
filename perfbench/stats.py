"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``TAIL_SAMPLES`` beyond
    the ``q``-quantile (p90 needs n >= 100)."""
    return n * (1.0 - q) >= TAIL_SAMPLES - 1e-9


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_p50(latencies: dict[str, list[float]]) -> float:
    """Typical statement latency of a mix: the median latency of each
    statement kind, combined by geometric mean with every kind weighted
    equally. Unlike a pooled median it does not jump between kinds when
    the number of completed statements of each kind varies by one."""
    return geomean([statistics.median(v) for v in latencies.values() if v])


def rate_in_window(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Statements completed per second of [start, end]. A statement
    that straddles an edge counts by the share of its duration inside
    the window, so the rate does not jump by whole statements with
    where the deadline happens to fall."""
    done = 0.0
    for t0, t1 in intervals:
        inside = min(t1, end) - max(t0, start)
        if inside > 0:
            done += inside / (t1 - t0)
    return done / (end - start)

