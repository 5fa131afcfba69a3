"""Order statistics for the benchmark.

A percentile is only reported when at least ``MIN_BEYOND`` samples lie
beyond it: p50 needs 20 samples, p90 needs 100, p95 needs 200.  With
fewer, the tail is one or two samples and the figure is noise.
"""
import math
import statistics

MIN_BEYOND = 10


def min_samples(p):
    """Smallest sample count at which percentile ``p`` (0-100) is reportable."""
    beyond = 1.0 - p / 100.0
    if beyond <= 0:
        raise ValueError("percentile must be below 100")
    return int(math.ceil(MIN_BEYOND / beyond - 1e-9))


def percentile(values, p):
    """Linear-interpolated percentile, or None when fewer than
    ``MIN_BEYOND`` samples lie beyond ``p``."""
    xs = sorted(values)
    if len(xs) < min_samples(p):
        return None
    pos = (len(xs) - 1) * p / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, candidates=(99, 95, 90, 75, 50)):
    """(p, value) for the highest candidate percentile that is
    reportable for this sample, or (None, None)."""
    for p in candidates:
        v = percentile(values, p)
        if v is not None:
            return p, v
    return None, None


def median(values):
    """Plain median of any non-empty sample (no tail rule: it reports
    the middle, not a tail)."""
    xs = sorted(values)
    if not xs:
        return None
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def mean(values):
    xs = list(values)
    return sum(xs) / len(xs) if xs else None


def quartiles(values):
    """(q1, median, q3) as Python's statistics.quantiles(n=4) gives them."""
    xs = list(values)
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3
