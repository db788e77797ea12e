"""Arithmetic of the benchmark: medians, geometric means, the
tail-percentile rule, quartile spread, error rate and span self time.
Kept free of I/O so test_stats.py can check it directly."""
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it; below that it is an extreme, not a percentile.
MIN_BEYOND = 10
TAIL_CANDIDATES = (0.99, 0.95, 0.9, 0.75)


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geomean(values):
    """Geometric mean: each sample weighs the same whatever its size, so a
    mix of short and long operations is not read off one of them, as a
    median of few, unlike samples is."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return statistics.geometric_mean(values)


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a
    share q of the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1]


def beyond(n, q):
    """How many of n samples lie beyond the nearest-rank q-percentile."""
    return n - max(1, math.ceil(q * n))


def tail(values, candidates=TAIL_CANDIDATES):
    """(q, value) for the highest candidate percentile that has at least
    MIN_BEYOND samples beyond it, or None when no candidate has."""
    for q in sorted(candidates, reverse=True):
        if beyond(len(values), q) >= MIN_BEYOND:
            return q, percentile(values, q)
    return None


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def error_rate(failed, attempted):
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])
