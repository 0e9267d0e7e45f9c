"""Percentile helpers shared by the workloads and the self-tests."""

import math


def nearest_rank(sorted_xs, p):
    """Nearest-rank percentile p (0-100] of an ascending list."""
    n = len(sorted_xs)
    return sorted_xs[max(1, math.ceil(p / 100.0 * n)) - 1]


def tail(samples, target=99.0, min_beyond=10):
    """The ``target`` percentile if at least ``min_beyond`` samples lie
    beyond it, otherwise the highest percentile that has ``min_beyond``
    samples beyond it.  With too few samples for any such percentile the
    maximum is returned as p100.

    Returns (percentile, value, sample count).
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n - math.ceil(target / 100.0 * n) >= min_beyond:
        return target, nearest_rank(xs, target), n
    if n <= min_beyond:
        return 100.0, xs[-1], n
    rank = n - min_beyond  # 1-based rank with exactly min_beyond samples above
    return 100.0 * rank / n, xs[rank - 1], n


def describe_tail(name, result):
    p, v, n = result
    return f"{name} = p{p:.1f} of {n} samples = {v:.3f}"
