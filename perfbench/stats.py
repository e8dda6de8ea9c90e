"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

TAIL_BEYOND = 10  # a tail percentile must have at least this many samples above it


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns (value, percentile, samples beyond). With too few samples for any
    percentile to qualify, returns the maximum as the 100th percentile with
    0 samples beyond, so the caller can report that the tail is unresolved.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, 0
    k = n - TAIL_BEYOND  # 1-based rank of the value with TAIL_BEYOND ranks above it
    value = xs[k - 1]
    beyond = sum(1 for x in xs if x > value)
    while beyond < TAIL_BEYOND:  # ties at the cut: step down until enough lie strictly above
        k -= 1
        if k == 0:
            return xs[-1], 100.0, 0
        value = xs[k - 1]
        beyond = sum(1 for x in xs if x > value)
    return value, 100.0 * k / n, beyond


def geomean(values: list[float]) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))
