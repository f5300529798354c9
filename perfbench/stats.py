"""Small, dependency-free statistics used by the benchmark.

Kept apart from the Spark code so the benchmark's own tests can check the
rules without starting a JVM.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable

#: A tail percentile is only reported where this many samples lie beyond it.
TAIL_MIN_BEYOND = 10


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def tail(values: Iterable[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` of the highest percentile with at least
    :data:`TAIL_MIN_BEYOND` samples strictly beyond it.

    With ``n`` samples that is nearest rank ``n - 10``, percentile
    ``100 (n-10)/n``. Below ``2 * TAIL_MIN_BEYOND`` samples that rank is at
    or under the median, which is no tail at all; the slowest sample is
    reported instead (percentile 100), with ``n`` so the reader can tell.
    """
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("no samples")
    rank = n - TAIL_MIN_BEYOND
    if n < 2 * TAIL_MIN_BEYOND:
        return vals[-1], 100.0, n
    return vals[rank - 1], 100.0 * rank / n, n


def covered(interval: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``children``."""
    lo, hi = interval
    clipped = sorted(
        (max(lo, a), min(hi, b)) for a, b in children if min(hi, b) > max(lo, a)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """Span duration minus the part of it that its child spans cover."""
    return (interval[1] - interval[0]) - covered(interval, children)
