"""Summary statistics shared by the workloads and the output contract."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    return statistics.median(xs)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, i.e. the eleventh largest sample, at percentile
    100 × (n − 10) / n. Below 20 samples that would fall under the
    median, so the maximum (percentile 100) is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n
