"""Order statistics used by the benchmark."""
import math
import statistics


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geomean(values):
    """Geometric mean: a given relative change to any one op moves it by
    the same amount, whether that op is a slow query or a fast one."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(values, pct):
    """The ``pct``-th percentile (nearest rank) of ``values``.

    A tail percentile is only reported when at least ten samples lie
    beyond it, so p90 needs 100 samples and p99 needs 1000; with fewer
    this raises ValueError instead of returning a number that is really
    the maximum of a handful of samples.
    """
    if not 0 < pct < 100:
        raise ValueError(f"percentile {pct} is not in (0, 100)")
    n = len(values)
    beyond = n * (100 - pct) / 100
    if beyond < 10:
        raise ValueError(f"p{pct} of {n} samples has {beyond:g} beyond it; needs 10")
    ranked = sorted(values)
    rank = -(-pct * n // 100)  # ceil(pct * n / 100), nearest-rank definition
    return ranked[int(rank) - 1]


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")
