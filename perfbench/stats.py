"""Statistics shared by the benchmark and its steadiness script."""
import statistics

MIN_BEYOND = 10  # samples a percentile needs beyond it to be a tail


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """The p-th percentile (0 < p < 100, nearest rank), refused unless at
    least MIN_BEYOND samples lie beyond it."""
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(xs)
    rank = max(1, -(-p * n // 100))  # ceil(p * n / 100)
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} samples has {n - rank} beyond it, "
                         f"needs {MIN_BEYOND}")
    return sorted(xs)[int(rank) - 1]


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")
