"""Percentiles, spreads and failure ratios of the benchmark's samples."""
import math
import statistics


def tail_percentile(n):
    """The highest whole percentile that leaves at least ten of `n`
    samples strictly above its nearest rank; None when n < 11."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def median(values):
    return statistics.median(values)


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of statistics.quantiles(n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def failed_frac(attempted, failed):
    """Operations that failed divided by operations attempted; a run that
    attempted nothing counts as wholly failed."""
    if attempted < 0 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: {failed} failed of {attempted}")
    return 1.0 if attempted == 0 else failed / attempted
