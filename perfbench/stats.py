"""Statistics and output checks the benchmark reports with.

Percentiles interpolate linearly between order statistics (numpy's
default, and Spark's `percentile`), so a run's figures agree with the
library's own `TraceAnalytics` summaries of the same samples.
"""
import math
import statistics

TAIL_CANDIDATES = (99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median and third quartile, as
    `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def iqr_share(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def percentile(xs, p):
    """The p-th percentile (0-100) with linear interpolation."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least ten of `n`
    samples beyond it (99 samples give p90), or None."""
    for p in sorted(candidates, reverse=True):
        if round(n * (100 - p) / 100.0) >= 10:
            return p
    return None


def slope(xs, ys):
    """Least-squares slope of ys against xs and its standard error
    (None when fewer than three points or xs do not vary)."""
    n = len(xs)
    if n < 3 or len(set(xs)) < 2:
        return None
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    rss = sum((y - my - b * (x - mx)) ** 2 for x, y in zip(xs, ys))
    return b, math.sqrt(rss / (n - 2) / sxx)


def golden_mismatches(outputs, goldens):
    """Names of the outputs whose row count or content hash differs
    from the golden recorded for them. An output the golden lacks, or
    a golden output the run did not produce, is a mismatch too."""
    names = sorted(set(outputs) | set(goldens))
    return [n for n in names if outputs.get(n) != goldens.get(n)]
