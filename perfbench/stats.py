"""Summary statistics and metric-name rules shared by the benchmark scripts."""

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Percentiles a run may report as its tail, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 50.0)


def median(values):
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def percentile(values, p):
    """Linear-interpolated percentile (0 <= p <= 100) of the values."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """The highest percentile with at least ten of `n` samples above it,
    or None when there are too few samples for any tail."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def spread(values):
    """Interquartile distance as a share of the median, with the quartiles
    as `statistics.quantiles(values, n=4)` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def valid_name(name):
    return bool(NAME_RE.match(name))
