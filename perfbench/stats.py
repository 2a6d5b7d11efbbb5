"""Summary statistics the benchmark reports."""
import math

# Candidate percentiles, lowest first.
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """Nearest-rank percentile `p` (0-100] of `values`."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def tail_percentile(values, min_beyond=10):
    """(p, value) for the highest percentile in PERCENTILES that has at
    least `min_beyond` samples beyond it, or None when even the median
    has fewer."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if n - math.ceil(p / 100 * n) >= min_beyond:
            best = (p, percentile(values, p))
    return best

