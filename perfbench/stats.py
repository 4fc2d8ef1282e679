"""Summary statistics shared by the benchmark runner and the diff script."""
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond
# it: p50 needs 20 samples, p90 needs 100.
MIN_BEYOND = 10


def percentile(values, p, min_beyond=MIN_BEYOND):
    """Nearest-rank p-th percentile (0 < p < 1) of `values`, or None when
    fewer than `min_beyond` samples lie above the rank."""
    n = len(values)
    rank = math.ceil(p * n)
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def summary(values):
    """Median, quartiles and sample count of a list of numbers."""
    values = [v for v in values if v is not None]
    if not values:
        return {"median": None, "q1": None, "q3": None, "n": 0}
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "n": len(values)}
