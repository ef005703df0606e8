"""Summary statistics of latency samples, shared by the run and its README."""
import statistics

# A tail percentile needs at least this many samples beyond it, and a run
# needs TAIL_MIN_SAMPLES samples before any percentile is a tail at all.
TAIL_BEYOND = 10
TAIL_MIN_SAMPLES = 40


def median(xs):
    """Median; on an even count the mean of the two middle samples."""
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """(percentile, value) of the highest percentile with at least
    TAIL_BEYOND samples above it, or None below TAIL_MIN_SAMPLES samples.
    """
    n = len(xs)
    if n < TAIL_MIN_SAMPLES:
        return None
    s = sorted(xs)
    i = n - TAIL_BEYOND - 1
    return int(100 * (i + 1) / n), max(s[i], median(s))


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)
