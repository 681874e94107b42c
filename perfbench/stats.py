"""Summary statistics the benchmark reports, kept apart so they are tested."""
import math
import statistics

# candidate percentiles for the tail, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(xs, p):
    """Percentile by linear interpolation between the two nearest ranks
    (numpy's default): with a handful of samples a run has, it blends the
    two samples around p instead of jumping to a single one."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    h = p / 100.0 * (len(s) - 1)
    lo = math.floor(h)
    if lo + 1 >= len(s):
        return s[-1]
    return s[lo] + (h - lo) * (s[lo + 1] - s[lo])


def beyond(n, p):
    """Samples that always lie strictly beyond the p-th percentile of n
    distinct samples."""
    return n - 1 - math.floor(p / 100.0 * (n - 1))


def tail_percentile(n, min_beyond=10):
    """The highest percentile with at least `min_beyond` samples beyond it,
    or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def error_rate(attempted, failed):
    """Failed (thrown or mismatched) operations over operations attempted; a
    failed operation is still an attempted one."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed operations must be counted as attempted")
    return failed / attempted


def spread(values):
    """Inter-quartile distance as a share of the median (the stability rule)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
