"""Summary statistics shared by the benchmark and its steadiness script."""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0)
MIN_BEYOND = 10
MIN_TAIL_SAMPLES = 40


def tail_percentile(n):
    """The highest candidate percentile that leaves at least ten of `n`
    samples beyond it, or None under forty samples (no tail then)."""
    if n < MIN_TAIL_SAMPLES:
        return None
    for p in TAIL_PERCENTILES:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p
    return None


def summarize(samples):
    """Median of the samples and, with enough of them, a tail.

    Returns {"n", "median", "tail_pct", "tail"}: under forty samples the
    median is reported alone (tail_pct and tail are None). The tail is
    the nearest-rank value at `tail_pct`.
    """
    xs = sorted(samples)
    out = {"n": len(xs), "median": statistics.median(xs) if xs else None,
           "tail_pct": None, "tail": None}
    p = tail_percentile(len(xs))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]
    return out


def spread(values):
    """(median, first quartile, third quartile, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
