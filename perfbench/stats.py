"""Percentiles and freshness accounting for the benchmark."""
import math

# a tail percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(q * len(s) - 1e-9) - 1)]


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q percentile."""
    return n - max(1, math.ceil(q * n - 1e-9))


def tail(values):
    """(q, value) for the highest percentile that has TAIL_SAMPLES samples
    beyond it, or None when that percentile would not lie above the median."""
    n = len(values)
    q = (n - TAIL_SAMPLES) / n
    if q <= 0.5:
        return None
    return q, percentile(values, q)


def median(values):
    return percentile(values, 0.5)


def freshness(files, batches):
    """Per-file freshness in ms, in file order.

    files: [(due_ms, rows)] in the order they were dropped.
    batches: [(rows, done_ms)] in batch order.
    A file counts against the first batch whose cumulative input rows cover
    it, and is timed from when it was due to when that batch was done.
    Files no batch covers get None.
    """
    out = []
    b, cum_batches = 0, 0
    cum_files = 0
    for due, rows in files:
        cum_files += rows
        while b < len(batches) and cum_batches + batches[b][0] < cum_files:
            cum_batches += batches[b][0]
            b += 1
        out.append(batches[b][1] - due if b < len(batches) else None)
    return out
