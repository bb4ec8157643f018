"""Arithmetic of the benchmark: medians, percentiles with their sample
counts, job-interval unions, span self times and run-to-run spread.
Shared by run.py (one run) and compare.py (two sets of runs)."""
import math
import statistics

# A percentile is reported as resolved only when at least this many
# samples lie beyond it.
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def percentile(xs, q):
    """(value, samples, resolved): `resolved` holds when at least
    MIN_BEYOND samples lie strictly beyond the q-quantile's rank."""
    n = len(xs)
    beyond = n - math.ceil(round(q * n, 9))
    return quantile(xs, q), n, beyond >= MIN_BEYOND


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(wall_s, job_intervals_ms, start_ms, end_ms):
    """(busy_s, gap_s): the union of job intervals inside the pass window,
    and the pass wall time that no job covers."""
    busy = union_length(job_intervals_ms, start_ms, end_ms) / 1e3
    return busy, max(wall_s - busy, 0.0)


def self_times(spans):
    """Span id -> its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    out = {}
    for s in spans:
        covered = union_length(kids.get(s["id"], []), s["start_s"], s["end_s"])
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def spread(xs):
    """Interquartile range as a share of the median (Python's
    `statistics.quantiles(n=4)`, the exclusive method)."""
    if len(xs) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
