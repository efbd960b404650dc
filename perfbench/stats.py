"""The benchmark's own arithmetic: percentiles, interval unions, self time.

Times are plain numbers in one unit; intervals are (start, end) pairs.
"""


def percentile(values, p):
    """p-th percentile (0..100) by linear interpolation between the two
    nearest ranks: rank = p/100 * (n - 1), counted from 0."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = p / 100.0 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def median(values):
    return percentile(values, 50)


def merge(intervals):
    """Sorted, non-overlapping union of the given intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def covered(intervals, lo, hi):
    """Length of [lo, hi] that the union of `intervals` covers."""
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals]
    return sum(e - s for s, e in merge(clipped))


def union_length(intervals):
    return sum(e - s for s, e in merge(intervals))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)
