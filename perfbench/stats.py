"""The benchmark's arithmetic: medians and quartiles, the tail rule, interval
unions, and self time of nested spans. Tested by perfbench/test_stats.py."""
import math
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def quartiles(xs):
    """(q1, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (None, None)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def iqr_share(xs):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / m if m else None


def iqm(xs):
    """Interquartile mean: the mean of the middle half of a sorted sample
    (its lowest and highest quarters, rounded down, dropped)."""
    if not xs:
        return None
    s = sorted(xs)
    k = len(s) // 4
    mid = s[k:len(s) - k]
    return sum(mid) / len(mid)


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs):
    """The highest percentile with at least TAIL_MIN_BEYOND samples strictly
    above it: (percentile, value, n). None when the sample is too small."""
    s = sorted(xs)
    for p in TAIL_PERCENTILES:
        if not s:
            break
        v = percentile(s, p)
        if sum(1 for x in s if x > v) >= TAIL_MIN_BEYOND:
            return p, v, len(s)
    return None


def union(intervals, lo=None, hi=None):
    """Merged, sorted intervals, each clipped to [lo, hi] when given."""
    out = []
    for a, b in sorted(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def union_length(intervals, lo=None, hi=None):
    return sum(b - a for a, b in union(intervals, lo, hi))


def self_times(spans):
    """Self time of every span: its duration minus the part of it covered by
    its children. `spans` are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(c["start"], c["end"]) for c in kids.get(s["id"], [])
                                if c["id"] != s["id"]], s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
