"""Pure helpers behind the benchmark's numbers: order statistics, the
steady-state rule, and span arithmetic (interval unions and self time).
Tested by bench/test_stats.py."""

import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def nearest_rank(xs, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    s = sorted(xs)
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]


def tail_percentile(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples above
    it, as (percentile, value), or None when there are too few samples. With
    n samples that is the sample at rank n - beyond; its percentile is
    reported as the largest whole percent whose nearest rank is that sample.
    """
    n = len(xs)
    rank = n - beyond
    if rank < 1:
        return None
    p = max(q for q in range(1, 101) if math.ceil(q / 100 * n) <= rank)
    return p, nearest_rank(xs, p)


def steady(walls, tol, runs=2):
    """True when each of the last `runs` pass-to-pass changes is within
    `tol` (a share of the earlier pass)."""
    if len(walls) < runs + 1:
        return False
    recent = walls[-(runs + 1):]
    return all(abs(b - a) <= tol * a for a, b in zip(recent, recent[1:]))


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def covered(span, intervals):
    """Length of `span` covered by the union of `intervals`."""
    lo, hi = span
    return sum(max(0, min(e, hi) - max(s, lo)) for s, e in union(intervals))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)
