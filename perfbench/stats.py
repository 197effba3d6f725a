"""Percentiles and interval arithmetic, with no Spark dependency.

Percentiles use the nearest-rank rule: the p-th percentile of n sorted
samples is the sample at rank ceil(p/100 * n), so exactly
n - ceil(p/100 * n) samples lie beyond it. A tail percentile is reported
only when at least MIN_BEYOND samples lie beyond it.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile among n samples."""
    return max(1, math.ceil(p / 100.0 * n))


def beyond(n: int, p: float) -> int:
    """Samples strictly beyond the p-th percentile's rank."""
    return n - rank(n, p)


def percentile(values, p: float) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[rank(len(s), p) - 1]


def tail_percentile(values, ladder=LADDER) -> tuple[float, float] | None:
    """(p, value) for the highest p on the ladder with at least
    MIN_BEYOND samples beyond it; None when even the lowest rung has
    fewer."""
    n = len(values)
    for p in ladder:
        if beyond(n, p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def describe(values, unit: str) -> str:
    """One line: median, the tail percentile the rule allows, and n."""
    n = len(values)
    if not n:
        return "no samples"
    tail = tail_percentile(values)
    tail_s = f"p{tail[0]:g}={tail[1]:.4g}{unit}" if tail else "no tail percentile"
    return f"p50={percentile(values, 50):.4g}{unit} {tail_s} n={n}"


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(duration: float, children) -> float:
    """A span's duration minus the time its child spans, given as
    (start, end) intervals inside it, cover; overlapping children count
    once."""
    return duration - union_length(children)
