"""Pure helpers for summarising benchmark samples (no Spark, no I/O)."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def tail_percentile(samples) -> dict:
    """The highest percentile of ``samples`` with at least TAIL_MIN_BEYOND
    samples above its rank, as ``{"pct", "value", "n"}``.

    With n sorted samples the value at 0-based rank ``n - 1 - TAIL_MIN_BEYOND``
    has exactly TAIL_MIN_BEYOND samples beyond it; its percentile is
    ``100 * (rank + 1) / n``. With ``n <= TAIL_MIN_BEYOND`` no rank
    qualifies, so the maximum is returned and labelled p100: the caller
    reports the label with the value, never a bare number.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - 1 - TAIL_MIN_BEYOND
    if rank < 0:
        return {"pct": 100.0, "value": xs[-1], "n": n}
    return {"pct": 100.0 * (rank + 1) / n, "value": xs[rank], "n": n}


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` (``(start, end)`` pairs) clipped
    to ``[lo, hi]``. Overlapping and nested intervals count once."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(samples) -> float:
    return float(statistics.median(samples))


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles from ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
