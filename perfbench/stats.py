"""Small statistics helpers shared by the runner, the trace analysis
and the self-tests."""

from __future__ import annotations

import math

# a reported percentile needs at least this many samples beyond it
MIN_BEYOND = 10
PERCENTILE_LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)


def percentile(samples: list[float], q: float) -> float:
    """Linearly interpolated percentile (numpy's default). A failed op
    enters as +inf, so failures can only push a percentile up."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    frac = pos - lo
    if frac == 0:
        return xs[lo]
    hi = xs[lo + 1]
    if math.isinf(hi):
        return hi
    return xs[lo] + (hi - xs[lo]) * frac


def beyond(n: int, q: float) -> int:
    """Samples above the interpolated `q` percentile of n samples."""
    return n - 1 - math.floor(q * (n - 1))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile of the ladder that still has `min_beyond`
    samples beyond it, or None when even the median has too few."""
    for q in PERCENTILE_LADDER:
        if beyond(n, q) >= min_beyond:
            return q
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end)
    intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    """The parts of `intervals` that fall inside [lo, hi)."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
