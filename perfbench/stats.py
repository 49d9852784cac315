"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

TAIL_MIN_BEYOND = 10


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """The highest whole percentile p such that at least `min_beyond` of
    `n` samples lie strictly beyond the p-th order statistic; None when
    fewer than min_beyond + 1 samples exist."""
    if n < min_beyond + 1:
        return None
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)  # nearest-rank position, 1-based
        if n - rank >= min_beyond:
            return p
    return None


def tail(values, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, int, int]:
    """(value, percentile, sample count) of the reported tail: the
    nearest-rank value at tail_percentile(len(values))."""
    xs = sorted(values)
    p = tail_percentile(len(xs), min_beyond)
    if p is None:
        raise ValueError(f"{len(xs)} samples: a tail needs at least {min_beyond + 1}")
    return float(xs[math.ceil(p / 100 * len(xs)) - 1]), p, len(xs)
