"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with at least this many samples
#: strictly beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile ``p`` (at least 50) that still has
    ``TAIL_BEYOND`` samples beyond it, with its nearest-rank value.

    With n samples, nearest rank ``ceil(p/100 * n)`` leaves
    ``n - rank`` samples above, so ``p = floor(100 * (n - 10) / n)``.
    50 samples give p80; fewer than 20 samples give no tail."""
    n = len(values)
    if n == 0:
        return None
    p = math.floor(100 * (n - TAIL_BEYOND) / n)
    while p >= 50 and n - math.ceil(p * n / 100) < TAIL_BEYOND:
        p -= 1
    if p < 50:
        return None
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(values)[rank - 1]


def summary(values: list[float]) -> dict:
    """``{"n", "p50", "tail_p", "tail"}`` — the sample count always sits
    next to the percentiles it backs."""
    tail = tail_percentile(values)
    return {
        "n": len(values),
        "p50": median(values),
        "tail_p": tail[0] if tail else None,
        "tail": tail[1] if tail else None,
    }
