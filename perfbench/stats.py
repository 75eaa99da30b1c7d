"""Summary statistics for timed samples.

A timing is reported as its median plus the highest percentile of
:data:`LADDER` that still has at least :data:`MIN_BEYOND` samples above it,
together with the sample count. Percentiles use the nearest-rank rule, so
``p`` of ``n`` samples is the ``ceil(p/100 * n)``-th smallest value and
exactly ``floor(n * (100 - p) / 100)`` samples lie beyond it.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

#: Percentiles a tail may be reported at, lowest first.
LADDER: tuple[float, ...] = (75.0, 90.0, 95.0, 99.0, 99.9)

#: Samples that must lie beyond a reported tail percentile.
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` in ``n`` samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def beyond(n: int, p: float) -> int:
    """Samples of ``n`` that lie strictly beyond nearest-rank percentile ``p``."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of :data:`LADDER` with ``MIN_BEYOND`` samples beyond
    it, or None when ``n`` is too small for any of them."""
    best = None
    for p in LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    return ordered[_rank(len(ordered), p) - 1]


def pct_label(p: float) -> str:
    """``99.0`` → ``"p99"``, ``99.9`` → ``"p99.9"``."""
    return f"p{p:g}"


def summarize(values: Sequence[float]) -> dict:
    """Median, tail and sample count of a timing sample (empty → n only)."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail"] = pct_label(tail)
        out["tail_value"] = percentile(values, tail)
    return out
