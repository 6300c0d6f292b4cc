"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile.  Refuses (``ValueError``) a
    percentile with fewer than ``MIN_BEYOND`` samples above its rank,
    since such a tail is set by a handful of operations."""
    if not samples:
        raise ValueError("no samples")
    if not 0.0 < p < 100.0:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(samples)
    rank = max(1, math.ceil(p / 100.0 * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {beyond} beyond it; "
            f"needs at least {MIN_BEYOND}"
        )
    return sorted(samples)[rank - 1]


def highest_tail(samples: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest of ``TAIL_PERCENTILES`` that
    ``percentile`` accepts, or ``None`` when the sample is too small
    for any of them."""
    for p in TAIL_PERCENTILES:
        try:
            return p, percentile(samples, p)
        except ValueError:
            continue
    return None


def drift(samples: list[float]) -> float:
    """Median of the second half over median of the first half, in
    operation order: above 1 the run was slowing down, below 1 it was
    still warming up."""
    if len(samples) < 2:
        raise ValueError("drift needs at least 2 samples")
    half = len(samples) // 2
    return statistics.median(samples[-half:]) / statistics.median(samples[:half])


def settled(samples: list[float], window: int = 3, tol: float = 0.10) -> bool:
    """True once the median of the last ``window`` samples is no more
    than ``tol`` below the median of the ``window`` before them, i.e.
    latency has stopped falling."""
    if len(samples) < 2 * window:
        return False
    last = statistics.median(samples[-window:])
    prev = statistics.median(samples[-2 * window : -window])
    return last >= (1.0 - tol) * prev
