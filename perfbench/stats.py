"""Latency summaries."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that has at least
    ``TAIL_BEYOND`` samples above it: ``(value, percentile, samples
    beyond)``.

    Nearest rank: the sample at 1-based rank ``k`` of ``n`` sits at
    percentile ``100 * k / n`` with ``n - k`` samples beyond it, so the
    answer is rank ``n - TAIL_BEYOND``.  With ``TAIL_BEYOND`` samples or
    fewer no rank qualifies and the maximum is returned with 0 beyond it.
    """
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    n = len(s)
    k = n - TAIL_BEYOND
    if k < 1:
        return s[-1], 100.0, 0
    return s[k - 1], 100.0 * k / n, n - k


def kind_medians(values: list[float], rotation: int) -> list[float]:
    """Median latency of each op kind, where op ``i`` is of kind
    ``i % rotation`` (the ops run in fixed rotation)."""
    if len(values) < rotation:
        raise ValueError("fewer samples than op kinds")
    return [statistics.median(values[k::rotation]) for k in range(rotation)]
