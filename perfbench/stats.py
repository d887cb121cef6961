"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only with at least this many samples above it.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100).

    Raises ValueError when fewer than MIN_BEYOND samples lie beyond the
    rank, because such a tail is one or two outliers, not a percentile.
    """
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n = len(values)
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} needs {MIN_BEYOND} samples beyond it; {n} samples give {n - rank}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)
