"""Order statistics used by every workload."""

from __future__ import annotations

import statistics

#: a tail percentile needs at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float | None, float | None, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``. With ``n`` samples the k-th
    smallest (1-based) has ``n - k`` samples beyond it, so the highest
    admissible rank is ``k = n - 10`` and the percentile reported is
    ``100 * k / n``. Fewer than eleven samples admit no percentile:
    value and percentile are None.
    """
    n = len(values)
    k = n - TAIL_MIN_BEYOND
    if k < 1:
        return None, None, n
    return float(sorted(values)[k - 1]), 100.0 * k / n, n

