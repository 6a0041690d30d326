"""The tail statistic the benchmark reports."""

from __future__ import annotations

#: a tail percentile needs at least this many samples above it
TAIL_MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest nearest-rank percentile that
    has at least TAIL_MIN_BEYOND samples beyond it.  With fewer than
    TAIL_MIN_BEYOND + 1 samples no percentile qualifies and the maximum
    (percentile 100) is returned, so the value is always defined."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return 100.0, xs[-1]
    rank = n - TAIL_MIN_BEYOND  # 1-based; exactly TAIL_MIN_BEYOND samples follow it
    return 100.0 * rank / n, xs[rank - 1]
