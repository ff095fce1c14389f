"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank ``pct``-th percentile of ``samples``.

    Raises ``ValueError`` unless at least ``MIN_BEYOND`` samples lie strictly
    beyond the reported rank, so p90 needs 100 samples and p50 needs 20.
    """
    n = len(samples)
    rank = max(1, math.ceil(pct / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{pct:g} of {n} samples leaves {n - rank} beyond it; need {MIN_BEYOND}"
        )
    return sorted(samples)[rank - 1]


def tail_percentile(samples: list[float], candidates=(99, 95, 90, 80, 50)) -> tuple[float, float] | None:
    """The highest candidate percentile the sample count supports, as
    ``(pct, value)``; ``None`` when even the lowest needs more samples."""
    for pct in candidates:
        try:
            return pct, percentile(samples, pct)
        except ValueError:
            continue
    return None


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def failure_ratio(failed: int, attempted: int) -> float:
    """Failed operations over attempted ones; an operation that raised or
    failed its correctness check counts as failed."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
