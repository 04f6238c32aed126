"""Summary statistics and byte-ratio metrics shared by every workload."""

from __future__ import annotations

import statistics

# Percentiles tried, highest first, when a tail figure is reported.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile from ``TAIL_LADDER`` that leaves at least
    ``MIN_BEYOND`` samples strictly above its rank, as ``(p, value)``;
    None when there are too few samples for any of them."""
    n = len(values)
    for p in TAIL_LADDER:
        rank = -(-n * p // 100)
        if n - rank >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def write_amp(bytes_written: int, user_bytes: int) -> float:
    """Data and delete-file bytes the engine wrote per byte the user
    asked it to store."""
    if user_bytes <= 0:
        raise ValueError("write_amp needs a positive user byte count")
    return bytes_written / user_bytes


def bytes_per_seq(live_bytes: int, live_rows: int) -> float:
    """Live data-file bytes per live sequence."""
    if live_rows <= 0:
        raise ValueError("bytes_per_seq needs at least one live row")
    return live_bytes / live_rows
