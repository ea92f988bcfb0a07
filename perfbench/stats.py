"""Tail figure for the benchmark's latency samples."""

from __future__ import annotations

import statistics

import numpy as np

#: Percentiles considered for a tail figure, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(xs, min_beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of ``TAIL_LADDER`` with at least ``min_beyond``
    samples above it, as ``(percentile, value)``, linearly interpolated. A
    sample too small for any of them falls back to ``(50.0, median)``."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p, float(np.percentile(xs, p))
    return 50.0, statistics.median(xs)
