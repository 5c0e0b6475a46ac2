"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it; fewer and the figure is one or two outliers, not a tail.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile. Refuses (TooFewSamples) when fewer than
    MIN_BEYOND samples lie beyond it: p90 needs >= 100 samples, p50 >= 20."""
    if not 0 < pct < 100:
        raise ValueError(f"percentile must be in (0, 100), got {pct}")
    n = len(samples)
    rank = max(1, math.ceil(pct / 100 * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{pct:g} of {n} samples has {n - rank} beyond it; need {MIN_BEYOND}"
        )
    return sorted(samples)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)

