"""Order statistics for the benchmark's reports.

A tail percentile is only reported when at least ``MIN_BEYOND`` samples
lie beyond it; with fewer, the value is one or two unlucky ops and not a
property of the system, so ``percentile`` refuses it.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

#: Samples that must lie strictly beyond a reported tail percentile.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """A tail percentile was asked of too few samples."""


def percentile(samples: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) by the nearest-rank rule.

    Refuses (``TooFewSamples``) a tail percentile (q > 50) that has
    fewer than ``MIN_BEYOND`` samples beyond its rank.
    """
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    if not samples:
        raise TooFewSamples("no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(q / 100 * len(xs)))
    if q > 50 and len(xs) - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} of {len(xs)} samples has {len(xs) - rank} beyond it;"
            f" at least {MIN_BEYOND} are needed")
    return xs[rank - 1]


def highest_tail(samples: Sequence[float],
                 candidates: Sequence[float] = (99, 95, 90, 75)) -> tuple[float, float] | None:
    """``(q, value)`` for the highest candidate percentile the sample
    count supports, or ``None`` when even the lowest is refused."""
    for q in candidates:
        try:
            return q, percentile(samples, q)
        except TooFewSamples:
            continue
    return None


def iqr_share(samples: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(samples, n=4)
    return (q3 - q1) / q2
