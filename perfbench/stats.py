"""Latency summaries: median and the tail percentile with ten samples
beyond it."""

from __future__ import annotations

import statistics
from typing import Dict, List, Optional, Sequence, Tuple

TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> Optional[int]:
    """0-based index, in ascending order, of the highest sample that has at
    least ``beyond`` samples above it; None when there are too few."""
    i = n - 1 - beyond
    return i if i >= 0 else None


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND
         ) -> Optional[Tuple[float, float]]:
    """(value, percentile) of the tail sample: the highest percentile that
    still has ``beyond`` samples beyond it.  The percentile is the sample's
    nearest-rank position, 100 * (index + 1) / n."""
    xs = sorted(values)
    i = tail_rank(len(xs), beyond)
    if i is None:
        return None
    return xs[i], 100.0 * (i + 1) / len(xs)


def rank_classes(samples: List[Tuple[str, float]]) -> Dict[str, str]:
    """Which op class holds the p50 and tail samples of ``samples``
    ((class, latency) pairs) -- the check that each reported rank falls
    inside one class's latency band.  Ties in the median of an even count
    name both neighbours."""
    xs = sorted(samples, key=lambda s: s[1])
    n = len(xs)
    if n == 0:
        return {}
    lo, hi = xs[(n - 1) // 2][0], xs[n // 2][0]
    out = {"p50": lo if lo == hi else f"{lo}|{hi}"}
    i = tail_rank(n)
    if i is not None:
        out["tail"] = xs[i][0]
    return out
