"""Sample summaries: median, tail percentile with its sample-count rule,
and the class split of the median sample."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, its value is set by one or two samples.
MIN_BEYOND_TAIL = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, q: float):
    """The q-th percentile (0 < q < 100, nearest rank) of ``values``, or
    None when fewer than MIN_BEYOND_TAIL samples lie beyond it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND_TAIL:
        return None
    return float(sorted(values)[rank - 1])


def highest_tail(values, candidates=(99.9, 99.0, 95.0, 90.0)):
    """(q, value) for the highest candidate percentile that has enough
    samples beyond it, or (None, None)."""
    for q in candidates:
        v = tail_percentile(values, q)
        if v is not None:
            return q, v
    return None, None


def median_split(samples: list[dict], key: str = "total") -> dict:
    """The class split of the median sample by ``key``.

    With an odd count it is the middle sample; with an even count, the mean
    of the two middle samples. Either way the class values sum to the median
    of ``key`` whenever each sample's classes sum to its ``key``."""
    ordered = sorted(samples, key=lambda s: s[key])
    n = len(ordered)
    mid = ordered[(n - 1) // 2 : n // 2 + 1]
    return {k: sum(s[k] for s in mid) / len(mid) for k in ordered[0]}


def halves(values) -> tuple:
    """Medians of the first and second half of a sample sequence (drift
    evidence); (None, None) with fewer than two samples."""
    if len(values) < 2:
        return None, None
    h = len(values) // 2
    return median(values[:h]), median(values[h:])
