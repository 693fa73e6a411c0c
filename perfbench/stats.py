"""Order statistics for benchmark samples.

``median`` is the true median: the mean of the two middle values for an
even count. (Indexing ``sorted(x)[len(x) // 2]`` returns the upper middle
value, which for two trials is simply the larger one.)
"""

from __future__ import annotations

import statistics

# candidate tail percentiles, highest first
_TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float]:
    """(q1, q3) as ``statistics.quantiles(values, n=4)`` gives them; a single
    sample is its own quartiles."""
    if len(values) < 2:
        return median(values), median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile p with at least ten samples
    above it, or None when there are too few samples for any."""
    n = len(values)
    for p in _TAILS:
        if n * (100.0 - p) / 100.0 >= 10:
            ranked = sorted(values)
            k = min(n - 1, int(n * p / 100.0))
            return p, ranked[k]
    return None


def summary(values: list[float]) -> dict:
    """Median, quartiles and tail percentile of ``values``, with the count."""
    q1, q3 = quartiles(values)
    out = {"n": len(values), "median": median(values), "q1": q1, "q3": q3}
    tail = tail_percentile(values)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out
