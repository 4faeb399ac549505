"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def nearest_rank(samples: list[float], pct: float) -> float:
    """The ``pct``-th percentile by the nearest-rank rule."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    return s[max(1, math.ceil(pct / 100.0 * len(s))) - 1]


def tail_percentile(samples: list[float], cap: int = 99) -> dict:
    """The highest whole percentile (at most ``cap``) that has at least
    ``MIN_BEYOND`` samples beyond it, with its value and the sample
    count. ``pct`` is None when there are too few samples for any."""
    n = len(samples)
    pct = min(cap, (100 * (n - MIN_BEYOND)) // n) if n > MIN_BEYOND else 0
    if pct <= 0:
        return {"pct": None, "value": None, "n": n}
    return {"pct": pct, "value": nearest_rank(samples, pct), "n": n}


def prefix_self_times(prefix_medians: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each stage of a lazy chain from the medians of its
    prefixes, each run on its own: the first stage owns its whole
    prefix, each later one the difference to the previous prefix. Not
    clamped, so measurement noise can make a cheap stage negative."""
    out, prev = {}, 0.0
    for name, t in prefix_medians:
        out[name] = t - prev
        prev = t
    return out
