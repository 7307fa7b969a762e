"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

# A tail percentile is only reported where at least this many samples lie
# beyond it; with fewer samples a "p99" is just the maximum.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int:
    """The highest whole percentile that leaves at least ``min_beyond`` of
    ``n`` samples strictly above it, never below the median.

    200 samples give p95 (10 beyond); with fewer than 2 * min_beyond
    samples no percentile above the median qualifies and the median is
    returned.
    """
    if n <= 0:
        raise ValueError("no samples")
    best = 50
    for p in range(99, 50, -1):
        # samples strictly beyond the p-th percentile position
        beyond = n - 1 - math.floor((n - 1) * p / 100.0)
        if beyond >= min_beyond:
            best = p
            break
    return best


def median(values: list[float]) -> float:
    return statistics.median(values)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children counted once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
