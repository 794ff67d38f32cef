"""Summary statistics the benchmark reports (pure functions)."""

from __future__ import annotations

import math
import statistics

#: Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 90.0, 50.0)


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest ladder percentile with at least ten samples beyond it,
    as ``(percentile, value)`` by nearest rank; None below 20 samples."""
    n = len(values)
    ordered = sorted(values)
    for p in TAIL_LADDER:
        rank = math.ceil(round(p * n / 100.0, 9))
        if n - rank >= 10:
            return p, ordered[rank - 1]
    return None


def summarize(samples: dict[str, list[float]]) -> dict[str, dict]:
    """Per op type: sample count, median and tail percentile."""
    out = {}
    for name, values in samples.items():
        tail = tail_percentile(values)
        out[name] = {
            "n": len(values),
            "p50_s": statistics.median(values),
            "tail": None if tail is None else {"p": tail[0], "s": tail[1]},
            "samples_s": [round(v, 4) for v in values],
        }
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
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
