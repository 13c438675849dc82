"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 90.0, 50.0)


def supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile of TAIL_LADDER that leaves at least
    ``min_beyond`` of ``n`` samples above it, or None when even the
    median does not."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= min_beyond:  # 100 x 10% is 10
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(math.ceil(p / 100.0 * len(ordered)), 1)
    return ordered[rank - 1]


def summarize(values: list[float]) -> dict:
    """Median, sample count, maximum and the highest tail percentile the
    sample supports (None when it supports none)."""
    if not values:
        raise ValueError("summary of an empty sample")
    p = supported_percentile(len(values))
    return {
        "n": len(values),
        "median": statistics.median(values),
        "max": max(values),
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else None,
    }


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def format_summary(s: dict, unit: str) -> str:
    tail = f", p{s['tail_p']:g} {s['tail']:.4g}" if s["tail_p"] is not None else ""
    return f"median {s['median']:.4g} {unit} (n={s['n']}, max {s['max']:.4g}{tail})"
