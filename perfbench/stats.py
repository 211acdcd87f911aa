"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

import numpy as np

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest candidate percentile that leaves at least ``beyond``
    of ``n`` samples above it, or None when even the lowest does not."""
    for p in TAIL_PERCENTILES:
        # in thousandths, so 99.9 leaves exactly n / 1000 samples beyond it
        if n * (100_000 - round(p * 1000)) >= beyond * 100_000:
            return p
    return None


def timing_summary(values: Sequence[float]) -> dict:
    """Median, the highest percentile with ten samples beyond it, and the
    sample count."""
    n = len(values)
    p = tail_percentile(n)
    out = {"n": n, "p50": statistics.median(values) if n else None}
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = float(np.percentile(values, p))
    return out


def geomean(values: Sequence[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))
