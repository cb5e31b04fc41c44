"""Sample summaries: median, quartiles and the highest percentile that has
at least ten samples beyond it."""

from __future__ import annotations

import math

import numpy as np


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p with at least ten of n samples above it."""
    if n <= 10:
        return None
    return math.floor(100 * (n - 10) / n)


def summary(values: list[float]) -> dict:
    v = np.sort(np.asarray(values, dtype=np.float64))
    out = {"n": int(len(v)), "median": float(np.median(v)),
           "q1": float(np.percentile(v, 25)), "q3": float(np.percentile(v, 75)),
           "min": float(v[0]), "max": float(v[-1])}
    p = tail_percentile(len(v))
    out["tail_pct"] = p
    out["tail"] = None if p is None else float(np.percentile(v, p))
    return out
