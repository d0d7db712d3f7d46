"""Percentiles under the sample-count rule, and the result line."""

from __future__ import annotations

import json
import math

import numpy as np

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def min_samples(q: float) -> int:
    """Smallest sample count that leaves MIN_BEYOND samples above the
    q-quantile (q in (0, 1))."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values, q: float) -> float:
    """Linear-interpolated q-quantile; raises TooFewSamples when fewer than
    MIN_BEYOND samples lie beyond it."""
    n = len(values)
    if n < min_samples(q):
        raise TooFewSamples(
            f"p{q * 100:g} needs >= {min_samples(q)} samples, got {n}")
    return float(np.quantile(np.asarray(values, dtype=np.float64), q))


def tail_quantile(n: int, qs=(0.99, 0.95, 0.9, 0.75, 0.5)) -> float:
    """The highest of `qs` that `n` samples support under the rule
    (0.5 when none does, so `percentile` then raises)."""
    return next((q for q in qs if n >= min_samples(q)), qs[-1])


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict) -> str:
    """The benchmark's last stdout line."""
    if attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
