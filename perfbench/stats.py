"""Percentiles that refuse to report a tail the samples cannot support."""

from __future__ import annotations

import math

MIN_TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (linear interpolation between ranks).

    A tail percentile (q > 50) needs at least ``MIN_TAIL_SAMPLES`` samples
    beyond it; with fewer, ``ValueError`` is raised instead of reporting a
    number that is mostly one sample.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    if q > 50 and n * (100 - q) / 100 < MIN_TAIL_SAMPLES:
        raise ValueError(
            f"p{q:g} needs {MIN_TAIL_SAMPLES} samples beyond it; "
            f"{n} samples leave {n * (100 - q) / 100:g}"
        )
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)
