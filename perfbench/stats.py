"""Statistics the benchmark reports, kept free of Spark so that
``perfbench/test_stats.py`` checks them in a second.

Every timing is a median over warm samples; a tail is reported only at
a percentile with at least ``MIN_BEYOND`` samples beyond it, so a tail
can never silently fall back to the median.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def percentile(values: Sequence[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def beyond(values: Sequence[float], p: float) -> int:
    """Number of samples strictly above the p-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def supported(values: Sequence[float], p: float, min_beyond: int = MIN_BEYOND) -> bool:
    return len(values) > 0 and beyond(values, p) >= min_beyond


def tail_percentile(
    values: Sequence[float],
    candidates: Sequence[float] = (99.9, 99, 95, 90, 75),
    min_beyond: int = MIN_BEYOND,
) -> float | None:
    """The highest candidate percentile with at least ``min_beyond``
    samples beyond it, or None when even the lowest is unsupported."""
    for p in sorted(candidates, reverse=True):
        if supported(values, p, min_beyond):
            return p
    return None


def geomean(values: Sequence[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive samples, got {list(values)!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def warm(samples: Sequence[float], cut: int) -> list[float]:
    """Drop the first ``cut`` samples (the warm-up); never returns an
    empty list silently."""
    if cut < 0:
        raise ValueError("negative warm-up cut")
    out = list(samples[cut:])
    if not out:
        raise ValueError(f"warm-up cut {cut} leaves none of {len(samples)} samples")
    return out


class Outcomes:
    """Counts operations against failures. An operation fails when it
    raises or when its output does not match the reference; one
    operation is counted once however many checks it fails."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.errors.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def summary(values: Sequence[float]) -> dict:
    """Median and supported tail with their sample counts, for the
    run record."""
    out = {"n": len(values), "p50": median(values)}
    p = tail_percentile(values)
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
        out["n_beyond"] = beyond(values, p)
    return out
