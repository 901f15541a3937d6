"""Self-test of the benchmark's statistics; needs no Spark.

    python3 -m pytest perfbench/test_stats.py -q
    python3 perfbench/test_stats.py
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import (  # noqa: E402
    Outcomes,
    beyond,
    geomean,
    median,
    percentile,
    summary,
    supported,
    tail_percentile,
    warm,
)


def test_median_and_percentile():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    assert percentile(list(range(101)), 90) == 90
    assert percentile([1, 2], 50) == 1.5
    with pytest.raises(ValueError):
        median([])


def test_tail_needs_ten_samples_beyond():
    # 91 samples: only 9 lie beyond p90, so p90 is not supported
    assert beyond(list(range(91)), 90) == 9
    assert not supported(list(range(91)), 90)
    assert supported(list(range(92)), 90)
    assert beyond(list(range(101)), 90) == 10
    # ties at the cut do not count as beyond it
    assert not supported([1.0] * 95 + [2.0] * 9, 90)


def test_tail_never_falls_back_to_the_median():
    # 25 samples support no tail at all: the rule reports none instead
    # of a tail equal to p50
    assert tail_percentile(list(range(25))) is None
    assert "p50" in summary(list(range(25))) and len(summary(list(range(25)))) == 2
    # 45 samples support p75 but not p90
    assert tail_percentile(list(range(45))) == 75
    # 1000 samples support p99 (10 beyond) but not p99.9
    assert tail_percentile(list(range(1000))) == 99
    s = summary(list(range(1000)))
    assert s["n"] == 1000 and s["p99"] > s["p50"] and s["n_beyond"] >= 10


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    # a 10% gain on one short query moves the geomean as much as on a long one
    base = [0.7, 17.0]
    assert geomean([0.63, 17.0]) / geomean(base) == pytest.approx(geomean([0.7, 15.3]) / geomean(base))
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_warm_up_cut():
    assert warm([9, 8, 1, 2, 3], 2) == [1, 2, 3]
    assert warm([1, 2], 0) == [1, 2]
    with pytest.raises(ValueError):
        warm([1, 2], 2)
    with pytest.raises(ValueError):
        warm([1, 2], -1)


def test_error_rate_counts_operations():
    o = Outcomes()
    assert o.error_rate == 1.0  # nothing attempted is not a success
    for ok in (True, True, False, True):
        o.record(ok, "mismatch")
    assert (o.attempted, o.failed) == (4, 1)
    assert o.error_rate == 0.25
    assert o.errors == ["mismatch"]
    o.record(True, "not an error")
    assert o.errors == ["mismatch"] and math.isclose(o.error_rate, 0.2)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
