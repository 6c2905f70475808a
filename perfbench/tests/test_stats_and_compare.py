"""Geomean, quartile and interval math, and the compare verdicts."""

from __future__ import annotations

import math
import statistics

import pytest

from perfbench import stats
from perfbench.compare import compare, pair_up, verdict


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([5.0]) == pytest.approx(5.0)
    assert stats.geomean([1.0, 10.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_quartiles_match_statistics_quantiles():
    values = [3.1, 1.0, 4.1, 1.5, 9.2, 2.6, 5.3, 5.8, 9.7, 3.2]
    q1, q2, q3 = stats.quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert q2 == pytest.approx(statistics.median(values))
    assert stats.iqr_share(values) == pytest.approx((q3 - q1) / q2)
    assert stats.quartiles([7.0]) == (7.0, 7.0, 7.0)
    assert stats.iqr_share([7.0, 7.0, 7.0]) == 0.0


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2
    assert stats.union_length([(0, 2), (1, 3)]) == 3
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert stats.union_length([(5, 6), (0, 1), (0.5, 2)]) == 3


def test_clip():
    assert stats.clip((0, 10), (2, 5)) == (2, 5)
    assert stats.clip((0, 1), (2, 5)) is None


def test_verdict_better_needs_ten_pairs_and_nine_tenths():
    parent = [10.0 + 0.1 * i for i in range(10)]
    change = [8.0 + 0.1 * i for i in range(10)]
    pairs = list(zip(parent, change))
    assert verdict(parent, change, pairs, "lower", 0.1)[0] == "better"
    # nine pairs only: no gain claim, but every change run is better
    assert verdict(parent[:9], change[:9], pairs[:9], "lower", 0.1)[0] == "within-bound"
    # the same numbers read as a loss when higher is better
    assert verdict(parent, change, pairs, "higher", 0.1)[0] == "worse"


def test_verdict_unresolved_when_spread_exceeds_bound():
    parent = [10.0, 14.0, 8.0, 12.0, 9.0, 13.0, 11.0, 10.0, 15.0, 7.0]
    change = [11.0, 9.0, 13.0, 10.0, 12.0, 8.0, 14.0, 11.0, 9.0, 12.0]
    pairs = list(zip(parent, change))
    assert verdict(parent, change, pairs, "lower", 0.05)[0] == "unresolved"


def test_verdict_worse_and_within_bound():
    parent = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.02, 9.98, 10.0]
    worse = [v * 1.2 for v in parent]
    same = [v * 1.01 for v in parent]
    assert verdict(parent, worse, list(zip(parent, worse)), "lower", 0.1)[0] == "worse"
    assert verdict(parent, same, list(zip(parent, same)), "lower", 0.1)[0] == "within-bound"


def test_pairing_by_seed_and_compare_rows():
    spec = {
        "workloads": [{"name": "w"}],
        "end_to_end": [{"name": "m", "unit": "s", "better": "lower", "bound": 0.1}],
    }

    def rec(seed, v):
        return {"workload": "w", "seed": seed, "metrics": {"m": {"value": v}}}

    parent = [rec(s, 10.0 + s * 0.01) for s in range(10)]
    change = [rec(s, 5.0 + s * 0.01) for s in reversed(range(10))]
    assert all(p["seed"] == c["seed"] for p, c in pair_up(parent, change))
    (row,) = compare(parent, change, spec)
    assert row["verdict"] == "better"
    assert row["pairs"] == (10, 0, 0)
    assert math.isclose(row["parent"][1], 10.045)
