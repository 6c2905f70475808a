"""Plan hygiene for the driver's 50-slot gate sample, in the default profile.

The registry-wide sweeps in ``tests/test_plans.py`` are release-gate
only (``slow``).  This runs the same three invariants on the entries the
next gate round samples, ``list(registry())[:50]`` (stalest proof first,
so the window walks the whole registry across rounds), building each
plan once: no row-at-a-time Python, no cartesian product, and a
nested-loop join only where ``_BNLJ_ALLOWED`` vouches for a
constant-size broadcast side."""

from __future__ import annotations

import pytest

from json_to_parquet_spark.queries import registry
from tests.test_plans import _BNLJ_ALLOWED, _plan


@pytest.mark.parametrize("name", list(registry())[:50])
def test_gate_sample_plan_hygiene(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    if name not in _BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan
