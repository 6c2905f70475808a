"""``dedup.connected_components``, the one connected-components routine
behind x26, x33 and x293: checked against a driver-side
union-find on hand-built and seeded random graphs, on both of its
paths (the driver finish at the default ``CC_DRIVER_EDGES``, the
distributed rounds with it forced to 0), plus its round bound, its
output contract and the x293 entry that runs it on the image pair
graph."""

from __future__ import annotations

import random
import uuid

import pytest

from json_to_parquet_spark.plans.inspect import executed_plan
from json_to_parquet_spark.queries import dedup


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """node → smallest node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _random_graph(seed: int, n: int = 60, m: int = 50) -> list[tuple[int, int]]:
    # both orientations and repeated edges occur: the input is undirected
    rng = random.Random(seed)
    pairs = ((rng.randrange(n), rng.randrange(n)) for _ in range(m))
    return [(a, b) for a, b in pairs if a != b]


LONG_PATH = [(i, i + 1) for i in range(299)]  # 300 nodes

GRAPHS = {
    # diameter 299: min-label propagation would need ~300 rounds
    "path": LONG_PATH,
    # 5 is adjacent to two roots: "no dst is also a src" alone would
    # accept the oriented input as converged
    "two_stars_sharing_a_leaf": [(1, 5), (2, 5), (1, 6), (2, 7)],
    "isolated_edges": [(1, 2), (3, 4), (10, 20), (40, 30)],
    "converged_star": [(0, i) for i in range(1, 10)],
    **{f"random_{s}": _random_graph(s) for s in (1, 2, 3)},
}

# Every graph here is under the default bound and finishes on the
# driver; a bound of 0 sends every graph through the distributed rounds.
DRIVER, ROUNDS = dedup.CC_DRIVER_EDGES, 0


def _edge_frame(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def _components(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    rows = dedup.connected_components(_edge_frame(spark, edges)).collect()
    got = {r.node: r.component for r in rows}
    assert len(got) == len(rows), "a node came out twice"
    return got


def _expect_finish(driver_edges):
    run = dedup.connected_components.last_run
    if driver_edges == ROUNDS:
        assert run["finish"] == "star_forest" and run["rounds"] >= 1, run
    else:
        assert (run["finish"], run["rounds"]) == ("driver", 0), run


@pytest.mark.parametrize(
    "name,driver_edges",
    [pytest.param(n, DRIVER, id=n) for n in sorted(GRAPHS)]
    + [pytest.param(n, ROUNDS, id=f"{n}-rounds") for n in sorted(GRAPHS)],
)
def test_matches_union_find(spark, monkeypatch, name, driver_edges):
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", driver_edges)
    edges = GRAPHS[name]
    assert _components(spark, edges) == _union_find(edges)
    _expect_finish(driver_edges)


@pytest.mark.parametrize("driver_edges", [DRIVER, ROUNDS], ids=["driver", "rounds"])
def test_empty_edge_frame(spark, monkeypatch, driver_edges):
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", driver_edges)
    assert _components(spark, []) == {}
    _expect_finish(driver_edges)


def test_rounds_hand_off_to_the_driver(spark, monkeypatch):
    """Above the bound the rounds run until the edges fall below it,
    then the driver closes what is left.  A star forest never has fewer
    edges than nodes minus components, so the path alone would not
    shrink; a 40-node clique's 780 edges collapse in the first round
    while the path keeps the graph from being a star forest."""
    clique = [(a, b) for a in range(1000, 1040) for b in range(a + 1, 1040)]
    edges = LONG_PATH + clique
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", 500)
    assert _components(spark, edges) == _union_find(edges)
    run = dedup.connected_components.last_run
    assert run["finish"] == "driver" and run["rounds"] >= 1, run
    assert run["edges"] < 500


def test_raises_on_nonconvergence(spark, monkeypatch):
    """With the round bound forced to 1 the long path cannot become a
    star forest, so the routine must raise instead of returning labels
    that are not the transitive closure.  Only the distributed rounds
    have a round bound, so the driver finish is switched off."""
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", ROUNDS)
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        _components(spark, LONG_PATH)


def test_raises_on_null_endpoints(spark):
    """A null endpoint joins nothing; dropping it would split {1..4}
    into {1, 2} and {3, 4} without a word."""
    with pytest.raises(ValueError, match="2 edges have a null endpoint"):
        _components(spark, [(1, 2), (2, None), (None, 3), (3, 4)])


def test_both_paths_share_one_output_contract(spark, monkeypatch):
    edges = _edge_frame(spark, GRAPHS["two_stars_sharing_a_leaf"])
    driver = dedup.connected_components(edges)
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", ROUNDS)
    rounds = dedup.connected_components(edges)
    assert driver.schema == rounds.schema
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in driver.schema] == [
        ("node", "bigint", True),
        ("component", "bigint", True),
    ]
    # the driver's result is a local relation: it neither reruns the
    # input nor ships rows through a Python worker
    plan = executed_plan(driver)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs that ``fn()`` submits, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _x293_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    from json_to_parquet_spark.queries.multimodal import x280_dhash_neardup_pairs

    return x280_dhash_neardup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )


def test_x293_converges_at_default_bound(spark, sf_dir):
    from json_to_parquet_spark.queries.multimodal import (
        x293_image_neardup_clusters,
    )

    assert x293_image_neardup_clusters(spark, sf_dir).count() > 0
    run = dedup.connected_components.last_run
    assert (run["finish"], run["rounds"]) == ("driver", 0), run


def test_x293_call_adds_at_most_two_jobs_to_its_input(spark, sf_dir):
    """x293's graph finishes on the driver with one aggregate (two jobs
    under AQE: its map stage and its result) and one fetch.  The
    checkpoint those read is the pair plan's own job; measured alone on
    an identical plan it costs the pair plan's stages plus the eager
    count that the aggregate replaces."""
    twin, pairs = _x293_pairs(spark, sf_dir), _x293_pairs(spark, sf_dir)
    checkpoint = _jobs_in_group(spark, lambda: twin.localCheckpoint(eager=True))
    call = _jobs_in_group(spark, lambda: dedup.connected_components(pairs))
    assert dedup.connected_components.last_run["finish"] == "driver"
    assert call <= checkpoint + 2, (call, checkpoint)
