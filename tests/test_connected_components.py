"""``dedup.connected_components``, the one connected-components routine
behind x26, x33, x186 and x293: checked against a driver-side
union-find on hand-built and seeded random graphs, plus its round
bound and the x293 entry that runs it on the image pair graph."""

from __future__ import annotations

import random

import pytest

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


def _components(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = dedup.connected_components(df).collect()
    got = {r.node: r.component for r in rows}
    assert len(got) == len(rows), "a node came out twice"
    return got


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_matches_union_find(spark, name):
    edges = GRAPHS[name]
    assert _components(spark, edges) == _union_find(edges)


def test_empty_edge_frame(spark):
    assert _components(spark, []) == {}


def test_raises_on_nonconvergence(spark, monkeypatch):
    """With the round bound forced to 1 the long path cannot become a
    star forest, so the routine must raise instead of returning labels
    that are not the transitive closure."""
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        _components(spark, LONG_PATH)


def test_x293_converges_at_default_bound(spark, sf_dir):
    from json_to_parquet_spark.queries.multimodal import (
        x293_image_neardup_clusters,
    )

    assert x293_image_neardup_clusters(spark, sf_dir).count() > 0
