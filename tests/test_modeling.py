"""``queries.modeling``'s x208 k-center coreset: its picks against the
pre-running-min re-fold, the coverage-radius curve, and its driver
finish (``CORESET_DRIVER_ROWS``) against the Spark rounds — row for
row, on the testdata corpora and on a malformed one the driver path
declines — plus the finish's cost: one fetch, nothing persisted."""

from __future__ import annotations

import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from json_to_parquet_spark.queries import modeling, registry


def _x208_refold_reference(spark, sf_dir):
    """The pre-r15 x208 shape: every round re-folds distances against
    the whole selected set via crossJoin+groupBy(MIN)."""
    from json_to_parquet_spark.queries.modeling import CORESET_K
    from json_to_parquet_spark.queries.similarity import _sq_dist
    from json_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).persist()
    first = emb.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    picks = [(1, int(first.vec_id), 0.0)]
    sel = [(int(first.vec_id), list(first.v))]
    for r in range(2, CORESET_K + 1):
        sel_df = spark.createDataFrame(
            [(i, vv) for i, vv in sel], "s_id long, s_vec array<double>"
        )
        sel_ids = [i for i, _ in sel]
        md = (
            emb.filter(~F.col("vec_id").isin(sel_ids))
            .crossJoin(F.broadcast(sel_df))
            .select(
                "vec_id", "v",
                _sq_dist(F.col("v"), F.col("s_vec")).alias("d"),
            )
            .groupBy("vec_id")
            .agg(F.min("d").alias("md"), F.first("v").alias("v"))
        )
        top = md.orderBy(F.desc("md"), F.asc("vec_id")).limit(1).collect()[0]
        picks.append((r, int(top.vec_id), float(top.md)))
        sel.append((int(top.vec_id), list(top.v)))
    emb.unpersist()
    return picks


def test_x208_running_min_bit_identical_to_refold(spark, sf_dir):
    from json_to_parquet_spark.queries import registry

    got = [
        (int(r.pick), int(r.vec_id), float(r.dist_at_pick))
        for r in registry()["x208_kcenter_coreset"]
        .spark(spark, sf_dir)
        .collect()
    ]
    assert got == _x208_refold_reference(spark, sf_dir)


def test_x208_coreset_distances_non_increasing(spark, sf_dir):
    from json_to_parquet_spark.queries.modeling import CORESET_K

    rows = sorted(
        registry()["x208_kcenter_coreset"].spark(spark, sf_dir).collect(),
        key=lambda r: r.pick,
    )
    assert len(rows) == CORESET_K
    assert len({r.vec_id for r in rows}) == CORESET_K
    # farthest-point picks: each later pick is no farther than the one
    # before it (greedy max of a shrinking min-distance field)
    dists = [r.dist_at_pick for r in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))


def _x208_rows(spark, sf_dir, monkeypatch, bound):
    monkeypatch.setattr(modeling, "CORESET_DRIVER_ROWS", bound)
    return [tuple(r) for r in modeling.x208_kcenter_coreset(spark, sf_dir).collect()]


def test_driver_finish_matches_rounds(spark, sf_dir, oracle_sf_dir, monkeypatch):
    for d in dict.fromkeys([sf_dir, oracle_sf_dir]):
        driver = _x208_rows(spark, d, monkeypatch, 1 << 16)
        rounds = _x208_rows(spark, d, monkeypatch, 0)
        assert driver == rounds and len(driver) == modeling.CORESET_K, d


def test_x208_runs_one_fetch_and_persists_nothing(spark, sf_dir):
    """At the default bound a testdata corpus is one Arrow fetch; the
    rounds ran 16 jobs and left 7 localCheckpoints in the session."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    group = f"x208-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        modeling.x208_kcenter_coreset(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before


def test_malformed_corpus_takes_the_rounds(spark, tmp_path, monkeypatch):
    """A null vector and a 63-dim one: the driver path declines, and
    both settings of the bound return the rounds' rows."""
    rng = np.random.default_rng(3)
    good = [rng.standard_normal(64).astype(np.float32).tolist() for _ in range(10)]
    vecs = good + [None, rng.standard_normal(63).astype(np.float32).tolist()]
    n = len(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    d = str(tmp_path)
    corpus = (
        spark.read.parquet(f"{d}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .toArrow()
    )
    good_rows = corpus.slice(0, len(good))
    assert modeling._coreset_on_driver(good_rows) is not None
    for bad in (corpus.slice(len(good), 1), corpus.slice(len(good) + 1, 1)):
        assert modeling._coreset_on_driver(pa.concat_tables([good_rows, bad])) is None
    driver = _x208_rows(spark, d, monkeypatch, 1 << 16)
    rounds = _x208_rows(spark, d, monkeypatch, 0)
    assert driver == rounds and len(rounds) == modeling.CORESET_K
    assert {r[1] for r in rounds} <= set(range(len(good)))
