"""The build-once stores under GATE_DIR (``queries/store.build_once``):
a store is either complete and correctly keyed, or absent.  The
store-mechanics tests use plain-Python builds (no Spark) against a
GATE_DIR redirected into ``tmp_path``."""

from __future__ import annotations

import multiprocessing
import os
import time

import pytest

from json_to_parquet_spark.queries import store


@pytest.fixture
def gate(tmp_path, monkeypatch):
    d = tmp_path / "gate"
    d.mkdir()
    monkeypatch.setattr(store, "GATE_DIR", str(d))
    return str(d)


@pytest.fixture
def src(tmp_path):
    d = tmp_path / "sf0.001"
    d.mkdir()
    (d / "embeddings.parquet").write_bytes(b"rows")
    return str(d)


def _dest(gate: str, src: str) -> str:
    return os.path.join(gate, f"t_sf0_001_k_d{store.data_fingerprint(src)}")


def _slow_build(d: str) -> None:
    part = f"part-{os.getpid()}"
    open(os.path.join(d, part), "w").close()
    time.sleep(0.5)  # both builders are mid-write at once
    with open(os.path.join(d, "manifest"), "w") as f:
        f.write(part)


def _race(gate: str, src: str, barrier) -> None:
    store.GATE_DIR = gate
    barrier.wait(60)
    store.build_once(src, "t", "_k", _slow_build)


def test_failed_build_leaves_no_store_and_no_temp(gate, src):
    def build(d: str) -> None:
        open(os.path.join(d, "part-0"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        store.build_once(src, "t", "_k", build)
    assert os.listdir(gate) == []


def test_concurrent_builders_publish_one_complete_store(gate, src):
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    procs = [
        ctx.Process(target=_race, args=(gate, src, barrier)) for _ in range(2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
    assert [p.exitcode for p in procs] == [0, 0]
    dest = _dest(gate, src)
    assert os.listdir(gate) == [os.path.basename(dest)]  # no temp left
    # one builder's files, never an interleaving of both
    part = open(os.path.join(dest, "manifest")).read()
    assert sorted(os.listdir(dest)) == ["_BUILT", "manifest", part]


def test_store_without_built_marker_is_rebuilt(gate, src):
    dest = _dest(gate, src)
    os.makedirs(dest)
    open(os.path.join(dest, "stale"), "w").close()

    def build(d: str) -> None:
        open(os.path.join(d, "fresh"), "w").close()

    assert store.build_once(src, "t", "_k", build) == dest
    assert sorted(os.listdir(dest)) == ["_BUILT", "fresh"]
    assert os.listdir(gate) == [os.path.basename(dest)]

    def fail(d: str) -> None:
        raise AssertionError("a complete store must be served, not rebuilt")

    assert store.build_once(src, "t", "_k", fail) == dest


def test_x291_persisted_search_equals_x21_and_store_reused(spark, sf_dir):
    """The serving shape must return exactly the one-shot op's rows,
    and the second call must serve from the existing store (write-once:
    same path, no rebuild)."""
    import os

    from json_to_parquet_spark.queries.similarity import (
        ivf_lists_path,
        x21_ivf_ann,
        x291_ivf_persisted_search,
    )

    got = sorted(
        x291_ivf_persisted_search(spark, sf_dir).collect(),
        key=lambda r: (r.q_id, r.rank),
    )
    want = sorted(
        x21_ivf_ann(spark, sf_dir).collect(), key=lambda r: (r.q_id, r.rank)
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    p1 = ivf_lists_path(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    assert ivf_lists_path(spark, sf_dir) == p1
    assert os.path.getmtime(os.path.join(p1, "_SUCCESS")) == mtime
