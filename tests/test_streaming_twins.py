"""The streaming gate harness: ``streaming_gate._twin`` stages a feed,
drains it with availableNow through a twin's batch body and reads the
idempotent ``bid=N`` sink back.  Every foreachBatch-to-Parquet twin runs
through it, so these tests pin its contract once: the micro-batch split,
replay safety, and which files a binaryFile feed reads.  They also pin
that every gate stream leaves the session as it found it, and that each
twin's drained output equals its batch entry's."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from json_to_parquet_spark.queries import registry


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _sink(tag: str, sf_dir: str) -> str:
    from json_to_parquet_spark.queries.convert_gate import GATE_DIR

    return os.path.join(GATE_DIR, f"out_{tag}_{os.path.basename(os.path.normpath(sf_dir))}")


def test_twin_dataframe_feed_drains_in_four_batches(spark, sf_dir):
    from json_to_parquet_spark.queries.streaming_gate import _twin

    out = _twin(spark, sf_dir, "test_twin_range", spark.range(40), lambda bdf: bdf)
    assert out.columns == ["id"]
    assert sorted(r.id for r in out.collect()) == list(range(40))
    bids = spark.read.parquet(_sink("test_twin_range", sf_dir)).select("bid")
    assert bids.distinct().count() == 4


def test_twin_batch_handler_replay_leaves_union_unchanged(spark, tmp_path):
    from json_to_parquet_spark.queries.streaming_gate import (
        _batch_handler,
        _read_batches,
    )

    dest = str(tmp_path / "sink")
    handle = _batch_handler(lambda bdf: bdf.select((F.col("id") * 2).alias("x")), dest)
    handle(spark.range(5), 0)
    handle(spark.range(5, 8), 1)
    first = sorted(r.x for r in _read_batches(spark, dest).collect())
    handle(spark.range(5), 0)  # the engine retries batch 0
    assert sorted(r.x for r in _read_batches(spark, dest).collect()) == first
    assert first == [2 * i for i in range(8)]


def test_twin_binary_feed_reads_only_glob_matches(spark, sf_dir, tmp_path):
    from json_to_parquet_spark.queries.convert_gate import GATE_DIR
    from json_to_parquet_spark.queries.streaming_gate import _twin

    fixture = tmp_path / "fixture"
    fixture.mkdir()
    for i in range(6):
        (fixture / f"f_{i}.bin").write_bytes(bytes([i]) * (i + 1))
    (fixture / "_SUCCESS").write_bytes(b"")
    (fixture / "notes.txt").write_bytes(b"not media")

    out = _twin(
        spark,
        sf_dir,
        "test_twin_binary",
        (str(fixture), "*.bin"),
        lambda bdf: bdf.select(
            F.regexp_extract("path", r"f_(\d+)\.bin$", 1).cast("long").alias("i"),
            "length",
        ),
    )
    assert sorted((r.i, r.length) for r in out.collect()) == [(i, i + 1) for i in range(6)]
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_test_twin_binary_{sf_tag}")
    assert sorted(os.listdir(src)) == [f"f_{i}.bin" for i in range(6)]


def test_twin_micro_batch_lists_its_files_without_a_job(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A micro-batch's new files reach the file index as explicit paths;
    the session lists 40 of them on the driver, so no stage of the
    drain runs one task per file.  The body coalesces to one partition,
    so the scan's own split (which follows the session's file-split
    confs) cannot pass for a listing job."""
    from json_to_parquet_spark.queries import streaming_gate

    fixture = tmp_path / "fixture"
    fixture.mkdir()
    for i in range(40):
        (fixture / f"f_{i:02d}.bin").write_bytes(bytes([i]))
    drained = []
    drain = streaming_gate._drain
    monkeypatch.setattr(
        streaming_gate, "_drain", lambda q: (drained.append(q), drain(q))
    )

    out = streaming_gate._twin(
        spark,
        sf_dir,
        "test_twin_listing",
        (str(fixture), "*.bin"),
        lambda bdf: bdf.select("length").coalesce(1),
        n_batches=1,
    )
    assert out.count() == 40
    (q,) = drained
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    assert jobs
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in jobs
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert max(tasks) < 40, tasks


def test_foreachbatch_sink_is_idempotent_under_retry(spark, tmp_path):
    """Replaying a micro-batch (same bid, same rows — the Structured
    Streaming retry contract) must leave the drained union unchanged;
    a genuinely new bid must append."""
    from json_to_parquet_spark.queries.streaming_gate import (
        _read_batches,
        _write_batch_idempotent,
    )

    dest = str(tmp_path / "sink")
    b0 = spark.range(5).select(F.col("id").alias("doc_id"))
    b1 = spark.range(5, 8).select(F.col("id").alias("doc_id"))
    _write_batch_idempotent(b0, 0, dest)
    _write_batch_idempotent(b0, 0, dest)  # retry of batch 0
    _write_batch_idempotent(b1, 1, dest)
    out = _read_batches(spark, dest)
    assert out.columns == ["doc_id"]
    assert sorted(r.doc_id for r in out.collect()) == list(range(8))


def test_x285_streaming_decision_equals_batch(spark, sf_dir):
    """The drained per-hash partials must compose to exactly the batch
    policy row — decision, basis points, and every byte count."""
    from json_to_parquet_spark.queries.multimodal import (
        x283_media_dedup_policy,
    )
    from json_to_parquet_spark.queries.streaming_gate import (
        x285_stream_media_dedup_policy,
    )

    got = x285_stream_media_dedup_policy(spark, sf_dir).collect()
    want = x283_media_dedup_policy(spark, sf_dir).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_x172_stream_equals_batch_twin(spark, sf_dir):
    """The streaming loop's drained output must be bit-identical to
    x111's one-shot batch result — same pipeline, same index, different
    execution schedule."""
    stream = sorted(
        tuple(r)
        for r in registry()["x172_stream_neardup"].spark(spark, sf_dir).collect()
    )
    batch = sorted(
        tuple(r)
        for r in registry()["x111_incremental_neardup"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert stream == batch


def test_x251_streaming_equals_batch_labeler(spark, sf_dir):
    """The streaming labeler's drained routed partials must reproduce
    x250's batch output BIT-FOR-BIT — routing is per-vector independent
    so micro-batching cannot change any assignment (the anti-drift law
    the shared oracle enforces at the gate, re-asserted engine-side)."""
    from json_to_parquet_spark.queries import registry

    reg = registry()
    cols = ["label", "n_nodes", "n_seed", "n_prop", "n_prop_correct"]
    got = _rows(reg["x251_stream_label_cdc"].spark(spark, sf_dir), cols)
    want = _rows(reg["x250_label_prop_cdc"].spark(spark, sf_dir), cols)
    assert got == want and len(got) > 0


def test_x254_streaming_equals_batch_retrain(spark, sf_dir):
    """The streaming trainer's drained word-count partials must
    reproduce x252's batch rule table BIT-FOR-BIT — counts are exact
    integers composing additively, so micro-batching cannot change any
    frequency (the anti-drift law the shared oracle enforces at the
    gate, re-asserted engine-side)."""
    from json_to_parquet_spark.queries import registry

    reg = registry()
    cols = ["iter", "w1", "w2", "merged", "pair_cnt", "changed"]
    got = _rows(reg["x254_stream_bpe_cdc"].spark(spark, sf_dir), cols)
    want = _rows(reg["x252_bpe_incremental"].spark(spark, sf_dir), cols)
    assert got == want and len(got) > 0


def _temp_views(spark):
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _sql_conf(spark):
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}


def _assert_leaves_session_as_found(spark, sf_dir, name):
    """After one build + collect: no new temp view, no active stream, no
    newly persisted RDD and no changed SQL conf.  Persisted RDDs are
    compared by id, because the context cleaner may release an earlier
    test's frames while this entry runs."""
    views, rdds, conf = _temp_views(spark), _persisted_rdds(spark), _sql_conf(spark)
    registry()[name].spark(spark, sf_dir).collect()
    assert spark.streams.active == []
    assert _temp_views(spark) == views
    assert _persisted_rdds(spark) - rdds == set()
    assert _sql_conf(spark) == conf


@pytest.mark.parametrize(
    "name",
    ["x67_stream_window", "x81_stream_session", "x109_stream_heavy_hitters"],
)
def test_complete_mode_stream_leaves_session_as_found(spark, sf_dir, name):
    """The complete-mode drains land in driver rows: no memory sink, and
    so no temp view, stays behind."""
    _assert_leaves_session_as_found(spark, sf_dir, name)


GATE_STREAMS = [
    name
    for name, spec in registry().items()
    if spec.spark.__module__.endswith(".streaming_gate")
]


@pytest.mark.slow
@pytest.mark.parametrize("name", GATE_STREAMS)
def test_gate_stream_leaves_session_as_found(spark, sf_dir, name):
    _assert_leaves_session_as_found(spark, sf_dir, name)
