"""The streaming-twin harness: ``streaming_gate._twin`` stages a feed,
drains it with availableNow through a twin's batch body and reads the
idempotent ``bid=N`` sink back.  Every foreachBatch-to-Parquet twin runs
through it, so these tests pin its contract once: the micro-batch split,
replay safety, and which files a binaryFile feed reads."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


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
