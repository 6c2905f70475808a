"""Semantic invariants for the round-6 fixes (beyond oracle parity).

VERDICT r5 flagged two scale postures (x168's broadcast side, x187's
uncapped frame join) and ADVICE flagged the byte/char mixing in x187 and
the ndjson conf-restore leak; these tests pin the fixed behaviors:
the x187 oracle's char-slicing is only byte-equivalent on ASCII text
(asserted), x45's driver-side loop is bit-identical to the retained
distributed loop, and neither a failing convert nor a direct caller of
the parallel read leaves a session conf changed.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from json_to_parquet_spark.queries import registry


def test_documents_corpus_is_ascii():
    """x187's oracle slices text by CHARS while the engine frames the
    payload by BYTES; the two coincide only on ASCII text. Assert the
    precondition on every generated testdata SF so a regenerated corpus
    that breaks it fails loudly here instead of as a gate hash-mismatch."""
    roots = [
        d
        for d in (
            os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"),
            "/root/testdata/sf0.001",
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
        )
        if os.path.exists(os.path.join(d, "documents.parquet"))
    ]
    assert roots
    for d in dict.fromkeys(roots):
        p = os.path.join(d, "documents.parquet")
        (n_bad,) = duckdb.sql(
            f"SELECT COUNT(*) FROM '{p}' WHERE strlen(text) <> length(text)"
        ).fetchone()
        assert n_bad == 0, f"{p}: {n_bad} non-ASCII documents"


def test_x45_driver_loop_matches_distributed(spark, sf_dir):
    """The driver-side fixed-point loop (bounded ≤625-row matrix) must be
    bit-identical to the retained DataFrame-iteration variant."""
    from json_to_parquet_spark.queries.pipeline import pagerank_distributed_loop

    a = sorted(map(tuple, registry()["x45_pagerank"].spark(spark, sf_dir).collect()))
    b = sorted(map(tuple, pagerank_distributed_loop(spark, sf_dir).collect()))
    assert a == b
    assert len(a) == 25  # every nation participates


def test_x187_recall_on_cold_frame_docs(spark, sf_dir):
    """The hot-frame guard (FD_MAX_DF) trades recall on docs made of
    corpus-common frames for a bounded join — the documented shared-frame
    dedup trade-off. What it must NOT lose: every original doc with ≥2
    frames and no hot frame still pairs with its half-truncation at
    containment 1.0 and its corruption at (n-1)/n."""
    import math

    from json_to_parquet_spark.operators.media import FRAME_BYTES
    from json_to_parquet_spark.queries.multimodal import (
        FD_CORRUPT_OFF,
        FD_HALF_OFF,
        FD_MAX_DF,
    )
    from json_to_parquet_spark.sources.catalog import load_table

    rows = registry()["x187_frame_dedup"].spark(spark, sf_dir).collect()
    pairs = {(r.id_a, r.id_b): r for r in rows}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def frames_of(text: str, first_half_only: bool = False) -> list[str]:
        b = text.encode()
        n = max(1, math.ceil(len(b) / FRAME_BYTES))
        idxs = range(n // 2 if first_half_only else n)
        return [
            b[i * FRAME_BYTES : (i + 1) * FRAME_BYTES].decode() for i in idxs
        ]

    from collections import Counter

    occurrences: Counter[str] = Counter()
    for d in docs:
        occurrences.update(frames_of(d.text))  # originals
        b = d.text.encode()
        if max(1, math.ceil(len(b) / FRAME_BYTES)) >= 2:
            occurrences.update(frames_of(d.text, first_half_only=True))  # half
        occurrences.update(frames_of("#" + d.text[1:]))  # corrupt

    checked = 0
    for d in docs:
        n = max(1, math.ceil(len(d.text.encode()) / FRAME_BYTES))
        if n < 2:
            continue
        if any(occurrences[f] > FD_MAX_DF for f in frames_of(d.text)):
            continue  # hot-frame doc: recall intentionally sacrificed
        half = pairs.get((d.doc_id, d.doc_id + FD_HALF_OFF))
        assert half is not None, f"half pair missing for doc {d.doc_id}"
        assert half.containment == 1.0
        corrupt = pairs.get((d.doc_id, d.doc_id + FD_CORRUPT_OFF))
        assert corrupt is not None, f"corrupt pair missing for doc {d.doc_id}"
        assert abs(corrupt.containment - round((n - 1) / n, 6)) < 1e-9
        checked += 1
    assert checked > 0


def test_convert_restores_split_conf_on_failure(spark, tmp_path):
    """A convert() that fails AFTER the parallel read but BEFORE the
    write path (here: dt_mode validation inside rewrite_dt_fields) leaves
    every session conf as it found it — the leak ADVICE r5 flagged, when
    the spill path still lowered maxPartitionBytes."""
    import gzip
    import json

    from json_to_parquet_spark.operators.convert import convert

    src = tmp_path / "bad.ndjson.gz"
    with gzip.open(src, "wt") as f:
        for i in range(1000):
            f.write(json.dumps({"time": i, "v": "x" * 40}) + "\n")
    before = spark.conf.getAll
    with pytest.raises(ValueError):
        convert(spark, str(src), str(tmp_path / "out"), dt_mode="bogus")
    assert spark.conf.getAll == before


def test_release_parallel_read_direct_caller(spark, tmp_path):
    """Direct callers of read_ndjson_parallel own the release contract;
    the helper must delete the spill dir, leave the session conf alone
    and be idempotent."""
    import gzip
    import json

    from json_to_parquet_spark.sources.ndjson import (
        read_ndjson_parallel,
        release_parallel_read,
    )

    src = tmp_path / "one.ndjson.gz"
    with gzip.open(src, "wt") as f:
        for i in range(5000):
            f.write(json.dumps({"time": i, "v": "x" * 50}) + "\n")
    before = spark.conf.getAll
    df = read_ndjson_parallel(spark, str(src))
    spill_dir = df._graft_spill_dir
    assert os.path.isdir(spill_dir)
    try:
        assert df.count() == 5000
    finally:
        release_parallel_read(spark, df)
        release_parallel_read(spark, df)  # idempotent
    assert spark.conf.getAll == before
    assert getattr(df, "_graft_spill_dir", None) is None
    assert not os.path.exists(spill_dir)


def test_x198_cores_nested_and_degree_consistent(spark, sf_dir):
    """core3 ⊆ core2, core members satisfy the degree floor, and every
    near-dup-graph node appears exactly once."""
    rows = registry()["x198_kcore"].spark(spark, sf_dir).collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))
    for r in rows:
        if r.core3:
            assert r.core2
        if r.core2:
            assert r.degree >= 2  # original degree bounds peeled degree


def test_x199_semdedup_catches_every_exact_copy(spark, sf_dir):
    """Every exact re-embed must be dropped (it shares its base's
    cluster and scores cosine 1.0); the half-dimension truncations must
    survive; total kept = base + truncation variants."""
    from json_to_parquet_spark.queries.dedup import SEM_MAX_ID
    from json_to_parquet_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    n_base = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < SEM_MAX_ID)
        .count()
    )
    rows = registry()["x199_semdedup"].spark(spark, sf_dir).collect()
    assert sum(r.n_vecs for r in rows) == 3 * n_base
    assert sum(r.n_dropped for r in rows) == n_base  # the exact copies
    assert sum(r.n_kept for r in rows) == 2 * n_base


def test_x200_strengths_normalized_and_ranked(spark, sf_dir):
    rows = registry()["x200_bradley_terry"].spark(spark, sf_dir).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert abs(sum(r.strength for r in rows) - 1.0) < 1e-4  # renormalized
    strengths = [r.strength for r in rows]
    assert strengths == sorted(strengths, reverse=True)


def test_x202_dpo_pairs_margin_and_orientation(spark, sf_dir):
    from json_to_parquet_spark.queries.preference import DPO_MIN_MARGIN

    rows = registry()["x202_dpo_pairs"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.margin >= DPO_MIN_MARGIN
        assert r.chosen_event != r.rejected_event


def test_x205_capacity_respected_and_conserved(spark, sf_dir):
    from json_to_parquet_spark.sources.catalog import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    rows = registry()["x205_capacity_assign"].spark(spark, sf_dir).collect()
    placed = sum(r.placed_r1 + r.placed_r2 for r in rows)
    assert placed + rows[0].n_unplaced_total == n
    for r in rows:
        assert r.final_size <= r.capacity
        assert r.placed_r1 <= min(r.capacity, r.first_demand)
