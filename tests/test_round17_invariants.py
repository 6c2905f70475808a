"""Round-17 invariants: ADVICE-r13 fixes, each guarded so a regression
fails loudly — ``decode_wav`` rejects a chunk whose declared size
overruns the payload instead of silently decoding fewer samples.  The
other two fixes live with their subjects: the idempotent ``foreachBatch``
sink in ``tests/test_streaming_twins.py``, x293's loud non-convergence
with the shared routine in ``tests/test_connected_components.py``."""

from __future__ import annotations

import pytest


def test_decode_wav_rejects_truncated_data_chunk():
    from json_to_parquet_spark.operators.media import decode_wav, make_audio

    payload = make_audio(7)
    # Chop two bytes (an even count) off the data chunk: the declared
    # chunk size now overruns the payload.  Pre-fix this decoded to one
    # fewer sample with no error.
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_wav(payload[:-2])
    # A *declared-size* lie is caught too, not just physical truncation.
    bad = bytearray(make_audio(7))
    pos = bad.index(b"data")
    size = int.from_bytes(bad[pos + 4 : pos + 8], "little")
    bad[pos + 4 : pos + 8] = (size + 8).to_bytes(4, "little")
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_wav(bytes(bad))
    # The untouched payload still decodes to the full sample count.
    from json_to_parquet_spark.operators.media import audio_spec

    _sr, n = audio_spec(7)
    assert len(decode_wav(payload)[1]) == n


def _distinct_fp_docs(tmp_path_factory, make_fp, name: str, n: int = 40):
    """documents table of n doc_ids whose fixture fingerprints are
    pairwise distinct — reclaimable bytes exactly 0, so the store
    policy must decide 'hold'.  Greedy scan from 0 (no hardcoded id
    list to go stale under a law retune)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    seen: set[int] = set()
    ids: list[int] = []
    d = 0
    while len(ids) < n:
        fp = make_fp(d)
        if fp not in seen:
            seen.add(fp)
            ids.append(d)
        d += 1
        assert d < 100_000, "fixture law no longer admits distinct fps"
    src = str(tmp_path_factory.mktemp(name) / "src")
    os.makedirs(src, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([f"doc {d}" for d in ids]),
                "source": pa.array(["fixture"] * len(ids)),
                "n_chars": pa.array([6] * len(ids), pa.int64()),
            }
        ),
        os.path.join(src, "documents.parquet"),
    )
    return src


@pytest.fixture(scope="module")
def distinct_audio_src(tmp_path_factory):
    from json_to_parquet_spark.operators.media import (
        audio_fingerprint,
        audio_samples,
        audio_spec,
    )

    def make_fp(d: int) -> int:
        _sr, n = audio_spec(d)
        return audio_fingerprint(audio_samples(d, n))

    return _distinct_fp_docs(tmp_path_factory, make_fp, "aud_hold")


@pytest.fixture(scope="module")
def distinct_video_src(tmp_path_factory):
    from json_to_parquet_spark.operators.media import (
        decode_y4m,
        make_video,
        video_fingerprint,
    )

    def make_fp(d: int) -> int:
        w, h, _fn, _fd, frames = decode_y4m(make_video(d))
        return video_fingerprint(frames, 3 * w * h)

    return _distinct_fp_docs(tmp_path_factory, make_fp, "vid_hold")


def test_x301_hold_branch_decides_hold(spark, distinct_audio_src):
    from json_to_parquet_spark.queries.multimodal import (
        x301_audio_dedup_policy,
    )

    r = x301_audio_dedup_policy(spark, distinct_audio_src).collect()[0]
    assert r.decision == "hold"
    assert r.reclaimable_bytes == 0 and r.reclaim_bp == 0
    assert r.n_objects == 40


def test_x302_hold_branch_stores_everything(spark, distinct_audio_src):
    from json_to_parquet_spark.queries.multimodal import (
        x302_policy_routed_audio_store,
    )

    rows = x302_policy_routed_audio_store(
        spark, distinct_audio_src
    ).collect()
    assert rows and all(r.decision == "hold" for r in rows)
    assert all(r.n_objects == r.n_logical_refs for r in rows)
    assert all(r.stored_bytes == r.logical_bytes for r in rows)
    assert sum(r.n_objects for r in rows) == 40


def test_x301_gate_corpus_decides_dedup(spark, sf_dir):
    from json_to_parquet_spark.queries.multimodal import (
        AUD_RECLAIM_BP,
        x301_audio_dedup_policy,
    )

    r = x301_audio_dedup_policy(spark, sf_dir).collect()[0]
    assert r.decision == "dedup"
    assert r.reclaim_bp >= AUD_RECLAIM_BP


def test_x308_hold_branch_and_routed_store(spark, distinct_video_src):
    from json_to_parquet_spark.queries.multimodal import (
        x308_video_dedup_policy,
        x309_policy_routed_video_store,
    )

    r = x308_video_dedup_policy(spark, distinct_video_src).collect()[0]
    assert r.decision == "hold"
    assert r.reclaimable_bytes == 0
    rows = x309_policy_routed_video_store(
        spark, distinct_video_src
    ).collect()
    assert rows and all(x.decision == "hold" for x in rows)
    assert all(x.stored_bytes == x.logical_bytes for x in rows)


def test_banding_pigeonhole_laws():
    """The completeness claims the docstrings make, brute-checked:
    any two 15-bit fingerprints within Hamming 2 share at least one
    exact 5-bit band (audio, 3 bands); any two 10-bit fingerprints
    within Hamming 1 share one of the 2 bands (video)."""
    import random

    rng = random.Random(17)
    for _ in range(500):
        a = rng.randrange(1 << 15)
        b = a
        for f in rng.sample(range(15), rng.randint(0, 2)):
            b ^= 1 << f
        assert any(
            (a >> (5 * i)) & 31 == (b >> (5 * i)) & 31 for i in range(3)
        )
    for _ in range(500):
        a = rng.randrange(1 << 10)
        b = a
        if rng.random() < 0.9:
            b ^= 1 << rng.randrange(10)
        assert any(
            (a >> (5 * i)) & 31 == (b >> (5 * i)) & 31 for i in range(2)
        )


def test_png_byte_length_not_law_shaped():
    """Documents why x306 checks length_agrees instead of a predicted
    byte count: two same-geometry images compress to different DEFLATE
    lengths (so any 'byte length law' for PNG would be wrong)."""
    from json_to_parquet_spark.operators.media import (
        encode_png,
        image_dims,
        image_rgb,
        make_image,
    )

    w, h = image_dims(3)
    flat = encode_png(w, h, bytes(3 * w * h))  # constant image
    patt = make_image(3, "png")
    assert len(flat) != len(patt)
