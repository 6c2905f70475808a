"""Round-16 invariants: the perceptual-dHash store-dedup policy arrow
(x283 decide + x284 routed serve) exercised on BOTH branches — the
driver's gate corpus is hash-clustered by construction (consecutive
doc_ids collide heavily under dHash), so it always decides 'dedup'; the
hold branch needs a purpose-built corpus of pairwise-distinct-hash
images, assembled here by the same greedy scan a retuned pixel law
would re-run (no hardcoded id list to go stale)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _distinct_hash_ids(n: int) -> list[int]:
    """First n doc_ids (scanning from 0) whose fixture images have
    pairwise-distinct dHashes — reclaimable bytes exactly 0."""
    from json_to_parquet_spark.operators.media import (
        decode_image_pixels,
        dhash_bands,
        make_image,
    )

    seen: set[tuple[int, ...]] = set()
    out: list[int] = []
    d = 0
    while len(out) < n:
        w, h, _c, rgb = decode_image_pixels(make_image(d, "ppm"))
        key = tuple(dhash_bands(w, h, rgb))
        if key not in seen:
            seen.add(key)
            out.append(d)
        d += 1
        assert d < 100_000, "pixel law no longer admits distinct hashes"
    return out


@pytest.fixture(scope="module")
def distinct_docs_src(tmp_path_factory):
    """documents table whose images all hash differently: reclaim_bp is
    exactly 0, so x283 must decide 'hold'."""
    src = str(tmp_path_factory.mktemp("dhash_hold") / "src_r16")
    os.makedirs(src, exist_ok=True)
    ids = _distinct_hash_ids(40)
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


def test_x283_gate_corpus_decides_dedup(spark, sf_dir):
    from json_to_parquet_spark.queries.multimodal import (
        DHASH_RECLAIM_BP,
        x283_media_dedup_policy,
    )

    r = x283_media_dedup_policy(spark, sf_dir).collect()[0]
    assert r.decision == "dedup"
    assert r.reclaim_bp >= DHASH_RECLAIM_BP
    assert r.thr_bp == DHASH_RECLAIM_BP
    assert 0 < r.reclaimable_bytes < r.total_bytes


def test_x283_hold_branch_decides_hold(spark, distinct_docs_src):
    from json_to_parquet_spark.queries.multimodal import (
        x283_media_dedup_policy,
    )

    r = x283_media_dedup_policy(spark, distinct_docs_src).collect()[0]
    assert r.decision == "hold"
    assert r.reclaimable_bytes == 0 and r.reclaim_bp == 0
    assert r.n_objects == 40


def test_x284_hold_branch_stores_everything(spark, distinct_docs_src):
    """Under 'hold' the manifest is the identity store: every logical
    ref is its own stored object, byte-for-byte."""
    from json_to_parquet_spark.queries.multimodal import (
        x284_policy_routed_media_store,
    )

    rows = x284_policy_routed_media_store(
        spark, distinct_docs_src
    ).collect()
    assert rows and all(r.decision == "hold" for r in rows)
    assert all(r.n_objects == r.n_logical_refs for r in rows)
    assert all(r.stored_bytes == r.logical_bytes for r in rows)
    assert sum(r.n_objects for r in rows) == 40


def test_x284_dedup_branch_matches_x281(spark, sf_dir):
    """Under 'dedup' the shard manifest must reconcile exactly with the
    survivor-level execute (x281): same object count, same ref count,
    and the stored/logical gap equals the reclaimed bytes."""
    from json_to_parquet_spark.queries.multimodal import (
        x281_dhash_dedup_survivors,
        x284_policy_routed_media_store,
    )

    manifest = x284_policy_routed_media_store(spark, sf_dir).collect()
    assert manifest and all(r.decision == "dedup" for r in manifest)
    survivors = x281_dhash_dedup_survivors(spark, sf_dir).collect()
    assert sum(r.n_objects for r in manifest) == len(survivors)
    assert sum(r.n_logical_refs for r in manifest) == sum(
        r.n_members for r in survivors
    )
    assert sum(r.logical_bytes - r.stored_bytes for r in manifest) == sum(
        r.bytes_reclaimed for r in survivors
    )


def test_x286_coverage_complete_and_pairs_bounded(spark, sf_dir):
    """On the gate corpus the audit must show full DOC coverage (every
    doc with a true near-dup linked to ≥ 1 candidate partner) while
    PAIR recall stays partial — the capacity cap refusing quadratic
    pair mass is the designed behavior, and candidates are a subset of
    truth by construction."""
    from json_to_parquet_spark.queries.multimodal import (
        x286_dhash_recall_audit,
    )

    r = x286_dhash_recall_audit(spark, sf_dir).collect()[0]
    assert r.doc_coverage_bp == 10000
    assert r.n_covered_docs == r.n_truth_docs > 0
    assert 0 < r.n_cand_pairs <= r.n_truth_pairs
    assert r.pair_recall_bp < 10000


# --- the audio leg (x287-x290): real WAV chunk walk ---------------------------


def test_wav_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from json_to_parquet_spark.operators.media import decode_wav, encode_wav

    @given(
        sr=st.integers(1000, 96000),
        samples=st.lists(
            st.integers(-32768, 32767), min_size=1, max_size=300
        ),
    )
    @settings(max_examples=60, deadline=None)
    def check(sr, samples):
        dsr, ds = decode_wav(encode_wav(sr, samples))
        assert (dsr, ds) == (sr, samples)

    check()


def test_wav_chunk_walk_skips_unknown_and_pads():
    """A real RIFF file can carry LIST/fact/odd-sized chunks before
    data; the walker must skip them by declared size with word
    alignment — the structure the fixture clips never exercise."""
    from json_to_parquet_spark.operators.media import decode_wav, encode_wav

    base = encode_wav(8000, [1, -2, 3])
    fmt_chunk = base[12:36]  # "fmt " + size + 16 body bytes
    data_chunk = base[36:]
    odd = b"junk" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # padded
    lst = b"LIST" + (6).to_bytes(4, "little") + b"INFOxy"
    body = lst + fmt_chunk + odd + data_chunk
    payload = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body
    assert decode_wav(payload) == (8000, [1, -2, 3])


def test_wav_rejects_unsupported():
    import pytest as _pytest

    from json_to_parquet_spark.operators.media import decode_wav, encode_wav

    with _pytest.raises(NotImplementedError):
        decode_wav(b"ID3\x04" + b"\x00" * 40)  # mp3-shaped
    stereo = bytearray(encode_wav(8000, [0, 0]))
    stereo[22:24] = (2).to_bytes(2, "little")  # channels = 2
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(stereo))
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF" + (4).to_bytes(4, "little") + b"WAVE")  # no chunks


def test_silence_stats_against_independent_derivation():
    """Kernel run-count vs an itertools.groupby re-derivation on the
    fixture clips — a third algorithm besides the kernel loop and the
    SQL LAG oracle."""
    import itertools

    from json_to_parquet_spark.operators.media import (
        AUD_SIL_THRESH,
        decode_wav,
        make_audio,
        silence_stats,
    )

    for d in (0, 1, 22, 123, 4567, 99991):
        _sr, s = decode_wav(make_audio(d))
        flags = [abs(v) < AUD_SIL_THRESH for v in s]
        runs = sum(1 for k, _g in itertools.groupby(flags) if k)
        total = sum(flags)
        assert silence_stats(s) == (runs, total)


def test_audio_fingerprint_window_law():
    """A clip whose |s| rises monotonically across windows must set all
    15 bits; the reverse must clear them (w ≥ windows so every window
    is nonempty)."""
    from json_to_parquet_spark.operators.media import (
        AUD_FP_WINDOWS,
        audio_fingerprint,
    )

    n = 64
    rising = [i * 10 for i in range(n)]
    assert audio_fingerprint(rising) == (1 << (AUD_FP_WINDOWS - 1)) - 1
    falling = [(n - i) * 10 for i in range(n)]
    assert audio_fingerprint(falling) == 0


# --- the video leg (x294-x296): real Y4M tag parse + frame walk ---------------


def test_y4m_roundtrip_and_adversarial_structure():
    from json_to_parquet_spark.operators.media import (
        decode_y4m,
        make_video,
        video_frame,
        video_spec,
    )

    for d in (0, 1, 22, 123, 4567):
        w, h, nf = video_spec(d)
        dw, dh, fn, fd, frames = decode_y4m(make_video(d))
        assert (dw, dh, fn, fd, len(frames)) == (w, h, 25, 1, nf)
        assert frames[0] == video_frame(d, 0, w, h)
    # real-format structure the fixture never emits: unknown header
    # tags, reordered tags, and frame-level parameters after FRAME
    body = bytes(range(12))
    payload = (
        b"YUV4MPEG2 Xcustom H2 F30:1 W2 C444 Ip\n"
        + b"FRAME Ixy\n"
        + body
    )
    w, h, fn, fd, frames = decode_y4m(payload)
    assert (w, h, fn, fd) == (2, 2, 30, 1)
    assert frames == [body]


def test_y4m_rejects_unsupported():
    import pytest as _pytest

    from json_to_parquet_spark.operators.media import decode_y4m

    with _pytest.raises(NotImplementedError):
        decode_y4m(b"\x00\x00\x01\xba" + b"\x00" * 40)  # MPEG-PS-shaped
    with _pytest.raises(NotImplementedError):
        decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 C420jpeg\nFRAME\n" + b"\x00" * 6)
    with _pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 C444\nFRAME\n" + b"\x00" * 5)


def test_video_scene_cut_threshold_is_shared():
    """The kernel's cut decision and a direct re-derivation from the
    arithmetic law must agree doc-for-doc (the constant is f-strung
    into the oracle, so a retune moves both engines — this pins the
    PYTHON side to the same constant)."""
    from json_to_parquet_spark.operators.media import (
        VID_BYTE_A,
        VID_BYTE_F,
        VID_BYTE_J,
        VID_BYTE_MOD,
        VID_CUT_THRESH_NUM,
        decode_y4m,
        make_video,
        video_spec,
    )

    for d in (2, 17, 88, 123):
        w, h, nf = video_spec(d)
        plane = 3 * w * h
        want = 0
        for f in range(1, nf):
            diff = sum(
                abs(
                    (d * VID_BYTE_A + f * VID_BYTE_F + j * VID_BYTE_J)
                    % VID_BYTE_MOD
                    - (d * VID_BYTE_A + (f - 1) * VID_BYTE_F + j * VID_BYTE_J)
                    % VID_BYTE_MOD
                )
                for j in range(plane)
            )
            if diff > VID_CUT_THRESH_NUM * plane:
                want += 1
        _w, _h, _fn, _fd, frames = decode_y4m(make_video(d))
        got = 0
        for f in range(1, len(frames)):
            diff = sum(
                abs(frames[f][j] - frames[f - 1][j]) for j in range(plane)
            )
            if diff > VID_CUT_THRESH_NUM * plane:
                got += 1
        assert got == want
