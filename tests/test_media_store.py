"""The media stores under GATE_DIR: the write-once binaryFile fixture
directories (``multimodal._file_fixture``) and the tar shard store —
their cache keys and their determinism."""

from __future__ import annotations

import hashlib

from json_to_parquet_spark.operators.media import (
    decode_image_pixels,
    image_dims,
    image_rgb,
)


def test_fixture_dir_names_keep_their_keys(spark, sf_dir):
    """The shared writer must name each leg's directory exactly as the
    per-leg writers did, or every cached fixture (and a warm benchmark
    store) is rebuilt."""
    import os

    from json_to_parquet_spark.operators import media as m
    from json_to_parquet_spark.queries import multimodal as mm
    from json_to_parquet_spark.queries.similarity import _data_fingerprint

    img = (m.IMG_W_MOD, m.IMG_W_MIN, m.IMG_H_MOD, m.IMG_H_MIN, m.IMG_PIX_MOD)
    laws = {
        "media": (mm.media_fixture_dir, ("mediafiles-v1", mm.MEDIA_FILE_MOD, *img)),
        "audio": (
            mm.audio_fixture_dir,
            ("audiofiles-v1", mm.MEDIA_FILE_MOD, m.AUD_NS_MOD, m.AUD_NS_MIN,
             m.AUD_SR_MOD, m.AUD_SR_STEP, m.AUD_SR_BASE, m.AUD_VAL_MOD,
             m.AUD_VAL_A, m.AUD_VAL_B),
        ),
        "video": (
            mm.video_fixture_dir,
            ("videofiles-v1", mm.MEDIA_FILE_MOD, m.VID_W_MOD, m.VID_W_MIN,
             m.VID_H_MOD, m.VID_H_MIN, m.VID_NF_MOD, m.VID_NF_MIN,
             m.VID_FPS_NUM, m.VID_FPS_DEN, m.VID_BYTE_A, m.VID_BYTE_F,
             m.VID_BYTE_J, m.VID_BYTE_MOD),
        ),
        "png": (mm.png_fixture_dir, ("pngfiles-v1", mm.MEDIA_FILE_MOD, *img, m.PNG_ALPHA_A)),
    }
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    fp = _data_fingerprint(sf_dir, "documents")
    for kind, (writer, sig) in laws.items():
        token = hashlib.sha256(repr(sig).encode()).hexdigest()[:8]
        assert os.path.basename(writer(spark, sf_dir)) == f"{kind}_{tag}_{token}_d{fp}"


def test_x277_fixture_dir_cache_keying(spark, sf_dir):
    """The binaryFile fixture dir is keyed on constants + documents
    fingerprint (GATE_DIR invariant) and contains one real decodable
    .ppm per doc_id ≡ 0 mod MEDIA_FILE_MOD."""
    import os

    from json_to_parquet_spark.queries.multimodal import (
        MEDIA_FILE_MOD,
        media_fixture_dir,
    )
    from json_to_parquet_spark.queries.similarity import _data_fingerprint
    from json_to_parquet_spark.sources.catalog import load_table

    d1 = media_fixture_dir(spark, sf_dir)
    assert _data_fingerprint(sf_dir, "documents") in os.path.basename(d1)
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(f"doc_id % {MEDIA_FILE_MOD} = 0")
        .count()
    )
    files = [f for f in os.listdir(d1) if f.endswith(".ppm")]
    assert len(files) == n_docs
    doc_id = int(sorted(files)[0][4:-4])
    w, h, c, rgb = decode_image_pixels(
        open(os.path.join(d1, sorted(files)[0]), "rb").read()
    )
    assert (w, h) == image_dims(doc_id) and rgb == image_rgb(doc_id, w, h)
    # write-once: second call returns the same path without rebuilding
    assert media_fixture_dir(spark, sf_dir) == d1


def test_tar_store_rebuilds_byte_identical(spark, sf_dir):
    """Wiping the tar shard store and rebuilding must reproduce every
    shard file byte-for-byte (deterministic packing, member order, and
    tar metadata) — the store-determinism guarantee bare_check makes,
    pinned in-suite at fixture scale."""
    import hashlib
    import os
    import shutil

    from json_to_parquet_spark.queries.multimodal import tar_shard_dir

    dest = tar_shard_dir(spark, sf_dir)

    def digest(d: str) -> dict[str, str]:
        return {
            f: hashlib.sha256(
                open(os.path.join(d, f), "rb").read()
            ).hexdigest()
            for f in sorted(os.listdir(d))
            if f.endswith(".tar")
        }

    first = digest(dest)
    assert first, "no shards written"
    shutil.rmtree(dest)
    dest2 = tar_shard_dir(spark, sf_dir)
    assert dest2 == dest
    assert digest(dest2) == first
