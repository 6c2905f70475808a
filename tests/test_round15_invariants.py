"""Round-15 invariants: the real pure-stdlib image decode path
(VERDICT r12 ask #4).  The gate proves the arithmetic-predicted stats;
these tests prove the DECODERS against adversarial structure the
fixture images don't exercise — PPM header comments/whitespace, BMP
top-down (negative-height) storage, padded rows at every width mod 4,
and cross-format pixel equality — plus hypothesis round-trip laws."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from json_to_parquet_spark.operators.media import (
    decode_image_pixels,
    encode_bmp,
    encode_ppm,
    image_dims,
    image_rgb,
    make_image,
    resize_nearest,
)


@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_ppm_bmp_roundtrip_property(w, h, data):
    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=3 * w * h, max_size=3 * w * h
            )
        )
    )
    for enc in (encode_ppm, encode_bmp):
        dw, dh, dc, drgb = decode_image_pixels(enc(w, h, rgb))
        assert (dw, dh, dc) == (w, h, 3)
        assert drgb == rgb


def test_bmp_row_padding_every_width_mod4():
    """Widths 1..8 cover every 3w mod 4 padding case (0-3 pad bytes)."""
    for w in range(1, 9):
        h = 3
        rgb = image_rgb(7, w, h)
        payload = encode_bmp(w, h, rgb)
        stride = (3 * w + 3) // 4 * 4
        assert len(payload) == 54 + stride * h
        assert decode_image_pixels(payload)[3] == rgb


def test_bmp_top_down_negative_height():
    """A top-down BMP (negative height in the header) must decode to the
    same top-down RGB as its bottom-up twin."""
    w, h = 5, 4
    rgb = image_rgb(3, w, h)
    payload = bytearray(encode_bmp(w, h, rgb))
    # rewrite height as negative (top-down) and re-order rows to match
    payload[22:26] = (-h).to_bytes(4, "little", signed=True)
    stride = (3 * w + 3) // 4 * 4
    body = payload[54:]
    rows = [bytes(body[i * stride : (i + 1) * stride]) for i in range(h)]
    payload[54:] = b"".join(reversed(rows))
    assert decode_image_pixels(bytes(payload))[3] == rgb


def test_ppm_header_comments_and_whitespace():
    rgb = image_rgb(1, 4, 2)
    tolerant = b"P6 # a comment\n# another\n  4\t2 # dims\n 255\n" + rgb
    w, h, c, out = decode_image_pixels(tolerant)
    assert (w, h, c) == (4, 2, 3)
    assert out == rgb


def test_truncated_and_unknown_payloads_raise():
    good = make_image(9, "ppm")
    with pytest.raises(ValueError):
        decode_image_pixels(good[:-1])
    bmp = make_image(9, "bmp")
    # cut into the last row's PIXEL bytes (beyond its ≤3 pad bytes);
    # dropping only pad bytes is legitimately decodable
    with pytest.raises(ValueError):
        decode_image_pixels(bmp[:-4])
    # PNG is a REAL decode path since round 17 (VERDICT r13 ask #1):
    # a payload with the PNG signature but garbage chunks is now
    # MALFORMED (ValueError), no longer out-of-scope.
    with pytest.raises(ValueError):
        decode_image_pixels(b"\x89PNG\r\n\x1a\n not a real png")
    with pytest.raises(NotImplementedError):
        decode_image_pixels(b"\xff\xd8\xff jpeg-ish")


def test_resize_nearest_identity_and_downscale_law():
    w, h = 16, 9
    rgb = image_rgb(11, w, h)
    assert resize_nearest(w, h, rgb, w, h) == rgb
    ow, oh = 8, 4
    out = resize_nearest(w, h, rgb, ow, oh)
    exp = bytes(
        rgb[3 * ((y * h // oh) * w + (x * w // ow)) + c]
        for y in range(oh)
        for x in range(ow)
        for c in range(3)
    )
    assert out == exp


def test_fixture_formats_pixel_identical():
    for d in (0, 22, 123, 4567, 99991):
        pw, ph, pc, prgb = decode_image_pixels(make_image(d, "ppm"))
        bw, bh, bc, brgb = decode_image_pixels(make_image(d, "bmp"))
        assert (pw, ph, pc, prgb) == (bw, bh, bc, brgb)
        assert (pw, ph) == image_dims(d)


# --- round-16 additions: the perceptual dHash family (x279-x282) -------------


def _dhash_via_resize(w, h, rgb):
    """Independent dHash re-derivation through the separately-tested
    resize primitive: physically resample to the (9×8) grid with
    resize_nearest (same integer index law), then compare neighbors on
    the small buffer — a different code path that must agree bit-for-bit
    with dhash_bands' in-place sampling."""
    from json_to_parquet_spark.operators.media import (
        DHASH_BAND_BITS,
        DHASH_BANDS,
        DHASH_GRID_H,
        DHASH_GRID_W,
    )

    gw = DHASH_GRID_W + 1
    small = resize_nearest(w, h, rgb, gw, DHASH_GRID_H)
    bands = [0] * DHASH_BANDS
    for gy in range(DHASH_GRID_H):
        for gx in range(DHASH_GRID_W):
            p0 = 3 * (gy * gw + gx)
            p1 = p0 + 3
            if sum(small[p1 : p1 + 3]) > sum(small[p0 : p0 + 3]):
                k = gy * DHASH_GRID_W + gx
                bands[k // DHASH_BAND_BITS] |= 1 << (k % DHASH_BAND_BITS)
    return bands


@given(w=st.integers(1, 24), h=st.integers(1, 24), data=st.data())
@settings(max_examples=40, deadline=None)
def test_dhash_agrees_with_resize_path_property(w, h, data):
    from json_to_parquet_spark.operators.media import dhash_bands

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=3 * w * h, max_size=3 * w * h
            )
        )
    )
    assert dhash_bands(w, h, rgb) == _dhash_via_resize(w, h, rgb)


def test_dhash_gradient_extremes_and_hex_order():
    """A strict left-to-right brightness ramp (w ≥ 9 so every grid
    column samples a distinct pixel) sets all 64 bits; the reversed
    ramp clears them.  Hex is big-endian band order."""
    from json_to_parquet_spark.operators.media import dhash_bands, dhash_hex

    w, h = 12, 8
    ramp = bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in (x * 20, x * 20, x * 20)
    )
    assert dhash_bands(w, h, ramp) == [0xFFFF] * 4
    rev = bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in ((w - 1 - x) * 20,) * 3
    )
    assert dhash_bands(w, h, rev) == [0] * 4
    assert dhash_hex([0x0001, 0x0023, 0x0456, 0x789A]) == "789a045600230001"


def test_x280_pairs_capacity_bounded_and_thresholded(spark, sf_dir):
    """Every emitted pair respects the Hamming threshold, and the pair
    count respects the capacity-cap law: ≤ bands · ⌈bucket/CAP⌉ ·
    C(CAP,2) summed over buckets — the no-quadratic-blowup invariant on
    a deliberately hash-clustered corpus."""
    from json_to_parquet_spark.queries.multimodal import (
        DHASH_CAP,
        DHASH_HAM_T,
        x279_image_dhash,
        x280_dhash_neardup_pairs,
    )

    pairs = x280_dhash_neardup_pairs(spark, sf_dir).collect()
    assert all(0 <= r.hamming <= DHASH_HAM_T for r in pairs)
    assert all(r.doc_a < r.doc_b for r in pairs)
    assert len({(r.doc_a, r.doc_b) for r in pairs}) == len(pairs)
    h = x279_image_dhash(spark, sf_dir).collect()
    bound = 0
    buckets: dict[tuple[int, int], int] = {}
    for row in h:
        for b in range(4):
            key = (b, row[f"band{b}"])
            buckets[key] = buckets.get(key, 0) + 1
    for m in buckets.values():
        full, rem = divmod(m, DHASH_CAP)
        bound += full * (DHASH_CAP * (DHASH_CAP - 1) // 2)
        bound += rem * (rem - 1) // 2
    assert len(pairs) <= bound
