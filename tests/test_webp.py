"""WebP lossless (VP8L) codec: round-trips through every transform and
entropy feature, distance-map pins, and container/error behavior.

No reference WebP decoder exists in this container (documented in
core/webp.py), so the oracle is constructive: independently generated
pixels must survive encode→decode bit-exactly with each bitstream
feature switched on, and the spec tables are pinned literally.
"""

from __future__ import annotations

import numpy as np
import pytest

from machine_readability_checker_spark.core import webp as W


def _pix(w, h, channels, seed):
    rng = np.random.RandomState(seed)
    return bytes(rng.randint(0, 256, size=w * h * channels, dtype=np.uint8))


def _roundtrip(w, h, channels, pixels, **opts):
    data = W.encode_webp_lossless(w, h, channels, pixels, **opts)
    gw, gh, gch, gpx = W.decode_webp(data)
    assert (gw, gh) == (w, h)
    return gch, gpx


def test_distance_map_prefix_pinned():
    """The first 56 entries of the 120-entry plane-code map, literally
    from the spec's table — guards the generated ordering rule."""
    want = [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
        (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
        (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
        (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
        (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    ]
    assert W._DISTANCE_MAP[:56] == want
    assert len(W._DISTANCE_MAP) == 120
    # unmapped codes pass through as dist = code - 120
    assert W._plane_to_distance(121, 10) == 1
    assert W._plane_to_distance(1, 10) == 10   # (0,1) = one row up
    assert W._plane_to_distance(2, 10) == 1    # (1,0) = left neighbor


def test_prefix_code_roundtrip():
    br_vals = [1, 2, 3, 4, 5, 6, 7, 8, 17, 100, 1000, 4096]
    for v in br_vals:
        code, extra, nbits = W._prefix_encode(v)
        bw = W._BitWriter()
        bw.write(extra, nbits)
        br = W._BitReader(bw.finish() or b"\x00")
        assert W._prefix_decode(code, br) == v


def test_roundtrip_plain_rgb():
    w, h = 17, 9  # odd width exercises row wrap
    px = _pix(w, h, 3, 1)
    ch, got = _roundtrip(w, h, 3, px)
    assert ch == 3 and got == px


def test_roundtrip_rgba():
    w, h = 8, 8
    px = bytearray(_pix(w, h, 4, 2))
    px[3] = 10  # ensure alpha actually < 255 somewhere
    ch, got = _roundtrip(w, h, 4, bytes(px))
    assert ch == 4 and got == bytes(px)


def test_roundtrip_rle_mapped_distances():
    """Left runs (distance 1 -> plane code 2) and above runs
    (distance = width -> plane code 1) through the LZ77 path."""
    w, h = 12, 10
    rng = np.random.RandomState(3)
    rows = []
    base = rng.randint(0, 256, size=(w, 3), dtype=np.uint8)
    for y in range(h):
        if y % 3 == 2:
            rows.append(rows[-1])  # vertical run
        else:
            row = base.copy()
            row[4:9] = row[4]      # horizontal run
            rng.shuffle(base)
            rows.append(row)
    px = bytes(np.concatenate(rows).ravel())
    data = W.encode_webp_lossless(w, h, 3, px, use_rle=True)
    plain = W.encode_webp_lossless(w, h, 3, px, use_rle=False)
    assert len(data) < len(plain)  # copies actually happened
    ch, got = _roundtrip(w, h, 3, px, use_rle=True)
    assert got == px


def test_roundtrip_color_cache():
    w, h = 16, 16
    rng = np.random.RandomState(4)
    # few distinct colors -> cache hits dominate
    lut = rng.randint(0, 256, size=(7, 3), dtype=np.uint8)
    idx = rng.randint(0, 7, size=w * h)
    px = bytes(lut[idx].ravel())
    for bits in (1, 4, 8):
        ch, got = _roundtrip(w, h, 3, px, cache_bits=bits)
        assert got == px


def test_roundtrip_rle_runs_over_max_copy_length():
    """Uniform regions longer than VP8L's 4096-pixel maximum copy
    length split into several copies: a left run (one flat 70x70
    image) and an above run (identical two-color rows, so no left run
    starts), each with and without the color cache."""
    flat = bytes([10, 20, 30]) * (70 * 70)
    striped = bytes([10, 20, 30, 200, 100, 50]) * 32 * 80
    for w, h, px in ((70, 70, flat), (64, 80, striped)):
        for bits in (0, 4):
            ch, got = _roundtrip(w, h, 3, px, use_rle=True, cache_bits=bits)
            assert got == px


def test_roundtrip_subtract_green():
    w, h = 11, 7
    px = _pix(w, h, 3, 5)
    ch, got = _roundtrip(w, h, 3, px, subtract_green=True)
    assert got == px


def test_roundtrip_predictor_all_modes():
    """Per-block predictor ids cycle through all 14 modes (block size
    4: a 40x24 image has 60 blocks, > 4 full cycles), including the
    linear-buffer top-right edge column."""
    w, h = 40, 24
    px = _pix(w, h, 3, 6)
    ch, got = _roundtrip(w, h, 3, px, predictor_bits=2)
    assert got == px
    # RGBA through the same path (alpha channel predicted too)
    pxa = bytearray(_pix(w, h, 4, 7))
    pxa[3] = 0
    ch, got = _roundtrip(w, h, 4, bytes(pxa), predictor_bits=2)
    assert got == bytes(pxa)


def test_roundtrip_color_transform():
    w, h = 24, 16
    px = _pix(w, h, 3, 8)
    ch, got = _roundtrip(w, h, 3, px, color_bits=2)
    assert got == px


def test_roundtrip_palette_bundled():
    """Color-indexing at every bundling width: 2 colors (1-bit), 4
    (2-bit), 12 (4-bit), 200 (unbundled)."""
    rng = np.random.RandomState(9)
    for n_colors, w, h in ((2, 21, 6), (4, 13, 5), (12, 9, 9), (200, 20, 15)):
        lut = rng.randint(0, 256, size=(n_colors, 3), dtype=np.uint8)
        # make palette entries distinct (resample collisions away)
        while len({tuple(c) for c in lut}) < n_colors:
            lut = rng.randint(0, 256, size=(n_colors, 3), dtype=np.uint8)
        idx = rng.randint(0, n_colors, size=w * h)
        idx[:n_colors] = np.arange(n_colors)  # all colors appear
        px = bytes(lut[idx].ravel())
        ch, got = _roundtrip(w, h, 3, px, palette=True)
        assert got == px, n_colors


def test_roundtrip_composed_transforms():
    """palette-less compose: subtract-green then predictor (inverse
    order on decode), plus RLE and cache in the entropy image."""
    w, h = 20, 12
    rng = np.random.RandomState(10)
    lut = rng.randint(0, 256, size=(5, 3), dtype=np.uint8)
    px = bytes(lut[rng.randint(0, 5, size=w * h)].ravel())
    ch, got = _roundtrip(
        w, h, 3, px,
        subtract_green=True, predictor_bits=3, use_rle=True, cache_bits=3,
    )
    assert got == px


def test_single_color_image():
    """Degenerate single-symbol alphabets: simple codes with zero-bit
    single-symbol trees."""
    w, h = 9, 4
    px = bytes([77, 140, 201]) * (w * h)
    ch, got = _roundtrip(w, h, 3, px)
    assert got == px
    ch, got = _roundtrip(w, h, 3, px, use_rle=True)
    assert got == px


def test_container_errors():
    with pytest.raises(ValueError, match="RIFF"):
        W.decode_webp(b"NOPE" + b"\x00" * 20)
    # lossy VP8 quarantines with a precise error
    lossy = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + (8).to_bytes(4, "little") + b"\x00" * 8
    )
    with pytest.raises(ValueError, match="lossy"):
        W.decode_webp(lossy)
    # truncated VP8L payload fails loudly
    good = W.encode_webp_lossless(4, 4, 3, _pix(4, 4, 3, 11))
    with pytest.raises(ValueError):
        W.decode_webp(good[: len(good) - 3])


def test_vp8x_container_walk():
    """A VP8X extended container: the decoder walks chunks to VP8L."""
    inner = W.encode_webp_lossless(5, 3, 3, _pix(5, 3, 3, 12))
    vp8l_chunk = inner[12:]  # strip RIFF header, keep VP8L chunk
    vp8x = b"VP8X" + (10).to_bytes(4, "little") + b"\x00" * 10
    payload = b"WEBP" + vp8x + vp8l_chunk
    data = b"RIFF" + len(payload).to_bytes(4, "little") + payload
    gw, gh, ch, px = W.decode_webp(data)
    assert (gw, gh) == (5, 3)
    _, _, _, want = W.decode_webp(inner)
    assert px == want


def test_decode_image_dispatch_and_reencode():
    """WebP rides the shared media dispatch: decode_image routes on the
    RIFF/WEBP magic, encode_image re-encodes losslessly in-container
    (the resize path's contract), and dHash sees it like any image."""
    from machine_readability_checker_spark.operators.multimodal import (
        decode_image,
        encode_image,
    )

    w, h = 10, 6
    px = _pix(w, h, 3, 20)
    blob = W.encode_webp_lossless(w, h, 3, px)
    img = decode_image(blob)
    assert img.container == "webp"
    assert (img.width, img.height, img.channels) == (w, h, 3)
    assert img.pixels == px
    again = decode_image(encode_image(img))
    assert again.pixels == px and again.container == "webp"


def test_mime_sniff_webp(spark):
    from pyspark.sql import functions as F

    from machine_readability_checker_spark.operators.mimetype import (
        detect_mime,
    )

    blob = W.encode_webp_lossless(4, 4, 3, _pix(4, 4, 3, 21))
    df = spark.createDataFrame(
        [(bytearray(blob),), (bytearray(b"RIFF\x00\x00\x00\x00WAVE1234"),)],
        "content binary",
    )
    got = [
        r["mime"]
        for r in df.select(
            detect_mime(F.col("content")).alias("mime")
        ).collect()
    ]
    assert got == ["image/webp", "audio/x-wav"]


def test_roundtrip_meta_prefix_codes():
    """Meta prefix codes: 2 and 3 code groups assigned checkerboard by
    block, each group's trees fitted to its own tokens — the decoder
    must switch groups per symbol (including mid-row) and read the
    entropy image correctly; composed with cache + RLE."""
    w, h = 23, 14
    rng = np.random.RandomState(30)
    px = bytes(rng.randint(0, 256, size=w * h * 3, dtype=np.uint8))
    for groups in (2, 3):
        ch, got = _roundtrip(
            w, h, 3, px, meta_bits=2, meta_groups=groups
        )
        assert got == px, groups
    # meta + cache + rle together
    lut = rng.randint(0, 256, size=(6, 3), dtype=np.uint8)
    pal = bytes(lut[rng.randint(0, 6, size=w * h)].ravel())
    ch, got = _roundtrip(
        w, h, 3, pal, meta_bits=2, meta_groups=2, use_rle=True,
        cache_bits=3,
    )
    assert got == pal
    # meta composed with a transform (the sub-images themselves never
    # carry meta codes — level-0 only)
    ch, got = _roundtrip(
        w, h, 3, px, meta_bits=3, meta_groups=2, subtract_green=True
    )
    assert got == px


# ------------------------------------------------- property tests

from hypothesis import given, settings, strategies as st  # noqa: E402


@given(
    w=st.integers(1, 24),
    h=st.integers(1, 16),
    channels=st.sampled_from([3, 4]),
    seed=st.integers(0, 2**31 - 1),
    use_rle=st.booleans(),
    cache_bits=st.sampled_from([0, 2, 5]),
    subtract_green=st.booleans(),
    predictor=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_webp_roundtrip_property(
    w, h, channels, seed, use_rle, cache_bits, subtract_green, predictor
):
    """Any image, any feature combination: encode→decode is the
    identity (incl. 1-pixel images, single columns/rows, and transform
    block grids larger than the image)."""
    px = _pix(w, h, channels, seed)
    data = W.encode_webp_lossless(
        w, h, channels, px,
        use_rle=use_rle, cache_bits=cache_bits,
        subtract_green=subtract_green,
        predictor_bits=2 if predictor else 0,
    )
    gw, gh, gch, gpx = W.decode_webp(data)
    assert (gw, gh) == (w, h)
    assert gpx == px or (
        channels == 4
        and gch == 3
        # alpha-255-everywhere inputs legitimately decode as RGB
        and all(px[i] == 255 for i in range(3, len(px), 4))
        and gpx == bytes(
            b for i, b in enumerate(px) if i % 4 != 3
        )
    )


@given(
    n_colors=st.integers(2, 40),
    w=st.integers(1, 20),
    h=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_webp_palette_roundtrip_property(n_colors, w, h, seed):
    rng = np.random.RandomState(seed)
    lut = rng.randint(0, 256, size=(n_colors, 3), dtype=np.uint8)
    idx = rng.randint(0, n_colors, size=w * h)
    px = bytes(lut[idx].ravel())
    data = W.encode_webp_lossless(w, h, 3, px, palette=True)
    gw, gh, _, gpx = W.decode_webp(data)
    assert (gw, gh) == (w, h) and gpx == px
