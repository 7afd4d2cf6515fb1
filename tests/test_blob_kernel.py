"""The shared media blob kernel (``multimodal.map_blobs``) under all
eight media lanes, on one mixed store: one good blob per container,
junk bytes, and a null ``content`` read back from parquet through
``MEDIA_SCHEMA`` (file sources force every field nullable, so a null
blob can reach any lane)."""

from __future__ import annotations

import numpy as np
import pytest

from machine_readability_checker_spark.core.avi import encode_avi
from machine_readability_checker_spark.core.bmp import encode_bmp
from machine_readability_checker_spark.core.exif import (
    build_exif_app1,
    insert_app1,
)
from machine_readability_checker_spark.core.gif import encode_gif
from machine_readability_checker_spark.core.jpeg import encode_jpeg
from machine_readability_checker_spark.core.png import encode_png
from machine_readability_checker_spark.core.tiff import encode_tiff
from machine_readability_checker_spark.core.wav import encode_wav
from machine_readability_checker_spark.core.webp import encode_webp_lossless
from machine_readability_checker_spark.operators import imagehash as IH
from machine_readability_checker_spark.operators import mediahash as MH
from machine_readability_checker_spark.operators import multimodal as M

# dHash values above 2**53 (one with bit 63 set, i.e. negative as a
# signed long): a float64 hop anywhere in the kernel would round them
BIG_DHASH = 0x7EDC_BA98_7654_3211
NEG_DHASH = 0xF0E1_D2C3_B4A5_9687 - (1 << 64)


def mixed_media_rows():
    """(doc_id, media_ref, media_type, content) rows: one good blob per
    container, plus junk bytes and a null blob (media_ref ``bad.bin``
    and ``null.bin``)."""
    rgb = np.mgrid[0:16, 0:16, 0:3].sum(axis=0).astype(np.uint8) * 7
    gray = (np.mgrid[0:8, 0:16][0] * 16 + np.mgrid[0:8, 0:16][1] * 4)
    gray = gray.astype(np.uint8)
    jpg = encode_jpeg(16, 16, 3, rgb.tobytes())
    rotated = insert_app1(
        encode_jpeg(16, 8, 1, gray.tobytes(), quality=95),
        build_exif_app1(orientation=6),
    )
    tone = np.sin(2 * np.pi * 440 * np.arange(4000) / 8000) * 0.5
    blobs = [
        ("image", "a.png", encode_png(
            9, 8, 1, IH.dhash_target_image(BIG_DHASH).tobytes())),
        ("image", "b.jpg", jpg),
        ("image", "c.jpg", rotated),
        ("image", "d.gif", encode_gif(16, 8, 1, gray.tobytes())),
        ("image", "e.bmp", encode_bmp(
            9, 8, 1, IH.dhash_target_image(NEG_DHASH).tobytes())),
        ("image", "f.tif", encode_tiff(
            16, 8, 1, gray.tobytes(), compression="lzw")),
        ("image", "g.webp", encode_webp_lossless(
            16, 16, 3, rgb.tobytes(), use_rle=True)),
        ("image", "h.fake", M.encode_fake_image(4, 4, bytes(range(16)))),
        ("audio", "i.wav", encode_wav(
            8000, 1, 16, (tone * 32767).astype("<i2").tobytes())),
        ("video", "j.avi", encode_avi(16, 16, 5.0, [jpg, jpg])),
        ("video", "k.vid", M.encode_fake_video(
            [M.encode_fake_image(9, 8, bytes(range(i, i + 72)))
             for i in range(5)])),
        ("image", "bad.bin", b"\x00\x01 not media"),
        ("audio", "null.bin", None),
    ]
    return [
        (f"d{i}", ref, mt, None if blob is None else bytearray(blob))
        for i, (mt, ref, blob) in enumerate(blobs)
    ]


KERNELS = {
    "extract_media_features": (
        M.extract_media_features, lambda c, mt: M.image_features(c)),
    "resize_images": (
        lambda df: M.resize_images(df, 4, 4),
        lambda c, mt: M.resize_image(c, 4, 4)),
    "auto_orient_images": (
        M.auto_orient_images, lambda c, mt: M.orient_image(c)),
    "sample_frames": (
        lambda df: M.sample_frames(df, every_k=2),
        lambda c, mt: M.frame_rows(c, 2)),
    "extract_audio_features": (
        M.extract_audio_features, lambda c, mt: M.audio_features(c)),
    "extract_video_features": (
        M.extract_video_features, lambda c, mt: M.video_features(c)),
    "image_hashes": (IH.image_hashes, lambda c, mt: IH.image_hash(c)),
    "media_fingerprints": (MH.media_fingerprints, MH.media_fingerprint),
}


@pytest.fixture(scope="module")
def media_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("media") / "store")
    spark.createDataFrame(
        mixed_media_rows(),
        "doc_id string, media_ref string, media_type string, content binary",
    ).coalesce(1).write.parquet(path)
    return spark.read.schema(M.MEDIA_SCHEMA).parquet(path)


def _plain(v):
    return bytes(v) if isinstance(v, bytearray) else v


@pytest.mark.parametrize("name", list(KERNELS))
def test_blob_kernel_lane(media_store, name):
    run, per_blob = KERNELS[name]
    out = run(media_store)
    names = out.columns
    # the hash lanes append to every input column; the rest key by id
    keys = (
        media_store.columns if "media_type" in names
        else ["doc_id", "media_ref"]
    )
    computed = [
        c for c in names if c not in keys + ["n_bytes", "decode_error"]
    ]
    got = {}
    for r in out.collect():  # no task fails, null blob included
        got.setdefault(r["media_ref"], []).append(r.asDict())

    bad, hashes = set(), []
    for row in mixed_media_rows():
        doc_id, ref, mt, blob = row
        src = dict(zip(media_store.columns, row))
        rows = got.pop(ref, [])
        try:
            want = per_blob(bytes(blob), mt)
        except Exception:
            bad.add(ref)
            assert len(rows) == 1, ref
            (r,) = rows
            assert [_plain(r[k]) for k in keys] == [
                _plain(src[k]) for k in keys
            ], ref
            assert all(r[c] is None for c in computed), ref
            assert r["decode_error"] is not None, ref
            if "n_bytes" in names:
                assert r["n_bytes"] == (0 if blob is None else len(blob))
            continue
        want = [want] if isinstance(want, dict) else want
        if name == "sample_frames":
            rows.sort(key=lambda r: r["frame_idx"])
        assert [
            {c: _plain(r[c]) for c in computed + ["decode_error"]}
            for r in rows
        ] == [
            {**{c: w.get(c) for c in computed}, "decode_error": None}
            for w in want
        ], ref
        for r in rows:
            assert r["doc_id"] == doc_id
            if "n_bytes" in names:
                assert r["n_bytes"] == len(blob)
        hashes += [
            r[c] for r in rows for c in ("dhash", "fingerprint") if c in r
        ]
    assert not got  # no row for a media_ref the store does not hold
    assert {"bad.bin", "null.bin"} <= bad
    if name in ("image_hashes", "media_fingerprints"):
        assert BIG_DHASH in hashes and NEG_DHASH in hashes
