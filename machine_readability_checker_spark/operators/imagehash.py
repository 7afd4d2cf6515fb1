"""Perceptual image hashing + image near-duplicate detection.

Web crawls carry the same image re-encoded many ways — PNG vs BMP vs
GIF of identical pixels, thumbnails, brightness tweaks.  Text-side
dedup never sees that, so the media side of an interleaved corpus
needs its own near-dup operator.  Two signals per blob, computed in
one Arrow-batched kernel over the repo's real codecs
(``multimodal.decode_image``):

- ``pixel_md5``: digest of the NORMALIZED decoded pixels
  (width×height×channels + raw bytes) — exact dedup across container
  re-encodes (a PNG and a BMP of the same pixels collide).
- ``dhash``: 64-bit difference hash (Krawetz's dHash): grayscale →
  deterministic fractional box-average resize to 9×8 → one bit per
  horizontal gradient sign.  Robust to re-encode noise and uniform
  brightness shifts; near-dups sit within a small Hamming distance.

Pairing reuses the SimHash playbook (``dedup.simhash_pairs``): band
the 64-bit hash into ``n_bands > max_hamming`` chunks — pigeonhole
guarantees any qualifying pair shares one exact band — bucket-join on
(band, band_val), verify true Hamming with ``bit_count(xor)`` in the
JVM.  Recall-COMPLETE: the result equals the all-pairs filter without
ever materializing all pairs.  At 100 TB the kernel is a narrow map
(Python cost ∝ image count), the join shuffles only the 8-byte hash
table, and bucket sizes stay bounded because 21-bit bands split
unrelated images into disjoint buckets.

No reference analog (the reference has no media path); dHash is the
published difference-hash construction (Krawetz 2013), banding is the
standard LSH pigeonhole argument.
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from .dedup import hamming64

_LUMA = np.array([0.299, 0.587, 0.114])

_HASH_W, _HASH_H = 8, 8  # 64 gradient bits from a 9x8 grid


def _resize_weights(src: int, dst: int) -> np.ndarray:
    """(dst, src) fractional box-average weight matrix: row t averages
    source cells overlapping [t*src/dst, (t+1)*src/dst) with exact
    fractional edge coverage.  Pure float64 arithmetic — bit-identical
    across hosts, unlike library resamplers."""
    w = np.zeros((dst, src))
    scale = src / dst
    for t in range(dst):
        lo, hi = t * scale, (t + 1) * scale
        for s in range(int(lo), min(src, int(np.ceil(hi)))):
            w[t, s] = min(hi, s + 1) - max(lo, s)
    return w / scale


def _to_gray(width: int, height: int, channels: int, px: bytes) -> np.ndarray:
    a = np.frombuffer(px, dtype=np.uint8).reshape(height, width, channels)
    if channels == 1:
        return a[:, :, 0].astype(np.float64)
    if channels == 2:  # gray + alpha
        return a[:, :, 0].astype(np.float64)
    return a[:, :, :3].astype(np.float64) @ _LUMA


def dhash_gray(gray: np.ndarray) -> int:
    """64-bit dHash of a 2-D grayscale array: box-resize to 9×8, bit
    (r, c) set iff cell (r, c+1) is strictly brighter than (r, c).
    Returned as a SIGNED 64-bit value (bit 63 set → negative) so it
    lands in a Spark LongType without overflow."""
    h, w = gray.shape
    small = gray
    if (h, w) != (_HASH_H, _HASH_W + 1):
        small = (
            _resize_weights(h, _HASH_H) @ gray @ _resize_weights(w, _HASH_W + 1).T
        )
    bits = small[:, 1:] > small[:, :-1]  # (8, 8) row-major
    val = 0
    for i, b in enumerate(bits.ravel()):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def dhash_target_image(h: int, jitter: int = 0) -> np.ndarray:
    """Inverse of ``dhash_gray`` for testing/oracle construction: a 9×8
    grayscale array whose dHash is exactly ``h`` (any 64-bit value,
    signed or unsigned).  Each row walks ±14 gray levels per gradient
    bit from a 128 baseline, so every comparison is decisive even under
    lossy re-encoding.  ``jitter`` shifts the whole image uniformly —
    dHash is brightness-shift invariant, so the hash is unchanged."""
    if h < 0:
        h += 1 << 64
    img = np.zeros((_HASH_H, _HASH_W + 1))
    for r in range(_HASH_H):
        img[r, 0] = 128
        for c in range(_HASH_W):
            step = 14 if (h >> (r * 8 + c)) & 1 else -14
            img[r, c + 1] = img[r, c] + step
    return np.clip(img + jitter, 0, 255).astype(np.uint8)


IMAGE_HASH_FIELDS = [
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("pixel_md5", T.StringType(), True),
    T.StructField("dhash", T.LongType(), True),
    T.StructField("decode_error", T.StringType(), True),
]


def _canonical_pixels(
    width: int, height: int, channels: int, px: bytes
) -> bytes:
    """Channel-canonical pixel bytes for the exact digest: a fully
    opaque alpha plane drops, and an RGB plane whose three channels are
    identical collapses to gray — so the SAME pixels digest identically
    whether the container stored them as gray (PNG), palette-expanded
    RGB (GIF/BMP), or opaque RGBA."""
    a = np.frombuffer(px, dtype=np.uint8).reshape(height, width, channels)
    if channels in (2, 4) and bool((a[:, :, -1] == 255).all()):
        a = a[:, :, :-1]
    if a.shape[2] == 3 and bool(
        (a[:, :, 0] == a[:, :, 1]).all() and (a[:, :, 1] == a[:, :, 2]).all()
    ):
        a = a[:, :, :1]
    return f"{width}x{height}x{a.shape[2]}:".encode() + a.tobytes()


def image_hash(content: bytes) -> dict:
    """Per-blob geometry, exact pixel digest and dHash of one image."""
    from .multimodal import decode_image

    img = decode_image(content)
    norm = _canonical_pixels(img.width, img.height, img.channels, img.pixels)
    gray = _to_gray(img.width, img.height, img.channels, img.pixels)
    return {
        "width": img.width,
        "height": img.height,
        "pixel_md5": hashlib.md5(norm).hexdigest(),
        "dhash": dhash_gray(gray),
    }


def image_hashes(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append (width, height, pixel_md5, dhash, decode_error) to every
    row, decoding ``content_col`` with the real codecs in one Arrow
    kernel.  Undecodable blobs quarantine in place (hashes null,
    ``decode_error`` set) — they can never pair."""
    from .multimodal import map_blobs

    return map_blobs(
        df, T.StructType(list(df.schema.fields) + IMAGE_HASH_FIELDS),
        image_hash, keys=df.columns, content_col=content_col,
    )


def hamming_band_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str = "dhash",
    max_hamming: int = 2,
    bits: int = 64,
    band_bits: Optional[int] = None,
    same_cols: Optional[list] = None,
) -> DataFrame:
    """(id_a, id_b, hamming[, same_cols...]) for every pair within
    ``max_hamming`` of the 64-bit ``hash_col`` — the pigeonhole band
    join from ``dedup.simhash_pairs``, generalized to any precomputed
    hash column (null hashes drop: quarantined blobs can't pair).

    ``same_cols`` adds equality columns to the band key (e.g. a
    media_type column so pairs never cross a modality) — one join over
    the whole frame instead of one filtered branch per group."""
    if band_bits is None:
        band_bits = max(1, bits // (max_hamming + 1))
    n_bands = bits // band_bits
    if n_bands <= max_hamming:
        raise ValueError(
            f"{n_bands} bands of {band_bits} bits cannot guarantee "
            f"recall at max_hamming={max_hamming} (need bands > max_hamming)"
        )
    same_cols = list(same_cols or [])
    mask = (1 << band_bits) - 1
    base = hashed.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"), *same_cols
    )
    bands = base.select(
        "_id",
        "_h",
        *same_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned(F.col("_h"), bi * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_h", *same_cols, "bb.band", "bb.band_val")
    l, r = bands.alias("l"), bands.alias("r")
    cond = (
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.band_val") == F.col("r.band_val"))
        & (F.col("l._id") < F.col("r._id"))
    )
    for c in same_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    return (
        l.join(r, cond)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming64(F.col("l._h"), F.col("r._h")).alias("hamming"),
            *[F.col(f"l.{c}").alias(c) for c in same_cols],
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def image_near_dups(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_ref",
    max_hamming: int = 2,
) -> DataFrame:
    """End-to-end image near-dup pairs: decode + hash kernel, then the
    recall-complete banded Hamming join."""
    hashed = image_hashes(df, content_col).select(id_col, "dhash")
    return hamming_band_pairs(hashed, id_col, "dhash", max_hamming)


def exact_image_dups(
    df: DataFrame, content_col: str = "content", id_col: str = "media_ref"
) -> DataFrame:
    """Exact duplicate groups across container re-encodes: group by the
    normalized pixel digest, keep groups of ≥2 — one shuffle on the
    32-char digest, raw bytes never move."""
    hashed = image_hashes(df, content_col)
    return (
        hashed.filter(F.col("pixel_md5").isNotNull())
        .groupBy("pixel_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
        .filter(F.col("n_copies") >= 2)
    )
