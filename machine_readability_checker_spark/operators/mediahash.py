"""Audio + video perceptual fingerprints: the non-image half of media
near-dup detection (images: ``operators/imagehash.py``).

Both signals are 64-bit hashes compared by Hamming distance, so the
pairing machinery is shared (``imagehash.hamming_band_pairs`` — the
pigeonhole band join, recall-complete at the chosen radius).

- **Audio** (``audio_fingerprint``): PCM → float mono → 17 equal time
  windows → per-window energy in 4 log-spaced frequency bands
  (``numpy.fft.rfft`` periodogram) → one bit per (window-step, band):
  does this band's energy RISE from window t to t+1?  16 steps × 4
  bands = 64 bits.  The bits compare energies of the SAME band at two
  times, so the fingerprint is invariant to uniform gain, bit depth
  (up to quantization noise) and channel duplication — the spectral
  band-delta construction popularized by Haitsma–Kalker (2002).
- **Video** (``video_fold``): sample up to 9 frames evenly, dHash each
  decoded frame (lossless for animated GIF; MJPEG via the JPEG lane),
  fold with a per-bit MAJORITY vote (the SimHash aggregation applied
  to frame hashes).  A re-encode or a single damaged frame moves few
  majority bits; unrelated videos land far apart.

Scale shape: one narrow Arrow kernel computes every fingerprint
(Python ∝ media count, 8 bytes out per blob — raw samples/frames never
shuffle); near-dup pairing shuffles only (id, hash).  Undecodable
blobs quarantine in place and can never pair.  No reference analog
(the reference has no media path); constructions are the published
Haitsma–Kalker band-energy fingerprint and Krawetz dHash.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
from pyspark.sql import DataFrame, types as T

from .imagehash import _to_gray, dhash_gray, hamming_band_pairs

_N_WINDOWS = 17  # 16 deltas
_N_BANDS = 4
MIN_AUDIO_SAMPLES = _N_WINDOWS * 8  # ≥4 usable rfft bins per window


def _pcm_to_float(frames: bytes, bits: int, channels: int) -> np.ndarray:
    """Interleaved PCM → mono float64 in [-1, 1) (channels averaged)."""
    if bits == 8:  # WAV 8-bit is unsigned, offset 128
        x = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 16:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 24:
        b = np.frombuffer(frames, dtype=np.uint8).reshape(-1, 3)
        v = (
            b[:, 0].astype(np.int32)
            | (b[:, 1].astype(np.int32) << 8)
            | (b[:, 2].astype(np.int32) << 16)
        )
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float64) / float(1 << 23)
    elif bits == 32:
        x = np.frombuffer(frames, dtype="<i4").astype(np.float64) / float(1 << 31)
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    if channels > 1:
        x = x[: len(x) - len(x) % channels].reshape(-1, channels).mean(axis=1)
    return x


def audio_fingerprint(content: bytes) -> int:
    """WAV bytes → signed 64-bit band-energy-delta fingerprint."""
    from ..core.wav import decode_wav

    a = decode_wav(content)
    x = _pcm_to_float(a.frames, a.bits_per_sample, a.channels)
    if len(x) < MIN_AUDIO_SAMPLES:
        raise ValueError(
            f"clip too short for fingerprint ({len(x)} < {MIN_AUDIO_SAMPLES})"
        )
    wlen = len(x) // _N_WINDOWS
    energies = np.empty((_N_WINDOWS, _N_BANDS))
    for t in range(_N_WINDOWS):
        spec = np.abs(np.fft.rfft(x[t * wlen:(t + 1) * wlen])) ** 2
        spec = spec[1:]  # drop DC: offset-coded PCM must not leak in
        # 4 log-spaced bands over the usable bins; the final edge is
        # n+1 so the top bin spec[n-1] lands in the last band
        n = len(spec)
        edges = np.unique(
            np.round(np.geomspace(1, n + 1, _N_BANDS + 1)).astype(int)
        )
        while len(edges) < _N_BANDS + 1:  # tiny windows: pad linearly
            edges = np.append(edges, edges[-1] + 1)
        for b in range(_N_BANDS):
            energies[t, b] = spec[edges[b] - 1:edges[b + 1] - 1].sum()
    val = 0
    for t in range(_N_WINDOWS - 1):
        for b in range(_N_BANDS):
            if energies[t + 1, b] > energies[t, b]:
                val |= 1 << (t * _N_BANDS + b)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def video_fold(content: bytes, sample: int = 9) -> Tuple[int, int]:
    """Video bytes → (signed 64-bit majority-fold of sampled frame
    dHashes, frame count).  Frames sample evenly across the clip."""
    from .multimodal import decode_image, decode_video_frames

    frames = decode_video_frames(content)
    if not frames:
        raise ValueError("video has no frames")
    n = len(frames)
    idxs = sorted(
        {int(round(i * (n - 1) / max(1, sample - 1))) for i in range(min(sample, n))}
    )
    votes = np.zeros(64, dtype=np.int64)
    for fi in idxs:
        img = decode_image(bytes(frames[fi]))
        h = dhash_gray(_to_gray(img.width, img.height, img.channels, img.pixels))
        if h < 0:
            h += 1 << 64
        for bit in range(64):
            votes[bit] += 1 if (h >> bit) & 1 else -1
    val = 0
    for bit in range(64):
        if votes[bit] > 0:  # tie (even sample count) → 0, deterministic
            val |= 1 << bit
    if val >= 1 << 63:
        val -= 1 << 64
    return val, n


MEDIA_FP_FIELDS = [
    T.StructField("fingerprint", T.LongType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("decode_error", T.StringType(), True),
]


def media_fingerprint(content: bytes, media_type: str) -> dict:
    """Per-blob 64-bit fingerprint, by modality: audio → band-energy
    deltas, video → majority frame-dHash fold, anything else → dHash."""
    from .multimodal import decode_image

    if media_type == "audio":
        return {"fingerprint": audio_fingerprint(content)}
    if media_type == "video":
        fp, n_frames = video_fold(content)
        return {"fingerprint": fp, "n_frames": n_frames}
    img = decode_image(content)
    return {"fingerprint": dhash_gray(
        _to_gray(img.width, img.height, img.channels, img.pixels)
    )}


def media_fingerprints(
    df: DataFrame,
    content_col: str = "content",
    media_type_col: str = "media_type",
) -> DataFrame:
    """Append (fingerprint, n_frames, decode_error) per row in one
    Arrow kernel, dispatching on ``media_type``: image → dHash,
    audio → band-energy deltas, video → majority frame-dHash fold."""
    from .multimodal import map_blobs

    return map_blobs(
        df, T.StructType(list(df.schema.fields) + MEDIA_FP_FIELDS),
        media_fingerprint, keys=df.columns, content_col=content_col,
        arg_col=media_type_col,
    )


def media_near_dups(
    df: DataFrame,
    content_col: str = "content",
    media_type_col: str = "media_type",
    id_col: str = "media_ref",
    max_hamming: int = 4,
) -> DataFrame:
    """Near-dup pairs across the whole media store, never across
    modality boundaries: the fingerprint kernel, then ONE banded
    Hamming join with media_type in the band key — an image can only
    pair with an image, and the expensive decode+fingerprint pass runs
    over the store once, not once per modality branch."""
    hashed = media_fingerprints(df, content_col, media_type_col).select(
        id_col, media_type_col, "fingerprint"
    )
    return hamming_band_pairs(
        hashed, id_col, "fingerprint", max_hamming,
        same_cols=[media_type_col],
    )
