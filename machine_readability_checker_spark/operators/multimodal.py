"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed by Arrow-batched ``mapInPandas`` kernels.

Every modality has a REAL decode path, all dependency-free:

- **Images** via ``decode_image``, dispatching on container magic:
  PNG (``core/png.py``, all five scanline filters, golden-pixel
  tested), baseline JPEG (``core/jpeg.py``, cross-validated both
  directions against the JVM's ``javax.imageio``), GIF, BMP, TIFF and
  WebP (``core/gif.py``, ``bmp.py``, ``tiff.py``, ``webp.py``).
- **WAV** audio (``core/wav.py``: RIFF PCM, 8/16/24/32-bit).
- **Video**: AVI/MJPEG (``core/avi.py``: RIFF walk → JPEG frames),
  animated GIF and multi-page TIFF via ``decode_video_frames``.
- The deterministic **fake** image/video containers the older fixtures
  use remain accepted.

Every media lane (here and in ``imagehash``/``mediahash``) is one
per-blob function on the shared ``map_blobs`` kernel, which owns the
Arrow batch loop and the quarantine row: a blob that is null or does
not decode becomes an error row (mirroring the extraction kernel's
parse_error lane), never a task failure.  A new media kernel is one
function ``content -> dict`` (or a list of dicts to flat-map) and an
output schema.
"""

from __future__ import annotations

import struct
from typing import (
    Callable, Iterator, List, NamedTuple, Optional, Sequence, Union,
)

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..core.png import PNG_SIG, decode_png, encode_png

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), False),
    ]
)

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("mean_byte", T.DoubleType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

FAKE_MAGIC = b"FAKEIMG"


def encode_fake_image(width: int, height: int, payload: bytes) -> bytes:
    return FAKE_MAGIC + struct.pack("<HH", width, height) + payload


class DecodedImage(NamedTuple):
    container: str  # "png" | "jpeg" | "gif" | "bmp" | "tiff" | "webp" | "fake"
    width: int
    height: int
    channels: int
    pixels: bytes  # row-major, channels interleaved, 8-bit


def decode_image(content: bytes) -> DecodedImage:
    """Decode one still-image blob, dispatching on container magic.
    Raises ``ValueError`` for unknown/corrupt bytes — the kernels turn
    that into a quarantine row."""
    if content.startswith(PNG_SIG):
        w, h, ch, px = decode_png(content)
        return DecodedImage("png", w, h, ch, px)
    if content.startswith(b"\xff\xd8\xff"):
        from ..core.jpeg import decode_jpeg

        w, h, ch, px = decode_jpeg(content)
        return DecodedImage("jpeg", w, h, ch, px)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from ..core.gif import decode_gif

        w, h, ch, px, _meta = decode_gif(content)
        return DecodedImage("gif", w, h, ch, px)
    if content.startswith(b"BM"):
        from ..core.bmp import decode_bmp

        w, h, ch, px = decode_bmp(content)
        return DecodedImage("bmp", w, h, ch, px)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        from ..core.tiff import decode_tiff

        w, h, ch, px = decode_tiff(content)
        return DecodedImage("tiff", w, h, ch, px)
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        from ..core.webp import decode_webp

        w, h, ch, px = decode_webp(content)
        return DecodedImage("webp", w, h, ch, px)
    if content.startswith(FAKE_MAGIC):
        w, h = struct.unpack_from("<HH", content, len(FAKE_MAGIC))
        return DecodedImage(
            "fake", w, h, 1, bytes(content[len(FAKE_MAGIC) + 4 :])
        )
    raise ValueError("unknown media container")


def encode_image(img: DecodedImage) -> bytes:
    """Re-encode into the blob's original container (resize output keeps
    the input format)."""
    if img.container == "png":
        return encode_png(img.width, img.height, img.channels, img.pixels)
    if img.container == "jpeg":
        from ..core.jpeg import encode_jpeg

        if img.channels not in (1, 3):
            raise ValueError("jpeg container is gray or RGB")
        return encode_jpeg(img.width, img.height, img.channels, img.pixels)
    if img.container == "gif":
        from ..core.gif import encode_gif

        return encode_gif(img.width, img.height, img.channels, img.pixels)
    if img.container == "bmp":
        from ..core.bmp import encode_bmp

        return encode_bmp(img.width, img.height, img.channels, img.pixels)
    if img.container == "tiff":
        from ..core.tiff import encode_tiff

        return encode_tiff(
            img.width, img.height, img.channels, img.pixels,
            compression="lzw",
        )
    if img.container == "webp":
        from ..core.webp import encode_webp_lossless

        if img.channels not in (3, 4):
            raise ValueError("webp container is RGB or RGBA")
        return encode_webp_lossless(
            img.width, img.height, img.channels, img.pixels,
            use_rle=True,
        )
    if img.container == "fake":
        if img.channels != 1:
            raise ValueError("fake container is single-channel")
        return encode_fake_image(img.width, img.height, img.pixels)
    raise ValueError(f"unknown container {img.container}")


_PD_INT = {"integer": "Int32", "long": "Int64"}


def map_blobs(
    df: DataFrame,
    schema: T.StructType,
    fn: Callable[..., Union[dict, List[dict]]],
    keys: Sequence[str] = ("doc_id", "media_ref"),
    content_col: str = "content",
    arg_col: Optional[str] = None,
) -> DataFrame:
    """The one Arrow-batched kernel behind every media decode lane.

    ``fn(blob)`` (``fn(blob, row[arg_col])`` when ``arg_col`` is set)
    runs once per row and returns that row's computed fields as a dict,
    or a list of dicts for a flat map (one output row each).  Every
    output row carries its input row's ``keys`` columns unchanged, then
    the rest of ``schema``; a field ``fn`` leaves out is null, and an
    ``n_bytes`` field holds the blob's size (0 for a null blob).

    ``bytes(content)`` and ``fn`` share one ``try``: a null blob or one
    that raises becomes exactly one quarantine row (keys, computed
    fields null, ``decode_error`` = ``str(e)``), never a task failure.
    Integer fields travel as pandas nullable ints, so a 64-bit hash
    never passes through a float64 column."""
    keys = list(keys)
    fields = [f for f in schema.fields if f.name not in keys]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            src, rows, sizes = [], [], []
            args = batch[arg_col] if arg_col else [None] * len(batch)
            for i, (blob, arg) in enumerate(zip(batch[content_col], args)):
                n = 0
                try:
                    content = bytes(blob)
                    n = len(content)
                    got = fn(content) if arg_col is None else fn(content, arg)
                    if isinstance(got, dict):
                        got = [got]
                except Exception as e:
                    got = [{"decode_error": str(e)}]
                src += [i] * len(got)
                rows += got
                sizes += [n] * len(got)
            out = batch[keys].take(src).reset_index(drop=True)
            for f in fields:
                col = (
                    sizes if f.name == "n_bytes"
                    else [r.get(f.name) for r in rows]
                )
                dtype = _PD_INT.get(f.dataType.typeName())
                out[f.name] = pd.array(col, dtype=dtype) if dtype else col
            yield out

    return df.mapInPandas(kernel, schema=schema)


def image_features(content: bytes) -> dict:
    """Per-blob image features: geometry, channels, mean sample value."""
    img = decode_image(content)
    return {
        "width": img.width,
        "height": img.height,
        "channels": img.channels,
        "mean_byte": (
            float(sum(img.pixels)) / len(img.pixels) if img.pixels else 0.0
        ),
    }


def extract_media_features(media_df: DataFrame) -> DataFrame:
    """media table → per-blob feature rows (Arrow-batched; decode errors
    become quarantine rows, never task failures)."""
    return map_blobs(media_df, MEDIA_FEATURES_SCHEMA, image_features)


def media_from_spans(spans_df: DataFrame, media_store: DataFrame) -> DataFrame:
    """Join media spans of the canonical (doc_id, spans) table back to
    their blobs: explode → filter kind='media' → broadcast-free equi-join
    on (doc_id, media_ref)."""
    refs = (
        spans_df.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
    )
    return refs.join(media_store, ["doc_id", "media_ref"])


FAKE_VIDEO_MAGIC = b"FAKEVID"


def encode_fake_video(frames: list[bytes]) -> bytes:
    """Fake video container: magic + frame count + length-prefixed frames
    (each frame is a fake-image blob)."""
    out = [FAKE_VIDEO_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        out.append(struct.pack("<I", len(f)))
        out.append(f)
    return b"".join(out)


def decode_video_frames(content: bytes) -> list:
    """Per-frame bytes from a video blob: real AVI/MJPEG (RIFF walk →
    JPEG frames, each decodable by ``decode_image``), animated GIF
    (disposal-composited canvases re-encoded as lossless BMP so each
    frame flows through the image feature kernel like any other blob),
    or the legacy fake length-prefixed container."""
    if content.startswith(b"RIFF") and content[8:12] == b"AVI ":
        from ..core.avi import decode_avi

        return decode_avi(content).frames
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from ..core.bmp import encode_bmp
        from ..core.gif import decode_gif_frames

        sw, sh, canvases, _metas = decode_gif_frames(content)
        return [encode_bmp(sw, sh, 3, c) for c in canvases]
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        # multi-page scanned TIFF: one frame per page, re-encoded as
        # lossless BMP so each flows through the image kernels
        from ..core.bmp import encode_bmp
        from ..core.tiff import decode_tiff_pages

        frames = []
        for w, h, ch, px in decode_tiff_pages(content):
            if ch == 1:
                px = bytes(
                    b for v in px for b in (v, v, v)
                )
            frames.append(encode_bmp(w, h, 3, px))
        return frames
    return _decode_fake_frames(content)


def _decode_fake_frames(content: bytes) -> list:
    """Decode ALL frames up front, validating every length prefix — a
    truncated container must yield one quarantine row, never a mix of
    'good' frame rows and an error row for the same blob (the either-or
    contract of the other media kernels), and a lying length prefix must
    not silently produce short frame bytes."""
    if not content.startswith(FAKE_VIDEO_MAGIC):
        raise ValueError("unknown video container")
    off = len(FAKE_VIDEO_MAGIC)
    (n,) = struct.unpack_from("<I", content, off)
    off += 4
    frames = []
    for i in range(n):
        if off + 4 > len(content):
            raise ValueError(f"truncated container at frame {i}")
        (ln,) = struct.unpack_from("<I", content, off)
        off += 4
        if off + ln > len(content):
            raise ValueError(f"frame {i} length {ln} exceeds container")
        frames.append(content[off : off + ln])
        off += ln
    return frames


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def _resize_pixels(img: DecodedImage, tw: int, th: int) -> bytes:
    """Nearest-neighbor resample of a row-major interleaved image, any
    channel count.  NN is the format-preserving baseline (a production
    build swaps in an area/Lanczos numpy kernel); the distributed
    contract — binary in → binary out, bounded Arrow batches — is
    identical."""
    w, h, ch, px = img.width, img.height, img.channels, img.pixels
    if w <= 0 or h <= 0 or len(px) < w * h * ch:
        raise ValueError("payload does not match dimensions")
    rows = []
    for ty in range(th):
        sy = ty * h // th
        base = sy * w * ch
        row = bytearray(tw * ch)
        for tx in range(tw):
            sx = tx * w // tw
            row[tx * ch : (tx + 1) * ch] = px[
                base + sx * ch : base + (sx + 1) * ch
            ]
        rows.append(bytes(row))
    return b"".join(rows)


def resize_image(content: bytes, target_w: int, target_h: int) -> dict:
    """Per-blob resize: decode → nearest-neighbor resample → re-encode
    into the input's container."""
    img = decode_image(content)
    resized = DecodedImage(
        img.container, target_w, target_h, img.channels,
        _resize_pixels(img, target_w, target_h),
    )
    return {
        "width": target_w, "height": target_h,
        "content": encode_image(resized),
    }


def resize_images(media_df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Image resize as an Arrow-batched kernel: decode → resample →
    re-encode; bad blobs become quarantine rows (decode_error set)."""
    return map_blobs(
        media_df, RESIZED_SCHEMA,
        lambda content: resize_image(content, target_w, target_h),
    )


def apply_orientation(img: DecodedImage, orientation: int) -> DecodedImage:
    """Apply an EXIF orientation tag (TIFF 6.0 / EXIF 2.3 values 1–8)
    to decoded pixels — the transform a correct decode pipeline must
    honor before any geometry-sensitive op (resize, dHash, feature
    extraction).  Exact numpy views, no resampling:

      1 identity · 2 mirror-H · 3 rotate 180 · 4 mirror-V ·
      5 transpose · 6 rotate 90 CW · 7 transverse · 8 rotate 90 CCW
    """
    import numpy as np

    if orientation in (None, 0, 1):
        return img
    if orientation not in range(2, 9):
        raise ValueError(f"bad EXIF orientation {orientation}")
    a = np.frombuffer(img.pixels, dtype=np.uint8)
    if len(a) != img.width * img.height * img.channels:
        raise ValueError("payload does not match dimensions")
    a = a.reshape(img.height, img.width, img.channels)
    if orientation == 2:
        a = a[:, ::-1]
    elif orientation == 3:
        a = a[::-1, ::-1]
    elif orientation == 4:
        a = a[::-1]
    elif orientation == 5:
        a = a.transpose(1, 0, 2)
    elif orientation == 6:
        a = np.rot90(a, k=-1)
    elif orientation == 7:
        a = a[::-1, ::-1].transpose(1, 0, 2)
    else:  # 8
        a = np.rot90(a, k=1)
    h2, w2 = a.shape[0], a.shape[1]
    return DecodedImage(
        img.container, w2, h2, img.channels, np.ascontiguousarray(a).tobytes()
    )


ORIENTED_FIELDS = [
    T.StructField("orientation", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("content", T.BinaryType(), True),
    T.StructField("decode_error", T.StringType(), True),
]


def orient_image(content: bytes) -> dict:
    """Per-blob auto-orient: a JPEG whose EXIF orientation is 2–8 comes
    back transformed, re-encoded and metadata-scrubbed; anything else
    decodable passes through byte-identical."""
    from ..core.exif import parse_exif, strip_jpeg_metadata

    ori = None
    if content.startswith(b"\xff\xd8"):
        meta = parse_exif(content)
        ori = meta["orientation"] if meta else None
    img = decode_image(content)
    if ori not in (None, 0, 1):
        img = apply_orientation(img, ori)
        content = strip_jpeg_metadata(encode_image(img))
    return {
        "orientation": ori, "width": img.width, "height": img.height,
        "content": content,
    }


def auto_orient_images(media_df: DataFrame) -> DataFrame:
    """Normalize every JPEG to upright pixels: read the EXIF
    orientation tag, apply its transform, re-encode, and scrub the
    metadata (the oriented bytes carry no stale tag a downstream
    consumer could double-apply).  Non-JPEG containers and tag-1/-less
    JPEGs pass through byte-identical with ``orientation`` null/1.
    Arrow-batched narrow map; malformed blobs quarantine.  Note the
    re-encode is lossy for JPEG (like every auto-orient that does not
    do lossless DCT-domain rotation) — geometry is exact, samples are
    within codec tolerance."""
    in_fields = {f.name: f for f in media_df.schema.fields}
    out_schema = T.StructType(
        [in_fields["doc_id"], in_fields["media_ref"]] + ORIENTED_FIELDS
    )
    return map_blobs(
        media_df.select("doc_id", "media_ref", "content"),
        out_schema, orient_image,
    )


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def frame_rows(content: bytes, every_k: int) -> List[dict]:
    """Per-blob frame sampling: every k-th decoded frame as its own row."""
    return [
        {"frame_idx": i, "content": frame}
        for i, frame in enumerate(decode_video_frames(content))
        if i % every_k == 0
    ]


def sample_frames(media_df: DataFrame, every_k: int = 2) -> DataFrame:
    """Video frame sampling as a flat-mapping Arrow kernel: one input blob
    → every k-th frame as its own row (table-generating, like explode but
    over binary containers).  Decode failures yield one quarantine row."""
    return map_blobs(
        media_df, FRAMES_SCHEMA, lambda content: frame_rows(content, every_k)
    )


def media_context_pairs(
    docs: DataFrame,
    window: int = 3,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """LAION-style image–text candidate mining over interleaved documents
    (``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)``): for
    every media span, the concatenated text of up to ``window`` spans on
    each side plus the span's own text (alt text when the extractor
    captured one) — the (media_ref, caption-candidate) pairs a multimodal
    training pipeline joins against the media store.

    Pure JVM: posexplode + two windowed collect_list frames over
    (doc, offset); the only exchange is the per-document hash partition
    the window needs, and per-document state is bounded by the doc's own
    span count.  At 100 TB this runs as one pass over the spans table
    with no Python and no driver traffic."""
    from pyspark.sql import Window

    s = docs.select(F.col(id_col), F.posexplode(spans_col).alias("_i", "s")).select(
        id_col,
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    w = Window.partitionBy(id_col).orderBy("offset")
    # context = any text-bearing span kind: the extraction lanes emit
    # title/heading/main/line/cell/... (never a literal 'text'), while
    # synthetic corpora may use 'text' — accept both (an == 'text' test
    # here once made every real-corpus context silently empty)
    from .interleave import TEXT_KINDS

    txt = F.when(
        F.col("kind").isin("text", *TEXT_KINDS)
        & (F.col("text") != ""),
        F.col("text"),
    )
    before = F.concat_ws(
        " ", F.collect_list(txt).over(w.rowsBetween(-window, -1))
    )
    after = F.concat_ws(
        " ", F.collect_list(txt).over(w.rowsBetween(1, window))
    )
    return (
        s.withColumn("context_before", before)
        .withColumn("context_after", after)
        .filter(F.col("kind") == "media")
        .select(
            id_col,
            "media_ref",
            "offset",
            F.col("text").alias("alt_text"),
            "context_before",
            "context_after",
        )
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def audio_features(content: bytes) -> dict:
    """Per-blob WAV features: layout, duration, RMS loudness, peak."""
    import numpy as np

    from ..core.wav import decode_wav, samples_float

    a = decode_wav(content)
    x = samples_float(a)
    return {
        "sample_rate": a.sample_rate,
        "channels": a.channels,
        "bits_per_sample": a.bits_per_sample,
        "n_frames": a.n_frames,
        "duration_sec": a.n_frames / a.sample_rate,
        "rms": float(np.sqrt(np.mean(np.square(x)))) if x.size else 0.0,
        "peak": float(np.max(np.abs(x))) if x.size else 0.0,
    }


def extract_audio_features(media_df: DataFrame) -> DataFrame:
    """Real audio decode lane: WAV/RIFF PCM blobs → per-clip features
    (layout, duration, RMS loudness, absolute peak — silence/clipping
    screens for audio corpus curation).  Arrow-batched ``mapInPandas``
    with quarantine rows, same discipline as the image kernels."""
    return map_blobs(media_df, AUDIO_FEATURES_SCHEMA, audio_features)


VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("fps", T.DoubleType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def video_features(content: bytes) -> dict:
    """Per-blob AVI features; the avih geometry must match frame 0."""
    from ..core.avi import decode_avi

    v = decode_avi(content)
    if v.frames:
        img = decode_image(v.frames[0])
        if (img.width, img.height) != (v.width, v.height):
            raise ValueError("avih geometry disagrees with frame 0")
    return {
        "width": v.width,
        "height": v.height,
        "fps": v.fps,
        "n_frames": len(v.frames),
        "duration_sec": v.duration_sec,
    }


def extract_video_features(media_df: DataFrame) -> DataFrame:
    """Real video decode lane: AVI/MJPEG blobs → stream geometry, frame
    rate, duration.  The header claims are VERIFIED against the first
    frame (decoded through the JPEG codec) so a lying avih cannot pass
    as healthy.  Arrow-batched, quarantine rows on failure."""
    return map_blobs(media_df, VIDEO_FEATURES_SCHEMA, video_features)
