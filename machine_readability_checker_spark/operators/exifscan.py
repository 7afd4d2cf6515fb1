"""EXIF/metadata scan and scrub over binary media columns.

Training-data curation has to handle embedded metadata twice: once to
READ it (the orientation tag decides whether a decode is upright; GPS
coordinates flag location-PII that policy may forbid in a corpus), and
once to REMOVE it (published training shards should not leak camera
serials, timestamps or positions).  Both passes are Arrow-batched
``mapInPandas`` kernels over the stdlib codec in ``core/exif.py`` —
metadata lives in bounded header segments, so neither pass entropy-
decodes pixels, and per-blob cost is microseconds regardless of image
size.

At 100 TB both operators are narrow maps: no shuffle, no driver
round-trip, quarantine rows instead of task failures (metadata on the
wire is attacker-controlled; every malformed blob becomes an error
row).  ``strip_metadata`` passes unknown containers through unchanged
rather than quarantining them — a scrub pass over a mixed store must
not destroy the media it cannot parse.

No reference analog (``/root/reference`` has no media path); this
extends the multimodal family alongside ``operators/imagehash.py``.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..core.exif import (
    parse_exif,
    strip_jpeg_metadata,
    strip_png_metadata,
)
from ..core.png import PNG_SIG

EXIF_FIELDS = [
    T.StructField("has_exif", T.BooleanType(), False),
    T.StructField("make", T.StringType(), True),
    T.StructField("model", T.StringType(), True),
    T.StructField("orientation", T.IntegerType(), True),
    T.StructField("datetime", T.StringType(), True),
    T.StructField("has_gps", T.BooleanType(), False),
    T.StructField("gps_lat", T.DoubleType(), True),
    T.StructField("gps_lon", T.DoubleType(), True),
    T.StructField("parse_error", T.StringType(), True),
]


def _scan_one(content: bytes) -> dict:
    row = {
        "has_exif": False, "make": None, "model": None,
        "orientation": None, "datetime": None, "has_gps": False,
        "gps_lat": None, "gps_lon": None, "parse_error": None,
    }
    try:
        if content.startswith(b"\xff\xd8"):
            meta = parse_exif(content)
        else:
            meta = None  # non-JPEG containers carry no APP1 EXIF
        if meta is not None:
            row.update(
                has_exif=True,
                make=meta["make"], model=meta["model"],
                orientation=meta["orientation"],
                datetime=meta["datetime"],
                has_gps=bool(meta["has_gps"]),
                gps_lat=meta["gps_lat"], gps_lon=meta["gps_lon"],
            )
    except Exception as e:  # quarantine, never a task failure
        row["parse_error"] = str(e)
    return row


def scan_exif(
    media_df: DataFrame,
    content_col: str = "content",
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Per-blob EXIF summary rows: ``id_cols + (has_exif, make, model,
    orientation, datetime, has_gps, gps_lat, gps_lon, parse_error)``.

    Narrow Arrow-batched map — only marker segments are walked (never
    the entropy-coded image data), so a 20 MB photo costs the same as
    a thumbnail.  Non-JPEG containers scan as ``has_exif=false``;
    malformed EXIF becomes a ``parse_error`` quarantine row.
    """
    id_cols = list(id_cols)
    in_schema = dict(zip(media_df.columns, media_df.schema.fields))
    out_schema = T.StructType(
        [in_schema[c] for c in id_cols] + EXIF_FIELDS
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = [_scan_one(bytes(c)) for c in batch[content_col]]
            out = pd.DataFrame(
                rows,
                columns=[f.name for f in EXIF_FIELDS],
            )
            for c in reversed(id_cols):
                out.insert(0, c, batch[c].values)
            yield out

    return media_df.select(*id_cols, content_col).mapInPandas(
        kernel, schema=out_schema
    )


def _strip_one(content: bytes) -> tuple[bytes, int, Optional[str]]:
    try:
        if content.startswith(b"\xff\xd8"):
            stripped = strip_jpeg_metadata(content)
        elif content.startswith(PNG_SIG):
            stripped = strip_png_metadata(content)
        else:
            return content, 0, None  # unknown container: pass through
        return stripped, len(content) - len(stripped), None
    except Exception as e:
        return content, 0, str(e)  # scrub failed: keep bytes, flag row


def strip_metadata(
    media_df: DataFrame, content_col: str = "content"
) -> DataFrame:
    """The same rows with ``content_col`` scrubbed of embedded metadata
    (JPEG: APP1/APP2/APP13/COM segments; PNG: tEXt/zTXt/iTXt/eXIf/tIME
    chunks) plus ``bytes_removed`` and ``strip_error`` columns.  Pixel
    data is byte-identical (pinned by round-trip tests); containers the
    scrubber does not know pass through unchanged with
    ``bytes_removed=0``."""
    fields = [
        f if f.name != content_col
        else T.StructField(content_col, T.BinaryType(), f.nullable)
        for f in media_df.schema.fields
    ]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("bytes_removed", T.IntegerType(), False),
            T.StructField("strip_error", T.StringType(), True),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            stripped, removed, errs = [], [], []
            for c in batch[content_col]:
                s, r, e = _strip_one(bytes(c))
                stripped.append(s)
                removed.append(r)
                errs.append(e)
            out = batch.copy()
            out[content_col] = stripped
            out["bytes_removed"] = pd.array(removed, dtype="int32")
            out["strip_error"] = pd.array(errs, dtype=object)
            yield out

    return media_df.mapInPandas(kernel, schema=out_schema)
