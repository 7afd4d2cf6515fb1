"""Tar/zip archive Spark source — document bundles → docs_raw.

Data dumps routinely arrive as archives of mixed documents (a tar of
PDFs, a zip of spreadsheets, gzipped tars from an institutional
scrape).  Neither tar-in-gzip nor zip central directories are
splittable mid-stream, so — like the WARC lane — the ARCHIVE FILE is
the unit of parallelism: ``spark.read.format("binaryFile")`` gives one
row per archive, file-level task scheduling, and path-glob pruning;
the member walk runs inside an Arrow-batched ``mapInPandas`` kernel
with per-member memory bounds.

Members become RAW_SCHEMA rows ``(doc_id = "<archive>!<member>",
fmt = member extension, content, n_bytes)`` and flow through the same
extension gate / extraction kernel as loose files:

- unknown extensions quarantine AT THE GATE (fmt passes through
  verbatim — the gate owns the supported-format policy, this source
  does not duplicate it);
- members larger than ``max_member_bytes`` become quarantine rows with
  fmt ``__oversized__`` (never loaded into memory: tar knows sizes up
  front, zip knows file_size from the central directory) — the
  decompression-bomb guard at the container level;
- a corrupt archive produces ONE quarantine row for the whole file
  (fmt ``__archive_error__``), never a task failure;
- ``.tar.gz``/``.tgz``/``.tar.bz2``/``.tbz2``/``.tar.xz``/``.txz``
  decompress transparently (stdlib tarfile "r:*" auto-detects gzip,
  bzip2, and LZMA containers).

Deterministic: members emit in archive order.
"""

from __future__ import annotations

import io
import os
import posixpath
import tarfile
import zipfile
from typing import Callable, Dict, Iterable, Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..model import RAW_SCHEMA

MAX_MEMBER_BYTES = 256 << 20  # same ceiling as the gzip ingest guard

_TAR_EXTS = (
    ".tar", ".tar.gz", ".tgz", ".tar.bz2", ".tbz2", ".tar.xz", ".txz",
)
_ZIP_EXTS = (".zip",)


def _member_fmt(name: str) -> str:
    base = posixpath.basename(name)
    if "." not in base:
        return ""
    return base.rsplit(".", 1)[-1].lower()


def _walk_tar(
    data: bytes, max_member: int
) -> Iterator[Tuple[str, str, bytes]]:
    with tarfile.open(fileobj=io.BytesIO(data), mode="r:*") as tf:
        for m in tf:
            if not m.isfile():
                continue
            if m.size > max_member:
                yield m.name, "__oversized__", b""
                continue
            f = tf.extractfile(m)
            if f is None:
                continue
            yield m.name, _member_fmt(m.name), f.read()


def _walk_zip(
    data: bytes, max_member: int
) -> Iterator[Tuple[str, str, bytes]]:
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            if info.file_size > max_member:
                yield info.filename, "__oversized__", b""
                continue
            yield info.filename, _member_fmt(info.filename), zf.read(info)


def iter_archive_members(
    path: str, data: bytes, max_member: int = MAX_MEMBER_BYTES
) -> List[Tuple[str, str, bytes]]:
    """(member_name, fmt, content) triples in archive order; raises on
    a corrupt container (the kernel catches and quarantines)."""
    lower = path.lower()
    if lower.endswith(_ZIP_EXTS):
        walker = _walk_zip(data, max_member)
    elif lower.endswith(_TAR_EXTS):
        walker = _walk_tar(data, max_member)
    else:
        raise ValueError(f"unsupported archive container: {path}")
    return list(walker)


def read_bundles(
    files: DataFrame,
    walk: Callable[[str, bytes], Iterable[Tuple[str, str, bytes]]],
    error_fmt: str,
) -> DataFrame:
    """The kernel shared by the bundle sources (archive, mbox, dump):
    a ``binaryFile`` frame → RAW_SCHEMA rows, one per ``(suffix, fmt,
    content)`` that ``walk(path, data)`` yields, with doc_id
    ``<file>!<suffix>``.

    The walk runs inside the ``try``: a file whose walk raises keeps
    the rows it yielded before the error and adds ONE quarantine row
    (doc_id ``<file>``, fmt ``error_fmt``, the error text as content),
    never a task failure."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows: Dict[str, list] = {c: [] for c in RAW_SCHEMA.names}

            def emit(doc_id: str, fmt: str, content: bytes) -> None:
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["content"].append(content)
                rows["n_bytes"].append(len(content))
                for h in ("header_start_row", "header_end_row",
                          "data_start_row", "data_end_row", "sheet_idx"):
                    rows[h].append(0)

            for path, data in zip(batch["path"], batch["content"]):
                base = os.path.basename(str(path))
                try:
                    for suffix, fmt, content in walk(str(path), bytes(data)):
                        emit(f"{base}!{suffix}", fmt, content)
                except Exception as e:
                    emit(base, error_fmt, str(e).encode("utf-8", "replace"))
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(
        kernel, schema=RAW_SCHEMA
    )


def read_archives(
    spark: SparkSession,
    path_glob: str,
    max_member_bytes: int = MAX_MEMBER_BYTES,
) -> DataFrame:
    """Archive files matching ``path_glob`` → RAW_SCHEMA rows, one per
    member (plus quarantine rows for oversized members / corrupt
    archives — a corrupt archive yields no member rows, because the
    member list is read whole before any row is emitted)."""
    return read_bundles(
        spark.read.format("binaryFile").load(path_glob),
        lambda path, data: iter_archive_members(path, data, max_member_bytes),
        "__archive_error__",
    )
