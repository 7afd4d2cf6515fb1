"""mbox archive Spark source — mailing-list/mail-archive files →
docs_raw.

Mail corpora ship as mbox archives (one file per list-month is the
mailing-list convention): messages concatenated, each introduced by a
``From `` envelope line (RFC 4155).  Like the WARC/archive/wikidump
lanes the FILE is the unit of parallelism — mbox is not splittable
mid-stream (a ``From `` line inside a base64 body would fool an
offset-based splitter; only the quoting discipline disambiguates) —
so ``binaryFile`` gives one row per archive and the message walk runs
inside an Arrow-batched kernel:

- split on envelope lines (``\\nFrom `` at line start, per RFC 4155);
- mboxrd/mboxo unquoting: body lines ``>From `` → ``From `` (and
  ``>>From `` → ``>From `` under mboxrd — the reversible variant is
  applied, which is also correct for mboxo's common cases);
- each message becomes a RAW_SCHEMA row ``(doc_id = "<file>!<seq>",
  fmt = "eml")`` and rides the email lane;
- gzip-compressed archives (``.mbox.gz``) decompress transparently
  behind the shared bomb cap;
- a corrupt/empty archive produces ONE quarantine row (fmt
  ``__mbox_error__``), never a task failure.

Deterministic: messages emit in archive order.
"""

from __future__ import annotations

import re
import zlib
from typing import List

from pyspark.sql import DataFrame, SparkSession

from .archive import read_bundles

MAX_MBOX_BYTES = 2 << 30  # decompressed cap per archive (bomb guard)

_UNQUOTE_RE = re.compile(rb"^(>+)From ", re.M)


def split_mbox(data: bytes) -> List[bytes]:
    """Archive bytes → message bytes (envelope lines dropped,
    mboxrd unquoting applied)."""
    if data[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        data = d.decompress(data, MAX_MBOX_BYTES)
        if d.unconsumed_tail:
            raise ValueError("mbox exceeds decompression cap")
        data += d.flush()
    if not data.lstrip().startswith(b"From "):
        raise ValueError("not an mbox (no leading 'From ' envelope)")
    # normalize line endings for the split; message bytes keep \n
    body = data.replace(b"\r\n", b"\n")
    chunks = re.split(rb"(?:^|\n)From [^\n]*\n", body)
    out: List[bytes] = []
    for chunk in chunks:
        if not chunk.strip():
            continue
        out.append(_UNQUOTE_RE.sub(lambda m: m.group(1)[1:] + b"From ",
                                   chunk).rstrip(b"\n") + b"\n")
    return out


def read_mbox(
    spark: SparkSession, path_glob: str
) -> DataFrame:
    """mbox archives matching ``path_glob`` → RAW_SCHEMA rows, one per
    message (plus one quarantine row per corrupt archive)."""
    return read_bundles(
        spark.read.format("binaryFile").load(path_glob),
        lambda _path, data: (
            (seq, "eml", message)
            for seq, message in enumerate(split_mbox(data))
        ),
        "__mbox_error__",
    )


def write_mbox(messages: List[bytes]) -> bytes:
    """Fixture writer: .eml message bytes → one mbox archive (envelope
    lines + mboxrd From-quoting)."""
    out: List[bytes] = []
    for msg in messages:
        out.append(b"From fixture@example.com Mon Aug 17 10:00:00 2026\n")
        body = msg.replace(b"\r\n", b"\n")
        body = re.sub(rb"^(>*)From ", lambda m: b">" + m.group(1) + b"From ",
                      body, flags=re.M)
        out.append(body.rstrip(b"\n") + b"\n\n")
    return b"".join(out)
