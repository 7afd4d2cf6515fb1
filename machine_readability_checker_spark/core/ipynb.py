"""Jupyter notebook (.ipynb) source lane: nbformat-4 JSON → ordered
span triples, dependency-free (stdlib ``json`` only).

Notebooks are a major slice of public code corpora (GitHub hosts tens
of millions), and their value for training data is precisely the
INTERLEAVING: prose (markdown cells), code (code cells) and rich
outputs (text streams, error tracebacks, inline images) in one
document — the exact shape of this engine's interleaved span model.
This is a from-scratch reader of the published nbformat 4.x schema
(jupyter.org/nbformat), NOT a port of nbconvert:

- ``markdown`` cells run through the Markdown lane's block parser
  (``core/markdown.py``) — headings/paragraphs/lists/code/tables/
  images get the same treatment a standalone ``.md`` file gets; the
  document's first block overall, when it is a heading, becomes the
  ``title`` span (same first-block rule as the md lane).  Cell
  ``attachments`` (base64 images referenced as ``attachment:name``)
  stay symbolic media refs — the md inline pass already emits them.
- ``code`` cells emit one ``code`` span with the verbatim source
  (never inline-cleaned), then their outputs in order:
  - ``stream`` outputs (stdout/stderr) → one ``output`` span each,
    text verbatim minus a trailing newline;
  - ``execute_result`` / ``display_data``: an image MIME part
    (``image/png``/``image/jpeg``/``image/gif``) wins over text and
    becomes a ``media`` span whose ref is the deterministic
    ``output:cell{i}/out{j}.{ext}`` key (the base64 payload itself is
    NOT inlined into the span table — media bytes belong in a blob
    store, the span carries the reference; text = the text/plain
    repr, if any, as alt text);
    otherwise the ``text/plain`` part → one ``output`` span;
  - ``error`` outputs → one ``output`` span ``{ename}: {evalue}``
    plus the traceback with ANSI SGR escapes stripped (nbformat
    stores colorized tracebacks).
- ``raw`` cells are conversion passthrough payload, not document
  content (nbformat §4: "raw cells are passed through untouched by
  exporters") → skipped.
- ``source`` fields accept both schema spellings (one string, or the
  list-of-lines form most tools write).
- nbformat < 4 (top-level ``worksheets``) and malformed JSON
  quarantine with a parse error, matching every other lane's
  never-raise contract.

No reference analog (the reference reads spreadsheets only,
``src/processor/loader.py:157-201``); the lane exists for the
training-data pipeline mandate.
"""

from __future__ import annotations

import json
import re
from typing import Any, Dict, List, Optional, Tuple

from .markdown import _inline, extract_md_blocks

Triple = Tuple[str, str, str]  # (kind, text, media_ref)

_ANSI_RE = re.compile(r"\x1b\[[0-9;]*m")

# image MIME part preference order (richest first, matching nbconvert's
# display priority for raster formats)
_IMAGE_MIMES = (
    ("image/png", "png"),
    ("image/jpeg", "jpg"),
    ("image/gif", "gif"),
)


def _source_text(cell: Dict[str, Any]) -> str:
    """nbformat 'multiline string': str, or list of line strings."""
    src = cell.get("source", "")
    if isinstance(src, list):
        return "".join(str(s) for s in src)
    return str(src)


def _mime_text(data: Dict[str, Any], mime: str) -> Optional[str]:
    v = data.get(mime)
    if v is None:
        return None
    if isinstance(v, list):
        return "".join(str(s) for s in v)
    return str(v)


def _md_cell_spans(
    text: str, spans: List[Triple], first_block_seen: bool
) -> bool:
    """Markdown cell → spans via the shared md block parser.  Returns
    the updated first-block flag (the title rule is per-document, not
    per-cell)."""
    for btype, payload in extract_md_blocks(text.replace("\r\n", "\n")):
        if btype == "heading":
            _level, raw = payload  # type: ignore[misc]
            clean, images = _inline(str(raw))
            kind = "title" if not first_block_seen else "heading"
            if clean:
                spans.append((kind, clean, ""))
            for alt, src in images:
                spans.append(("media", alt, src))
        elif btype == "para":
            clean, images = _inline(str(payload))
            if clean:
                spans.append(("main", clean, ""))
            for alt, src in images:
                spans.append(("media", alt, src))
        elif btype == "code":
            spans.append(("code", str(payload), ""))
        elif btype == "table":
            for row in payload:  # type: ignore[union-attr]
                for cell in row:
                    clean, images = _inline(cell)
                    if clean:
                        spans.append(("main", clean, ""))
                    for alt, src in images:
                        spans.append(("media", alt, src))
        first_block_seen = True
    return first_block_seen


def _output_spans(
    outputs: List[Any], cell_idx: int, spans: List[Triple]
) -> None:
    for j, out in enumerate(outputs):
        if not isinstance(out, dict):
            continue
        otype = out.get("output_type")
        if otype == "stream":
            text = _mime_text(out, "text") or ""
            if text.endswith("\n"):
                text = text[:-1]
            if text:
                spans.append(("output", text, ""))
        elif otype in ("execute_result", "display_data"):
            data = out.get("data") or {}
            if not isinstance(data, dict):
                continue
            emitted_image = False
            for mime, ext in _IMAGE_MIMES:
                if mime in data:
                    alt = (_mime_text(data, "text/plain") or "").strip()
                    spans.append(
                        ("media", alt, f"output:cell{cell_idx}/out{j}.{ext}")
                    )
                    emitted_image = True
                    break
            if not emitted_image:
                text = _mime_text(data, "text/plain")
                if text:
                    if text.endswith("\n"):
                        text = text[:-1]
                    spans.append(("output", text, ""))
        elif otype == "error":
            ename = str(out.get("ename", ""))
            evalue = str(out.get("evalue", ""))
            tb = out.get("traceback") or []
            lines = [f"{ename}: {evalue}".strip(": ")]
            if isinstance(tb, list):
                lines += [_ANSI_RE.sub("", str(t)) for t in tb]
            text = "\n".join(l for l in lines if l)
            if text:
                spans.append(("output", text, ""))


def extract_ipynb_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    """Notebook bytes → ordered (kind, text, media_ref) triples."""
    try:
        nb = json.loads(content.decode("utf-8"))
    except Exception as e:
        return [], f"ipynb parse failed: {e}"
    if not isinstance(nb, dict) or "cells" not in nb:
        if isinstance(nb, dict) and "worksheets" in nb:
            return [], "ipynb parse failed: nbformat < 4 (worksheets)"
        return [], "ipynb parse failed: no cells array"
    cells = nb.get("cells")
    if not isinstance(cells, list):
        return [], "ipynb parse failed: cells is not a list"
    spans: List[Triple] = []
    first_block_seen = False
    try:
        for i, cell in enumerate(cells):
            if not isinstance(cell, dict):
                continue
            ctype = cell.get("cell_type")
            if ctype == "markdown":
                first_block_seen = _md_cell_spans(
                    _source_text(cell), spans, first_block_seen
                )
            elif ctype == "code":
                src = _source_text(cell)
                if src.strip():
                    spans.append(("code", src, ""))
                outs = cell.get("outputs") or []
                if isinstance(outs, list):
                    _output_spans(outs, i, spans)
                first_block_seen = True
            # raw cells: exporter passthrough, not content — skipped
        return spans, None
    except Exception as e:  # defensive: never kill a batch
        return [], f"ipynb parse failed: {e}"
