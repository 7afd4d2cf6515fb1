"""AsciiDoc lane: .adoc documentation source → ordered spans + dense
table grids, dependency-free and deterministic.

AsciiDoc is the other big docs-site format next to RST/Markdown (Git,
many O'Reilly books, Antora sites).  From-scratch scanner over the
PUBLISHED language docs (docs.asciidoctor.org) — NOT an Asciidoctor
port, deliberate subset:

- ``= Title`` (level 0, first) → ``title``; ``== …``/``=== …`` →
  ``heading``;
- paragraphs → ``main``/``boilerplate`` by the shared threshold;
  ``*``/``.`` list items one span each;
- ``[source,lang]`` + ``----`` listing blocks and ``....`` literal
  blocks → ``code`` (verbatim); ``[stem]``/``[latexmath]`` + ``++++``
  → ``math``;
- ``image::path[alt]`` → ``media`` (alt = first positional
  attribute); a ``.Caption`` block-title line immediately above an
  image also emits ``caption`` with the image path as media_ref;
- ``//`` line comments and ``////`` comment blocks drop; attribute
  entries (``:name: value``) and attribute lines (``[...]``) drop;
- inline: ``*strong*`` ``_em_`` `` `mono` `` unwrap;
  ``link:url[label]`` / ``https://url[label]`` keep the label;
- TABLES (``|===`` … ``|===``): one line per row, cells introduced by
  ``|`` with Asciidoctor CELL SPECS — ``N+`` colspan, ``.N+``
  rowspan, ``N.M+`` both, style/alignment chars (``a d e h l m s v ^
  < >``) — and CONTINUATION LINES (no leading ``|``) appending to the
  previous cell with a line break.  Spans densify to empty filler
  exactly like the HTML grid lane, so an AsciiDoc table audits
  identically to the same table in HTML/MD/TeX/wiki/RST markup.

Malformed input can only produce fewer spans, never an exception.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

MIN_CONTENT_CHARS = 25  # shared with the HTML/MD block classifier
MAX_SPAN = 100

Triple = Tuple[str, str, str]

_HEADING_RE = re.compile(r"^(={1,6})\s+(.*)$")
_LIST_RE = re.compile(r"^\s*(\*+|\.+|-)\s+")
_IMAGE_RE = re.compile(r"^image::([^\[]+)\[(.*)\]\s*$")
_ATTR_LINE_RE = re.compile(r"^\[[^\]]*\]\s*$")
_ATTR_ENTRY_RE = re.compile(r"^:[^:]+:.*$")
_BLOCK_TITLE_RE = re.compile(r"^\.(?!\s|\.)(.+)$")
_CELL_SPEC_RE = re.compile(
    r"^(?:(\d+)(?:\.(\d+))?\+|\.(\d+)\+)?[adehlmsv^<>]?$"
)


def _clean_inline(text: str) -> str:
    text = re.sub(r"link:(\S+?)\[([^\]]*)\]",
                  lambda m: m.group(2) or m.group(1), text)
    text = re.sub(r"https?://\S+?\[([^\]]*)\]", r"\1", text)
    text = re.sub(r"`([^`]+)`", r"\1", text)
    text = re.sub(r"\*([^*]+)\*", r"\1", text)
    text = re.sub(r"\b_([^_]+)_\b", r"\1", text)
    return " ".join(text.split())


# ------------------------------------------------------------- tables


def _split_cells(raw: str) -> List[Tuple[int, int, str]]:
    """Row text (possibly multi-line — cells may continue onto the
    next line) → [(colspan, rowspan, text)].  A cell starts at each
    unescaped ``|``; the spec is the contiguous non-space run
    IMMEDIATELY before that ``|`` (Asciidoctor requires adjacency), if
    it parses as a spec AND sits at a token boundary — so a cell whose
    content merely ENDS in a style letter ('… a') is never eaten."""
    starts: List[Tuple[int, int, int, int]] = []  # (spec_start, bar, cspan, rspan)
    i = 0
    n = len(raw)
    while i < n:
        if raw[i] == "|" and (i == 0 or raw[i - 1] != "\\"):
            j = i
            while j > 0 and not raw[j - 1].isspace():
                j -= 1
            spec = raw[j:i]
            cspan = rspan = 1
            sm = _CELL_SPEC_RE.match(spec) if spec else None
            if spec and sm:
                if sm.group(1):
                    cspan = max(1, min(int(sm.group(1)), MAX_SPAN))
                    if sm.group(2):
                        rspan = max(1, min(int(sm.group(2)), MAX_SPAN))
                elif sm.group(3):
                    rspan = max(1, min(int(sm.group(3)), MAX_SPAN))
                starts.append((j, i, cspan, rspan))
            else:
                starts.append((i, i, 1, 1))
        i += 1
    cells: List[Tuple[int, int, str]] = []
    for k, (spec_start, bar, cspan, rspan) in enumerate(starts):
        end = starts[k + 1][0] if k + 1 < len(starts) else n
        cells.append((cspan, rspan, raw[bar + 1 : end]))
    return cells


def _densify(raw_rows) -> List[List[str]]:
    grid: List[List[Optional[str]]] = []
    pending: dict = {}  # col -> (remaining_rows, span_cols)
    for cells in raw_rows:
        row: List[Optional[str]] = []
        col = 0

        def skip_pending(col: int) -> int:
            while col in pending:
                rem, span = pending[col]
                for _ in range(span):
                    row.append("")
                if rem - 1 <= 0:
                    del pending[col]
                else:
                    pending[col] = (rem - 1, span)
                col += span
            return col

        col = skip_pending(col)
        for cspan, rspan, text in cells:
            row.append(text)
            for _ in range(cspan - 1):
                row.append("")
            if rspan > 1:
                pending[col] = (rspan - 1, cspan)
            col += cspan
            col = skip_pending(col)
        grid.append(row)
    width = max((len(r) for r in grid), default=0)
    return [
        [c if c is not None else "" for c in r] + [""] * (width - len(r))
        for r in grid
    ]


def _cell_text(raw: str) -> str:
    lines = [
        re.sub(r"[ \t]+", " ", _clean_cell_inline(ln)).strip(" \t\r\f\v")
        for ln in raw.split("\n")
    ]
    while lines and not lines[0]:
        lines.pop(0)
    while lines and not lines[-1]:
        lines.pop()
    return "\n".join(lines)


def _clean_cell_inline(text: str) -> str:
    text = re.sub(r"`([^`]+)`", r"\1", text)
    text = re.sub(r"\*([^*]+)\*", r"\1", text)
    return text.replace("\\|", "|")


def _parse_table(lines: List[str]) -> List[List[str]]:
    """``|===`` body lines → dense grid (continuation lines append to
    the previous cell with a line break)."""
    raw_rows: List[str] = []
    current: Optional[str] = None
    for ln in lines:
        if not ln.strip():
            continue
        if re.match(
            r"^(?:\d+(?:\.\d+)?\+|\.\d+\+)?[adehlmsv^<>]?\|",
            ln.lstrip(),
        ):
            if current is not None:
                raw_rows.append(current)
            current = ln
        elif current is not None:
            # continuation: cells may CONTINUE (multi-line content) or
            # even START on this line — keep the raw text and re-split
            # the whole row at the end
            current += "\n" + ln
    if current is not None:
        raw_rows.append(current)
    rows = [
        [(c, r, _cell_text(t)) for c, r, t in _split_cells(raw)]
        for raw in raw_rows
    ]
    return _densify(rows)


# ---------------------------------------------------------------- parse


def extract_adoc_blocks(content: bytes):
    text = content.decode("utf-8", "replace")
    lines = text.split("\n")
    spans: List[Triple] = []
    grids: List[List[List[str]]] = []
    i = 0
    n = len(lines)
    pending_caption: Optional[str] = None
    block_attrs: List[str] = []

    def classify(par: str) -> None:
        par = _clean_inline(par)
        if not par:
            return
        if len(par) >= MIN_CONTENT_CHARS:
            spans.append(("main", par, ""))
        else:
            spans.append(("boilerplate", par, ""))

    def fenced(delim: str, start: int) -> Tuple[List[str], int]:
        body: List[str] = []
        j = start + 1
        while j < n and lines[j].rstrip() != delim:
            body.append(lines[j])
            j += 1
        return body, j + 1

    while i < n:
        line = lines[i]
        stripped = line.strip()
        if not stripped:
            pending_caption = None
            block_attrs = []
            i += 1
            continue
        if stripped.startswith("////"):
            _b, i = fenced("////", i)
            continue
        if stripped.startswith("//"):
            i += 1
            continue
        if _ATTR_ENTRY_RE.match(stripped):
            i += 1
            continue
        if _ATTR_LINE_RE.match(stripped):
            block_attrs.append(stripped.strip("[]").lower())
            i += 1
            continue
        if stripped == "|===":
            tbl, i = fenced("|===", i)
            grid = _parse_table(tbl)
            if grid:
                grids.append(grid)
                if pending_caption:
                    spans.append(("caption", pending_caption, ""))
                for row in grid:
                    spans.append(("line", "\t".join(row), ""))
            pending_caption = None
            block_attrs = []
            continue
        if stripped == "----" or stripped == "....":
            body, i = fenced(stripped, i)
            attrs = " ".join(block_attrs)
            kind = "math" if (
                "stem" in attrs or "latexmath" in attrs
            ) else "code"
            spans.append((kind, "\n".join(body).strip("\n"), ""))
            block_attrs = []
            continue
        if stripped == "++++":
            body, i = fenced("++++", i)
            attrs = " ".join(block_attrs)
            if "stem" in attrs or "latexmath" in attrs:
                spans.append(
                    ("math", "\n".join(body).strip("\n"), "")
                )
            block_attrs = []
            continue
        m = _IMAGE_RE.match(stripped)
        if m:
            path = m.group(1).strip()
            alt = m.group(2).split(",")[0].strip()
            spans.append(("media", _clean_inline(alt), path))
            if pending_caption:
                spans.append(("caption", pending_caption, path))
            pending_caption = None
            i += 1
            continue
        m = _HEADING_RE.match(stripped)
        if m:
            title = _clean_inline(m.group(2))
            if title:
                spans.append(
                    ("title" if not spans else "heading", title, "")
                )
            i += 1
            continue
        m = _BLOCK_TITLE_RE.match(stripped)
        if m and not _LIST_RE.match(line):
            pending_caption = _clean_inline(m.group(1))
            i += 1
            continue
        if _LIST_RE.match(line):
            item = _LIST_RE.sub("", line).strip()
            i += 1
            while (
                i < n and lines[i].strip()
                and not _LIST_RE.match(lines[i])
                and not lines[i].strip().startswith(("|", "="))
            ):
                item += " " + lines[i].strip()
                i += 1
            classify(item)
            continue
        # paragraph
        par_lines = [stripped]
        i += 1
        while (
            i < n and lines[i].strip()
            and not _HEADING_RE.match(lines[i].strip())
            and not _LIST_RE.match(lines[i])
            and lines[i].strip() not in ("----", "....", "|===", "++++")
            and not _ATTR_LINE_RE.match(lines[i].strip())
            and not lines[i].strip().startswith("//")
            and not _IMAGE_RE.match(lines[i].strip())
        ):
            par_lines.append(lines[i].strip())
            i += 1
        classify(" ".join(par_lines))
        pending_caption = None
    return spans, grids


def extract_adoc_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    try:
        spans, _grids = extract_adoc_blocks(content)
        return spans, None
    except Exception as e:  # pragma: no cover — must quarantine
        return [], f"adoc parse failed: {e}"


def extract_adoc_tables(content: bytes) -> List[List[List[str]]]:
    try:
        _spans, grids = extract_adoc_blocks(content)
        return grids
    except Exception:
        return []
