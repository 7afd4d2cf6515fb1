"""Markdown source lane: CommonMark/GFM subset → ordered span triples
+ pipe-table grids, dependency-free and deterministic.

Markdown is the native format of the largest public code/docs corpora
(GitHub READMEs, documentation trees, wikis), so a training-data
extraction engine needs it as a first-class lane next to HTML.  This
is a from-scratch line-based block parser over the published
CommonMark 0.31 + GFM table specs — NOT a port of any renderer — kept
to the subset that matters for text extraction:

- ATX (``#``..``######``) and setext (``===``/``---`` underline)
  headings; the document's FIRST block, when it is a heading, becomes
  the ``title`` span (the ``# Title`` convention), every other heading
  is ``heading``.
- paragraphs, blockquotes (markers stripped), list items (one block
  per item, nesting flattened) → ``main``.
- fenced (``` / ~~~) and 4-space-indented code blocks → ``code``
  spans, content verbatim (inline cleanup never touches code).
- images ``![alt](src)`` → ``media`` spans (text = alt,
  media_ref = src), emitted after their enclosing block's text span in
  source order; links/autolinks/reference links collapse to their
  text; emphasis/code-span markers strip; inline HTML tags strip.
- GFM pipe tables → dense rectangular grids (rows padded/truncated to
  header width per spec) for ``extract_md_tables``; cell texts also
  flow into the span stream one ``main`` span per cell, mirroring how
  the HTML lane linearizes ``<table>`` content.
- thematic breaks and link-reference definitions are structure, not
  content: skipped.

The grids feed the same rule battery as CSV uploads / HTML tables /
printed PDF tables (``operators/webtables.py``) — one battery, four
ingest surfaces.  No reference analog (the reference reads
spreadsheets only, ``src/processor/loader.py``).
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

Triple = Tuple[str, str, str]  # (kind, text, media_ref)

_ATX_RE = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$")
_FENCE_RE = re.compile(r"^(```+|~~~+)\s*([^`]*)$")
_THEMATIC_RE = re.compile(r"^ {0,3}((\*\s*){3,}|(-\s*){3,}|(_\s*){3,})$")
_LIST_RE = re.compile(r"^(\s*)([-*+]|\d{1,9}[.)])\s+(.*)$")
_SETEXT_RE = re.compile(r"^ {0,3}(=+|-+)\s*$")
_LINKDEF_RE = re.compile(r"^ {0,3}\[[^\]]+\]:\s+\S+")
_DELIM_CELL_RE = re.compile(r"^:?-+:?$")

_IMG_RE = re.compile(r"!\[([^\]]*)\]\(\s*<?([^)\s>]*)>?(?:\s+\"[^\"]*\")?\s*\)")
_LINK_RE = re.compile(r"\[([^\]]*)\]\(\s*<?[^)\s>]*>?(?:\s+\"[^\"]*\")?\s*\)")
_REFLINK_RE = re.compile(r"\[([^\]]*)\]\[[^\]]*\]")
_AUTOLINK_RE = re.compile(r"<(https?://[^>\s]+)>")
_CODESPAN_RE = re.compile(r"(`+)(.+?)\1")
# '*' emphasis may be intraword; '_' emphasis may NOT (CommonMark §6.2:
# snake_case_words are literal text, never emphasis)
_STAR_EMPH_RE = re.compile(r"(\*\*\*|\*\*|\*)(?=\S)(.+?)(?<=\S)\1")
_UNDER_EMPH_RE = re.compile(r"(?<!\w)(___|__|_)(?=\S)(.+?)(?<=\S)\1(?!\w)")
_BR_RE = re.compile(r"<br\s*/?>", re.IGNORECASE)
_TAG_RE = re.compile(r"</?[a-zA-Z][^>]*>")
_ESCAPE_RE = re.compile(r"\\([\\`*_{}\[\]()#+\-.!|>~\"'])")


def _inline(text: str) -> Tuple[str, List[Tuple[str, str]]]:
    """Strip inline markup; return (clean text, [(alt, src), ...]) for
    the images encountered, in source order."""
    images: List[Tuple[str, str]] = []

    def _img(m: "re.Match[str]") -> str:
        images.append((m.group(1), m.group(2)))
        return ""

    # backslash escapes first: mask the escaped char as a \x00-prefixed
    # hex code so no structural regex below can re-interpret it, unmask
    # at the end
    text = _ESCAPE_RE.sub(
        lambda m: "\x00%04x" % ord(m.group(1)), text
    )
    def _mask(s: str) -> str:
        # opaque-content mask (same \x00-hex coding as escapes): code
        # spans and autolink URLs are literal text — the emphasis/tag
        # passes below must never rewrite their underscores/asterisks
        return "".join("\x00%04x" % ord(c) for c in s)

    text = _IMG_RE.sub(_img, text)
    text = _LINK_RE.sub(r"\1", text)
    text = _REFLINK_RE.sub(r"\1", text)
    text = _AUTOLINK_RE.sub(lambda m: _mask(m.group(1)), text)
    text = _CODESPAN_RE.sub(lambda m: _mask(m.group(2)), text)
    for _ in range(2):  # twice: nested emphasis (***x*** etc.)
        text = _STAR_EMPH_RE.sub(r"\2", text)
        text = _UNDER_EMPH_RE.sub(r"\2", text)
    text = _BR_RE.sub("\n", text)  # GFM hard break inside table cells
    text = _TAG_RE.sub("", text)
    text = re.sub(
        "\x00([0-9a-f]{4})", lambda m: chr(int(m.group(1), 16)), text
    )
    # collapse ASCII whitespace ONLY: full-width spaces (U+3000) are
    # CONTENT the rule battery detects (F9), never separators; <br>
    # newlines survive so a cell can match its HTML-grid twin exactly
    text = re.sub(r"[ \t\f\v]+", " ", text)
    return text.strip(" \t\f\v\n"), images


def _split_row(line: str) -> List[str]:
    """GFM row split: strip one leading/trailing pipe, split on
    unescaped ``|``, trim cells."""
    s = line.strip(" \t")
    if s.startswith("|"):
        s = s[1:]
    if s.endswith("|") and not s.endswith("\\|"):
        s = s[:-1]
    cells, cur, i = [], [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s) and s[i + 1] == "|":
            cur.append("|")
            i += 2
            continue
        if c == "|":
            cells.append("".join(cur).strip(" \t"))
            cur = []
        else:
            cur.append(c)
        i += 1
    cells.append("".join(cur).strip(" \t"))
    return cells


def _is_delim_row(line: str) -> bool:
    cells = _split_row(line)
    return bool(cells) and all(
        _DELIM_CELL_RE.match(c.replace(" ", "")) for c in cells
    ) and any("-" in c for c in cells)


def extract_md_blocks(
    text: str,
) -> List[Tuple[str, object]]:
    """Line-based block pass → [(btype, payload)]: ``heading`` (level,
    text), ``para`` (text), ``code`` (text), ``table`` (grid rows)."""
    lines = text.split("\n")
    blocks: List[Tuple[str, object]] = []
    para: List[str] = []
    i, n = 0, len(lines)

    def flush_para() -> None:
        if para:
            blocks.append(("para", " ".join(para)))
            para.clear()

    while i < n:
        line = lines[i]
        stripped = line.strip()
        if not stripped:
            flush_para()
            i += 1
            continue
        m = _FENCE_RE.match(stripped)
        if m:
            flush_para()
            fence = m.group(1)[0] * 3
            body: List[str] = []
            i += 1
            while i < n and not lines[i].strip().startswith(fence):
                body.append(lines[i])
                i += 1
            i += 1  # the closing fence (or EOF)
            blocks.append(("code", "\n".join(body)))
            continue
        if not para and line.startswith("    ") and stripped:
            # indented code block: contiguous 4-space lines
            body = []
            while i < n and (lines[i].startswith("    ") or not lines[i].strip()):
                if not lines[i].strip() and (
                    i + 1 >= n or not lines[i + 1].startswith("    ")
                ):
                    break
                body.append(lines[i][4:] if lines[i].strip() else "")
                i += 1
            while body and not body[-1].strip():
                body.pop()
            blocks.append(("code", "\n".join(body)))
            continue
        m = _ATX_RE.match(stripped)
        if m:
            flush_para()
            blocks.append(("heading", (len(m.group(1)), m.group(2))))
            i += 1
            continue
        # setext heading before thematic break: with a paragraph open,
        # a --- underline is the heading form (CommonMark 0.31 §4.3)
        if para and _SETEXT_RE.match(line):
            level = 1 if stripped[0] == "=" else 2
            textv = " ".join(para)
            para.clear()
            blocks.append(("heading", (level, textv)))
            i += 1
            continue
        if _THEMATIC_RE.match(line):
            flush_para()
            i += 1
            continue
        if _LINKDEF_RE.match(line) and not para:
            i += 1
            continue
        # GFM table: candidate header row followed by a delimiter row
        if "|" in line and i + 1 < n and _is_delim_row(lines[i + 1]):
            header = _split_row(line)
            if len(_split_row(lines[i + 1])) == len(header):
                flush_para()
                rows = [header]
                i += 2
                while i < n and lines[i].strip() and "|" in lines[i]:
                    body_cells = _split_row(lines[i])
                    # GFM: body rows pad/truncate to header width
                    body_cells = (body_cells + [""] * len(header))[
                        : len(header)
                    ]
                    rows.append(body_cells)
                    i += 1
                blocks.append(("table", rows))
                continue
        m = _LIST_RE.match(line)
        if m:
            flush_para()
            item = [m.group(3)]
            indent = len(m.group(1)) + 2
            i += 1
            while i < n and lines[i].strip() and not _LIST_RE.match(lines[i]) \
                    and lines[i].startswith(" " * indent):
                item.append(lines[i].strip(" \t"))
                i += 1
            blocks.append(("para", " ".join(item)))
            continue
        if stripped.startswith(">"):
            flush_para()
            quote = []
            while i < n and lines[i].strip().startswith(">"):
                quote.append(lines[i].strip(" \t").lstrip(">").strip(" \t"))
                i += 1
            blocks.append(("para", " ".join(q for q in quote if q)))
            continue
        # content keeps unicode whitespace (e.g. U+3000 indents — rule
        # battery signal); only ASCII edges trim
        para.append(line.strip(" \t"))
        i += 1
    flush_para()
    return blocks


def extract_md_spans(content: bytes) -> Tuple[List[Triple], Optional[str]]:
    """Markdown bytes → ordered (kind, text, media_ref) triples."""
    try:
        text = content.decode("utf-8", errors="replace")
        text = text.replace("\r\n", "\n").replace("\r", "\n")
        blocks = extract_md_blocks(text)
        spans: List[Triple] = []
        first = True
        for btype, payload in blocks:
            if btype == "heading":
                _level, raw = payload  # type: ignore[misc]
                clean, images = _inline(str(raw))
                kind = "title" if first else "heading"
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
            first = False
        return spans, None
    except Exception as e:  # defensive: never kill a batch
        return [], f"markdown parse failed: {e}"


def extract_md_tables(content: bytes) -> List[List[List[str]]]:
    """Markdown bytes → dense rectangular GFM pipe-table grids (inline
    markup stripped per cell; images reduce to their alt text)."""
    text = content.decode("utf-8", errors="replace")
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    grids: List[List[List[str]]] = []
    for btype, payload in extract_md_blocks(text):
        if btype != "table":
            continue
        grid = []
        for row in payload:  # type: ignore[union-attr]
            cells = []
            for cell in row:
                clean, images = _inline(cell)
                if not clean and images:
                    clean = images[0][0]
                cells.append(clean)
            grid.append(cells)
        grids.append(grid)
    return grids
