"""reStructuredText lane: Sphinx/docutils-style .rst → ordered spans +
dense table grids, dependency-free and deterministic.

RST is the documentation format of the Python ecosystem (PyPI READMEs,
Sphinx sites, CPython and Linux kernel docs), and its content model
maps onto the interleaved span schema like the md/tex/wiki lanes do.
From-scratch scanner over the PUBLISHED spec
(docutils.sourceforge.io/rst.html) — NOT a docutils port, and a
deliberate subset (no roles/substitutions/footnote resolution):

- sections: a line with an over+underline adornment → ``title``; an
  underline-only adornment → ``heading`` (docutils derives levels from
  adornment ORDER of appearance; span kinds don't carry levels, so the
  distinction doesn't change output);
- paragraphs → ``main``/``boilerplate`` by the shared length
  threshold; bullet/enumerated list items one span each;
- literal blocks (paragraph ending ``::`` + indented block) and
  ``.. code-block::``/``.. code::``/``.. sourcecode::`` directives →
  ``code`` (content verbatim); ``.. math::`` → ``math``;
- ``.. image:: path`` (+ ``:alt:`` option) → ``media``;
  ``.. figure:: path`` → ``media`` + its indented caption paragraph as
  ``caption`` with the figure path as ``media_ref`` (the
  caption-to-media alignment the multimodal family mines);
- comments (``.. text``) and unknown directives drop WITH their
  indented bodies (a directive's content is renderer input, not
  prose);
- inline: ``**strong**`` / ``*emphasis*`` / ````literal```` unwrap;
  ```label <url>`_`` and ```text`_`` keep the label, anonymous and
  standalone hyperlink TARGETS (``.. _name: url``) drop;
- GRID TABLES (``+---+`` box drawing): the border row gives column
  boundaries; a missing internal ``+``/``|`` merges cells — col/row
  spans expand to empty filler exactly like the HTML grid lane, so an
  RST grid table audits identically to the same table in any other
  markup (``=`` separator marks the header row boundary, content-wise
  identical here);
- SIMPLE TABLES (``====  ====`` borders): column extents from the
  border runs; no spans by construction.

Like every parser here: malformed input can only produce fewer spans,
never an exception (the lane quarantines via extract_document's
catch-all if the decoder itself fails).
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

MIN_CONTENT_CHARS = 25  # shared with the HTML/MD block classifier

Triple = Tuple[str, str, str]

_ADORN_RE = re.compile(r"^([=\-`:'\"~^_*+#<>])\1{2,}\s*$")
_BULLET_RE = re.compile(r"^\s*([-*+•]|\d+[.)]|#\.)\s+")
_DIRECTIVE_RE = re.compile(r"^\.\.\s+([A-Za-z][\w-]*)::\s*(.*)$")
_COMMENT_RE = re.compile(r"^\.\.(\s|$)")
_TARGET_RE = re.compile(r"^\.\.\s+_[^:]+:\s*\S*")
_GRID_BORDER_RE = re.compile(r"^\s*\+[-=+]+\+\s*$")
_SIMPLE_BORDER_RE = re.compile(r"^\s*=+(\s+=+)+\s*$")

_CODE_DIRECTIVES = {"code", "code-block", "sourcecode", "literalinclude"}


def _clean_inline(text: str) -> str:
    # hyperlink with embedded target: `label <url>`_ → label
    text = re.sub(r"`([^`<]*)<[^`>]*>`__?", lambda m: m.group(1).strip(),
                  text)
    # named/anonymous reference: `text`_ / `text`__ → text
    text = re.sub(r"`([^`]+)`__?", r"\1", text)
    # inline literal ``x`` then strong/emphasis
    text = re.sub(r"``([^`]*)``", r"\1", text)
    text = re.sub(r"\*\*([^*]+)\*\*", r"\1", text)
    text = re.sub(r"\*([^*]+)\*", r"\1", text)
    # trailing-underscore single-word references: word_ → word
    text = re.sub(r"\b(\w+)_\b(?!_)", r"\1", text)
    return " ".join(text.split())


def _indented_block(lines: List[str], start: int) -> Tuple[List[str], int]:
    """Collect the indented body following ``start`` (directive /
    literal block content); returns (body lines dedented, next idx)."""
    body: List[str] = []
    i = start
    while i < len(lines):
        line = lines[i]
        if not line.strip():
            body.append("")
            i += 1
            continue
        if line[:1] in (" ", "\t"):
            body.append(line)
            i += 1
            continue
        break
    while body and not body[-1].strip():
        body.pop()
    while body and not body[0].strip():
        body.pop(0)
    if not body:
        return [], i
    indents = [
        len(ln) - len(ln.lstrip()) for ln in body if ln.strip()
    ]
    pad = min(indents) if indents else 0
    return [ln[pad:] if ln.strip() else "" for ln in body], i


# ------------------------------------------------------------- tables


def _parse_grid_table(
    tbl: List[str],
) -> List[List[str]]:
    """Box-drawing grid table → dense grid with col/row spans expanded
    to empty filler — the docutils corner-walk: starting from the
    top-left lattice point, each cell is the smallest ``+``-cornered
    rectangle whose top edge is ``-``/``=``, right/left edges ``|``
    (with ``+`` at internal lattice crossings), bottom edge ``-``/
    ``=``.  A cell's box may cover several base rows/columns — the
    extra positions densify to ``""``, exactly like the HTML grid
    lane's span expansion, so the same table audits identically in
    either markup."""
    if not tbl:
        return []
    width = max(len(ln) for ln in tbl)
    g = [ln.ljust(width) for ln in tbl]
    h = len(g)

    def at(r: int, c: int) -> str:
        return g[r][c] if 0 <= r < h and 0 <= c < width else " "

    def scan_cell(top: int, left: int):
        """Smallest closed box with top-left corner at (top,left)."""
        # candidate right edges: '+' along the top run of -/=
        c = left + 1
        rights = []
        while c < width:
            ch = at(top, c)
            if ch == "+":
                rights.append(c)
                c += 1
            elif ch in "-=":
                c += 1
            else:
                break
        for right in rights:
            # walk down the right edge
            r = top + 1
            while r < h and at(r, right) in "|+":
                if at(r, right) == "+":
                    # candidate bottom: check bottom + left edges
                    bottom = r
                    ok_bottom = all(
                        at(bottom, cc) in "-=+"
                        for cc in range(left + 1, right)
                    ) and at(bottom, left) == "+"
                    ok_left = all(
                        at(rr, left) in "|+"
                        for rr in range(top + 1, bottom)
                    )
                    if ok_bottom and ok_left:
                        return bottom, right
                r += 1
        return None

    cells = []  # (top, left, bottom, right, text)
    seen = set()
    stack = [(0, 0)]
    while stack:
        top, left = stack.pop()
        if (top, left) in seen or at(top, left) != "+":
            continue
        seen.add((top, left))
        box = scan_cell(top, left)
        if box is None:
            continue
        bottom, right = box
        text = "\n".join(
            g[rr][left + 1 : right] for rr in range(top + 1, bottom)
        )
        cells.append((top, left, bottom, right,
                      _clean_inline_cell(text)))
        stack.append((top, right))
        stack.append((bottom, left))
    if not cells:
        return []

    row_bounds = sorted({c[0] for c in cells})
    col_bounds = sorted({c[1] for c in cells})
    n_rows, n_cols = len(row_bounds), len(col_bounds)
    grid: List[List[str]] = [[""] * n_cols for _ in range(n_rows)]
    for top, left, _bottom, _right, text in cells:
        grid[row_bounds.index(top)][col_bounds.index(left)] = text
    return grid


def _clean_inline_cell(text: str) -> str:
    # ASCII-only strip/collapse: a full-width-space indent is CONTENT
    # (the F9 rule detects it), same contract as the wiki/HTML cells
    lines = [
        re.sub(r"[ \t]+", " ",
               _clean_inline_keepnl(ln)).strip(" \t\r\f\v")
        for ln in text.split("\n")
    ]
    while lines and not lines[0]:
        lines.pop(0)
    while lines and not lines[-1]:
        lines.pop()
    return "\n".join(lines)


def _clean_inline_keepnl(text: str) -> str:
    text = re.sub(r"``([^`]*)``", r"\1", text)
    text = re.sub(r"\*\*([^*]+)\*\*", r"\1", text)
    text = re.sub(r"\*([^*]+)\*", r"\1", text)
    return text


def _parse_simple_table(tbl: List[str]) -> List[List[str]]:
    """``====  ====`` simple table → grid (no spans by construction)."""
    if not tbl:
        return []
    border = tbl[0]
    spans = [
        (m.start(), m.end()) for m in re.finditer(r"=+", border)
    ]
    if len(spans) < 2:
        return []
    grid: List[List[str]] = []
    for ln in tbl[1:]:
        if _SIMPLE_BORDER_RE.match(ln) or re.fullmatch(r"\s*=+\s*", ln):
            continue
        if not ln.strip():
            continue
        row = []
        for i, (a, b) in enumerate(spans):
            end = b if i < len(spans) - 1 else len(ln)
            row.append(" ".join(ln[a:end].split()))
        grid.append(row)
    return grid


# ---------------------------------------------------------------- parse


def extract_rst_blocks(content: bytes):
    """Line scan → (spans, grids)."""
    text = content.decode("utf-8", "replace")
    lines = text.split("\n")
    spans: List[Triple] = []
    grids: List[List[List[str]]] = []
    i = 0
    n = len(lines)

    def classify(par: str) -> None:
        par = _clean_inline(par)
        if not par:
            return
        if len(par) >= MIN_CONTENT_CHARS:
            spans.append(("main", par, ""))
        else:
            spans.append(("boilerplate", par, ""))

    while i < n:
        line = lines[i]
        stripped = line.strip()
        if not stripped:
            i += 1
            continue

        # grid table
        if _GRID_BORDER_RE.match(line):
            tbl = []
            while i < n and (
                lines[i].strip().startswith("+")
                or lines[i].strip().startswith("|")
            ):
                tbl.append(lines[i].rstrip())
                i += 1
            grid = _parse_grid_table(tbl)
            if grid:
                grids.append(grid)
                for row in grid:
                    spans.append(("line", "\t".join(row), ""))
            continue

        # simple table
        if _SIMPLE_BORDER_RE.match(line):
            tbl = [line.rstrip()]
            i += 1
            while i < n and lines[i].strip():
                tbl.append(lines[i].rstrip())
                i += 1
            grid = _parse_simple_table(tbl)
            if grid:
                grids.append(grid)
                for row in grid:
                    spans.append(("line", "\t".join(row), ""))
            continue

        # section title: over+underline, or text + underline
        if (
            _ADORN_RE.match(line)
            and i + 2 < n
            and lines[i + 1].strip()
            and _ADORN_RE.match(lines[i + 2] or "")
        ):
            title = _clean_inline(lines[i + 1])
            if title:
                spans.append(
                    ("title" if not spans else "heading", title, "")
                )
            i += 3
            continue
        if (
            i + 1 < n
            and _ADORN_RE.match(lines[i + 1] or "")
            and not _ADORN_RE.match(line)
            and len(lines[i + 1].strip()) >= len(stripped) // 2
        ):
            title = _clean_inline(line)
            if title:
                spans.append(
                    ("title" if not spans else "heading", title, "")
                )
            i += 2
            continue

        # directives / comments / targets
        m = _DIRECTIVE_RE.match(stripped)
        if m:
            name, arg = m.group(1).lower(), m.group(2).strip()
            i += 1
            # skip option lines (:field: value)
            options = {}
            while i < n and re.match(r"^\s+:[\w-]+:", lines[i]):
                om = re.match(r"^\s+:([\w-]+):\s*(.*)$", lines[i])
                if om:
                    options[om.group(1).lower()] = om.group(2).strip()
                i += 1
            body, i = _indented_block(lines, i)
            if name in _CODE_DIRECTIVES:
                spans.append(("code", "\n".join(body), ""))
            elif name == "math":
                spans.append(("math", " ".join(
                    ln for ln in body if ln.strip()
                ).strip(), ""))
            elif name == "image":
                spans.append(("media", options.get("alt", ""), arg))
            elif name == "figure":
                spans.append(("media", options.get("alt", ""), arg))
                # first non-empty body paragraph = caption (the rest is
                # the figure legend; both are caption-class content)
                cap_lines = []
                for ln in body:
                    if not ln.strip() and cap_lines:
                        break
                    if ln.strip():
                        cap_lines.append(ln.strip())
                cap = _clean_inline(" ".join(cap_lines))
                if cap:
                    spans.append(("caption", cap, arg))
            # every other directive (incl. toctree/note/warning):
            # content is renderer input — dropped
            continue
        if _TARGET_RE.match(stripped) or _COMMENT_RE.match(stripped):
            i += 1
            _body, i = _indented_block(lines, i)
            continue

        # list items: one span per item
        if _BULLET_RE.match(line):
            item = _BULLET_RE.sub("", line).strip()
            i += 1
            while i < n and lines[i].strip() and lines[i][:1] in (" ", "\t") \
                    and not _BULLET_RE.match(lines[i]):
                item += " " + lines[i].strip()
                i += 1
            classify(item)
            continue

        # paragraph (may end with :: starting a literal block)
        par_lines = [stripped]
        i += 1
        while i < n and lines[i].strip() and not _ADORN_RE.match(lines[i]) \
                and not _GRID_BORDER_RE.match(lines[i]) \
                and not _SIMPLE_BORDER_RE.match(lines[i]) \
                and not _BULLET_RE.match(lines[i]) \
                and not _DIRECTIVE_RE.match(lines[i].strip()) \
                and not _COMMENT_RE.match(lines[i].strip()):
            # section underline for THIS paragraph's last line?
            par_lines.append(lines[i].strip())
            i += 1
        par = " ".join(par_lines)
        if par.endswith("::"):
            par = par[:-2].rstrip()
            if par:
                classify(par + ":")
            body, i = _indented_block(lines, i)
            if body:
                spans.append(("code", "\n".join(body), ""))
            continue
        classify(par)
    return spans, grids


def extract_rst_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    try:
        spans, _grids = extract_rst_blocks(content)
        return spans, None
    except Exception as e:  # pragma: no cover — must quarantine
        return [], f"rst parse failed: {e}"


def extract_rst_tables(content: bytes) -> List[List[List[str]]]:
    try:
        _spans, grids = extract_rst_blocks(content)
        return grids
    except Exception:
        return []
