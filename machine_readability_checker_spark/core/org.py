"""Org-mode lane: .org documents → ordered spans + dense table grids,
dependency-free and deterministic.

Org is Emacs's outline/document format and a common source for
technical notes, literate-programming corpora and wiki-style sites
(Worg, many research groups' pages).  From-scratch line scanner over
the PUBLISHED Org syntax manual (orgmode.org/manual + the Org Syntax
draft spec) — NOT an org-element port, deliberate subset:

- ``#+TITLE:`` keyword → ``title``; headlines (``*``..``******``)
  → ``heading`` (the first span-producing block, when a headline,
  becomes ``title`` like every other markup lane); TODO/DONE
  keywords, ``[#A]`` priority cookies and trailing ``:tag:`` strings
  strip from headline text;
- paragraphs / list items (``-``/``+``/``1.``/``1)``, indented
  continuation lines) → ``main``/``boilerplate`` by the shared
  length threshold; ``#+BEGIN_QUOTE`` blocks classify as paragraphs;
- ``#+BEGIN_SRC [lang]`` / ``#+BEGIN_EXAMPLE`` blocks and contiguous
  fixed-width ``: `` lines → ``code`` (verbatim);
- LaTeX environments (``\\begin{env}`` .. ``\\end{env}`` at line
  start — Org treats these as LaTeX fragments) → ``math``;
- a standalone ``[[file:path]]`` / ``[[file:path][alt]]`` line →
  ``media``; a ``#+CAPTION: text`` keyword above it also emits
  ``caption`` with the image path as media_ref;
- ``# `` comment lines, other ``#+`` keyword lines, drawers
  (``:NAME:`` .. ``:END:``) and ``#+BEGIN_COMMENT`` blocks drop;
- inline: ``*bold*`` ``/italic/`` ``_underline_`` ``=verbatim=``
  ``~code~`` unwrap; ``[[url][desc]]`` keeps desc, ``[[url]]`` keeps
  the target text;
- TABLES: consecutive ``|``-led lines; ``|-`` rule rows are
  structure and skip; cells split on ``|`` with ASCII-only trimming
  (U+3000 indents survive as content, a rule-battery signal); the
  forced-line-break markup ``\\\\`` inside a cell becomes an embedded
  newline (Org's export backends render ``\\\\`` as a hard break), so
  an Org table audits identically to the same table in
  HTML/MD/TeX/wiki/RST/AsciiDoc markup.  Org tables cannot express
  col/row spans, so — exactly like the GFM pipe-table lane — merged
  regions are authored as explicit empty filler cells.

Malformed input can only produce fewer spans, never an exception.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

MIN_CONTENT_CHARS = 25  # shared with the HTML/MD/adoc block classifier

Triple = Tuple[str, str, str]

_HEADLINE_RE = re.compile(r"^(\*{1,6})\s+(.*)$")
_TODO_RE = re.compile(r"^(?:TODO|DONE)\s+")
_PRIORITY_RE = re.compile(r"^\[#[A-Za-z]\]\s*")
_TAGS_RE = re.compile(r"\s+:[A-Za-z0-9_@#%:]+:\s*$")
_LIST_RE = re.compile(r"^(\s*)(?:[-+]|\d{1,9}[.)])\s+(.*)$")
_KEYWORD_RE = re.compile(r"^#\+([A-Za-z_]+):\s*(.*)$")
_BLOCK_BEGIN_RE = re.compile(r"^#\+BEGIN_([A-Za-z]+)\b\s*(.*)$", re.I)
_DRAWER_RE = re.compile(r"^:[A-Za-z0-9_\-]+:\s*$")
_FIXED_RE = re.compile(r"^:( |$)")
_LATEX_BEGIN_RE = re.compile(r"^\\begin\{([A-Za-z*]+)\}")
_IMAGE_LINE_RE = re.compile(
    r"^\[\[(?:file:)?([^\]\[]+?\.(?:png|jpe?g|gif|bmp|svg|webp|tiff?))\]"
    r"(?:\[([^\]]*)\])?\]\s*$",
    re.I,
)
_LINK_RE = re.compile(r"\[\[([^\]\[]*)\](?:\[([^\]]*)\])?\]")
_EMPH_RES = [
    re.compile(r"(?<![\w*])\*([^*\n]+)\*(?![\w*])"),
    re.compile(r"(?<![\w/])/([^/\n]+)/(?![\w/])"),
    re.compile(r"(?<![\w=])=([^=\n]+)=(?![\w=])"),
    re.compile(r"(?<![\w~])~([^~\n]+)~(?![\w~])"),
    re.compile(r"(?<![\w_])_([^_\n]+)_(?![\w_])"),
]


def _clean_inline(text: str) -> str:
    def _link(m: "re.Match[str]") -> str:
        return m.group(2) if m.group(2) is not None else m.group(1)

    text = _LINK_RE.sub(_link, text)
    for rx in _EMPH_RES:
        text = rx.sub(r"\1", text)
    return " ".join(text.split())


# ------------------------------------------------------------- tables

# the forced-line-break markup, with one optional absorbed space each
# side — the same absorption the HTML lane applies around <br>
_CELL_BR_RE = re.compile(r" ?\\\\ ?")


def _cell_text(raw: str) -> str:
    t = _clean_inline_cell(raw)
    t = re.sub(r"[ \t\f\v]+", " ", t).strip(" ")
    return _CELL_BR_RE.sub("\n", t)


def _clean_inline_cell(text: str) -> str:
    def _link(m: "re.Match[str]") -> str:
        return m.group(2) if m.group(2) is not None else m.group(1)

    text = _LINK_RE.sub(_link, text)
    for rx in _EMPH_RES:
        text = rx.sub(r"\1", text)
    return text


def _split_table_row(line: str) -> List[str]:
    s = line.strip()
    if s.startswith("|"):
        s = s[1:]
    if s.endswith("|"):
        s = s[:-1]
    return [_cell_text(c) for c in s.split("|")]


def _parse_table(lines: List[str]) -> List[List[str]]:
    rows = [
        _split_table_row(ln)
        for ln in lines
        if not ln.strip().startswith("|-")
    ]
    rows = [r for r in rows if r]
    width = max((len(r) for r in rows), default=0)
    return [r + [""] * (width - len(r)) for r in rows]


# ---------------------------------------------------------------- parse


def extract_org_blocks(
    content: bytes,
) -> Tuple[List[Triple], List[List[List[str]]]]:
    text = content.decode("utf-8", "replace")
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    lines = text.split("\n")
    spans: List[Triple] = []
    grids: List[List[List[str]]] = []
    i = 0
    n = len(lines)
    pending_caption: Optional[str] = None

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
            pending_caption = None
            i += 1
            continue
        # comments: "# " or a lone "#"
        if stripped == "#" or stripped.startswith("# "):
            i += 1
            continue
        m = _BLOCK_BEGIN_RE.match(stripped)
        if m:
            name = m.group(1).upper()
            end = f"#+END_{name}"
            body: List[str] = []
            i += 1
            while i < n and lines[i].strip().upper() != end:
                body.append(lines[i])
                i += 1
            i += 1  # the #+END_ line (or EOF)
            if name in ("SRC", "EXAMPLE"):
                spans.append(("code", "\n".join(body).strip("\n"), ""))
            elif name == "QUOTE":
                classify(" ".join(ln.strip() for ln in body if ln.strip()))
            # COMMENT / EXPORT / anything else: dropped
            pending_caption = None
            continue
        m = _KEYWORD_RE.match(stripped)
        if m:
            key = m.group(1).upper()
            if key == "TITLE":
                t = _clean_inline(m.group(2))
                if t:
                    spans.append(("title" if not spans else "heading", t, ""))
            elif key == "CAPTION":
                pending_caption = _clean_inline(m.group(2))
                i += 1
                continue
            i += 1
            pending_caption = None
            continue
        # drawers (:PROPERTIES: .. :END: and friends) drop
        if _DRAWER_RE.match(stripped):
            i += 1
            while i < n and lines[i].strip().upper() != ":END:":
                i += 1
            i += 1
            continue
        m = _IMAGE_LINE_RE.match(stripped)
        if m:
            path = m.group(1).strip()
            alt = _clean_inline(m.group(2) or "")
            spans.append(("media", alt, path))
            if pending_caption:
                spans.append(("caption", pending_caption, path))
            pending_caption = None
            i += 1
            continue
        m = _HEADLINE_RE.match(line)
        if m:
            t = m.group(2)
            t = _TODO_RE.sub("", t)
            t = _PRIORITY_RE.sub("", t)
            t = _TAGS_RE.sub("", t)
            t = _clean_inline(t)
            if t:
                spans.append(("title" if not spans else "heading", t, ""))
            pending_caption = None
            i += 1
            continue
        if stripped.startswith("|"):
            tbl: List[str] = []
            while i < n and lines[i].strip().startswith("|"):
                tbl.append(lines[i])
                i += 1
            grid = _parse_table(tbl)
            if grid:
                grids.append(grid)
                if pending_caption:
                    spans.append(("caption", pending_caption, ""))
                for row in grid:
                    spans.append(("line", "\t".join(row), ""))
            pending_caption = None
            continue
        if _FIXED_RE.match(stripped):
            body = []
            while i < n and _FIXED_RE.match(lines[i].strip()):
                body.append(lines[i].strip()[2:])
                i += 1
            spans.append(("code", "\n".join(body).strip("\n"), ""))
            pending_caption = None
            continue
        m = _LATEX_BEGIN_RE.match(stripped)
        if m:
            env = m.group(1)
            end = f"\\end{{{env}}}"
            body = []
            i += 1
            while i < n and lines[i].strip() != end:
                body.append(lines[i])
                i += 1
            i += 1
            spans.append(("math", "\n".join(body).strip("\n"), ""))
            pending_caption = None
            continue
        m = _LIST_RE.match(line)
        if m:
            item = m.group(2)
            indent = len(m.group(1)) + 2
            i += 1
            while (
                i < n and lines[i].strip()
                and not _LIST_RE.match(lines[i])
                and lines[i].startswith(" " * indent)
            ):
                item += " " + lines[i].strip()
                i += 1
            classify(item)
            pending_caption = None
            continue
        # paragraph: contiguous non-structural lines
        par_lines = [stripped]
        i += 1
        while (
            i < n and lines[i].strip()
            and not _HEADLINE_RE.match(lines[i])
            and not lines[i].strip().startswith(("|", "#", ":"))
            and not _LIST_RE.match(lines[i])
            and not _LATEX_BEGIN_RE.match(lines[i].strip())
        ):
            par_lines.append(lines[i].strip())
            i += 1
        classify(" ".join(par_lines))
        pending_caption = None
    return spans, grids


def extract_org_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    try:
        spans, _grids = extract_org_blocks(content)
        return spans, None
    except Exception as e:  # pragma: no cover — must quarantine
        return [], f"org parse failed: {e}"


def extract_org_tables(content: bytes) -> List[List[List[str]]]:
    try:
        _spans, grids = extract_org_blocks(content)
        return grids
    except Exception:
        return []
