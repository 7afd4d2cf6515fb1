"""MediaWiki wikitext lane: dump-style article source → ordered span
triples + dense table grids, dependency-free and deterministic.

Wikipedia dumps are a staple pre-training corpus, and wikitext maps
cleanly onto the interleaved span schema: ``== Section ==`` headings →
``heading``, prose paragraphs → ``main``/``boilerplate`` by the shared
length threshold, ``[[File:…|…|caption]]`` → ``media`` spans whose
caption rides as the span text (the caption-to-media alignment the
multimodal family mines), ``<math>`` paragraphs → ``math``,
``<pre>/<syntaxhighlight>/<source>`` blocks → ``code``, ``{| … |}``
tables → dense grids that feed the SAME 22-rule battery as
CSV/HTML/PDF/MD/TeX tables (one battery, six ingest surfaces), with
``|+`` captions as ``caption`` spans.

From-scratch scanner over the PUBLISHED wikitext syntax
(mediawiki.org/wiki/Help:Wikitext, Help:Tables) — NOT a port of
mwparserfromhell/Parsoid, and deliberately a subset: no template
EXPANSION (no template database exists outside a wiki installation —
``{{…}}`` transclusions strip, nested-aware, which is also what
WikiExtractor-style corpus tooling does), no parser functions.
Grammar notes:

- HTML comments strip first; ``<nowiki>`` protects its content from
  all further markup processing (re-inserted literally);
- ``{{…}}`` / ``{{{…}}}`` strip with brace matching (templates can
  nest; an unclosed template strips to end-of-text); ``__MAGIC__``
  behavior switches strip;
- ``<ref …>…</ref>`` and self-closing ``<ref …/>`` strip (footnote
  plumbing, not prose);
- ``= H =`` .. ``====== H ======`` → heading spans (inline-cleaned);
- ``#REDIRECT [[T]]`` pages → a single ``boilerplate`` span;
- lists (``* # : ;`` runs) → one length-classified span per item;
- links: ``[[File:…]]``/``[[Image:…]]`` → media (caption = last
  non-option parameter, parameter split is nesting-aware);
  ``[[Category:…]]`` strips; ``[[t|label]]`` → label, ``[[t]]`` → t;
  external ``[url label]`` → label, bare ``[url]`` drops;
- inline: ``'''''`` / ``'''`` / ``''`` quote markup unwraps; leftover
  HTML tags strip (``<br>`` inside table cells becomes an embedded
  newline FIRST — matching the HTML lane's cell semantics — and a
  space in prose); entities unescape;
- tables: ``{|`` attrs, ``|+`` caption, ``|-`` row, ``!``/``|``
  cells, ``!!``/``||`` inline separators, ``attr | content`` cell
  prefixes, colspan/rowspan expand to empty filler exactly like the
  HTML grid lane (hostile span values clamped); tables nested inside
  a cell are dropped whole (the outer grid stays rectangular).

No reference analog (the reference reads spreadsheets only,
``src/processor/loader.py:157-201``); the lane exists for the
training-data pipeline mandate next to the HTML/MD/TeX source lanes.
"""

from __future__ import annotations

import html as _html
import re
from typing import List, Optional, Tuple

MIN_CONTENT_CHARS = 25  # shared with the HTML/DOCX/MD block classifier
MAX_SPAN = 100          # colspan/rowspan clamp, same guard as core/html

Triple = Tuple[str, str, str]  # (kind, text, media_ref)

_COMMENT_RE = re.compile(r"<!--.*?(-->|$)", re.S)
_NOWIKI_RE = re.compile(r"<nowiki\s*>(.*?)</nowiki\s*>", re.S | re.I)
_REF_RE = re.compile(
    r"<ref\b[^>/]*/\s*>|<ref\b[^>]*>.*?</ref\s*>", re.S | re.I
)
_MAGIC_RE = re.compile(r"__[A-Z]+__")
_HEADING_RE = re.compile(r"^(={1,6})\s*(.*?)\s*\1\s*$")
_REDIRECT_RE = re.compile(r"^\s*#(redirect|転送)\s*\[\[(.*?)\]\]", re.I)
_EXLINK_RE = re.compile(r"\[(https?://\S+|//\S+)(?:\s+([^\]]*))?\]")
_TAG_RE = re.compile(r"</?[a-zA-Z][^>]*>")
_BR_RE = re.compile(r"<br\s*/?\s*>", re.I)

_CODE_BLOCK_RE = re.compile(
    r"<(pre|syntaxhighlight|source)\b[^>]*>(.*?)</\1\s*>", re.S | re.I
)
_MATH_RE = re.compile(r"<math\b[^>]*>(.*?)</math\s*>", re.S | re.I)

# image options that are NOT the caption (Help:Images); px sizes and
# link=/alt=/class= style parameters match by pattern
_IMG_OPTIONS = {
    "thumb", "thumbnail", "frame", "framed", "frameless", "border",
    "right", "left", "center", "centre", "none", "baseline", "sub",
    "super", "top", "text-top", "middle", "bottom", "text-bottom",
    "upright",
}
_IMG_OPT_RE = re.compile(
    r"^(\d+px|x\d+px|\d+x\d+px|upright=.*|link=.*|alt=.*|class=.*|"
    r"lang=.*|page=.*|thumb=.*)$"
)


def _split_params(body: str) -> List[str]:
    """Split on top-level ``|`` only (links/templates nest)."""
    parts: List[str] = []
    depth = 0
    cur: List[str] = []
    i = 0
    while i < len(body):
        two = body[i : i + 2]
        if two in ("[[", "{{"):
            depth += 1
            cur.append(two)
            i += 2
            continue
        if two in ("]]", "}}"):
            depth = max(depth - 1, 0)
            cur.append(two)
            i += 2
            continue
        ch = body[i]
        if ch == "|" and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _strip_templates(text: str) -> str:
    """Remove ``{{…}}``/``{{{…}}}`` with nesting; unclosed strips to
    the end (Parsoid treats runaway transclusions the same way)."""
    out: List[str] = []
    depth = 0
    i = 0
    n = len(text)
    while i < n:
        if text.startswith("{{", i):
            depth += 1
            i += 2
            continue
        if depth and text.startswith("}}", i):
            depth -= 1
            i += 2
            continue
        if depth == 0:
            out.append(text[i])
        i += 1
    return "".join(out)


class _Protector:
    """<nowiki> bodies swap to sentinels before markup processing and
    swap back (literally) at the very end."""

    def __init__(self) -> None:
        self.slots: List[str] = []

    def shelter(self, text: str) -> str:
        def repl(m: re.Match) -> str:
            self.slots.append(m.group(1))
            return f"\x00{len(self.slots) - 1}\x00"

        return _NOWIKI_RE.sub(repl, text)

    def restore(self, text: str) -> str:
        def repl(m: re.Match) -> str:
            idx = int(m.group(1))
            return self.slots[idx] if idx < len(self.slots) else ""

        return re.sub(r"\x00(\d+)\x00", repl, text)


def _media_caption(params: List[str]) -> str:
    caption = ""
    for p in params[1:]:
        p = p.strip()
        if not p or p.lower() in _IMG_OPTIONS or _IMG_OPT_RE.match(p):
            continue
        caption = p
    return caption


def _clean_inline(
    text: str, media_out: Optional[List[Tuple[str, str]]] = None,
    cell: bool = False,
) -> str:
    """Inline wikitext → plain text.  File/Image links append
    (media_ref, caption) to ``media_out`` (dropped from the text);
    plain links keep their label.  ``cell`` mode matches the HTML grid
    lane's cell semantics: ``<br>`` → embedded newline, and whitespace
    collapse is ASCII-ONLY so a full-width-space indent survives for
    the F9 rule."""
    text = _BR_RE.sub("\n" if cell else " ", text)

    # nesting-aware [[...]] handling (File links may hold [[..]] in
    # their caption, so a regex over the whole link is not enough)
    out: List[str] = []
    i = 0
    n = len(text)
    while i < n:
        if text.startswith("[[", i):
            depth = 1
            j = i + 2
            while j < n and depth:
                if text.startswith("[[", j):
                    depth += 1
                    j += 2
                elif text.startswith("]]", j):
                    depth -= 1
                    j += 2
                else:
                    j += 1
            body = text[i + 2 : j - 2] if depth == 0 else text[i + 2 :]
            params = _split_params(body)
            target = params[0].strip()
            low = target.lower()
            if low.startswith(("file:", "image:", "ファイル:")):
                caption = _media_caption(params)
                if media_out is not None:
                    media_out.append(
                        (target, _clean_inline(caption, media_out))
                    )
            elif low.startswith("category:"):
                pass
            else:
                label = params[-1] if len(params) > 1 else target
                # pipe trick: [[target|]] renders the target sans
                # namespace/disambiguator
                if len(params) > 1 and not label.strip():
                    label = re.sub(r"\s*\(.*?\)\s*$", "", target)
                    label = label.split(":", 1)[-1]
                out.append(label)
            i = j
            continue
        out.append(text[i])
        i += 1
    text = "".join(out)

    text = _EXLINK_RE.sub(lambda m: m.group(2) or "", text)
    text = text.replace("'''''", "").replace("'''", "").replace("''", "")
    text = _TAG_RE.sub("", text)
    text = _html.unescape(text)
    if not cell:
        return " ".join(text.split())
    lines = [
        re.sub(r"[ \t\r\f\v]+", " ", ln).strip(" \t\r\f\v")
        for ln in text.split("\n")
    ]
    while lines and not lines[0]:
        lines.pop(0)
    while lines and not lines[-1]:
        lines.pop()
    return "\n".join(lines)


# ------------------------------------------------------------- tables


def _parse_attr_int(attrs: str, name: str) -> int:
    m = re.search(name + r"\s*=\s*\"?'?(\d+)", attrs)
    if not m:
        return 1
    return max(1, min(int(m.group(1)), MAX_SPAN))


def _split_cell_prefix(cell: str) -> Tuple[str, str]:
    """``attrs | content`` → (attrs, content); the prefix counts as
    attributes only when it holds ``=`` and no wiki markup (spec:
    a single ``|`` separates the optional attribute list)."""
    if "|" in cell:
        head, rest = cell.split("|", 1)
        if "=" in head and "[[" not in head and "{{" not in head:
            return head, rest
    return "", cell


def _densify(
    raw_rows: List[List[Tuple[str, str]]],
) -> List[List[str]]:
    """(attrs, text) cells → dense grid with colspan/rowspan expanded
    to empty filler, exactly like ``core/html.extract_html_tables``."""
    grid: List[List[Optional[str]]] = []
    pending: dict = {}  # col -> (remaining_rows, span_cols)
    for cells in raw_rows:
        row: List[Optional[str]] = []
        col = 0

        def _skip_pending(col: int, row: List[Optional[str]]) -> int:
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

        col = _skip_pending(col, row)
        for attrs, text in cells:
            cspan = _parse_attr_int(attrs, "colspan")
            rspan = _parse_attr_int(attrs, "rowspan")
            row.append(text)
            for _ in range(cspan - 1):
                row.append("")
            if rspan > 1:
                pending[col] = (rspan - 1, cspan)
            col += cspan
            col = _skip_pending(col, row)
        grid.append([c if c is not None else "" for c in row])
    width = max((len(r) for r in grid), default=0)
    return [r + [""] * (width - len(r)) for r in grid]


def _parse_table(
    lines: List[str], media_out: List[Tuple[str, str]]
) -> Tuple[List[List[str]], Optional[str]]:
    """Table block lines (without ``{|``/``|}``) → (grid, caption)."""
    caption: Optional[str] = None
    raw_rows: List[List[Tuple[str, str]]] = []
    current: List[Tuple[str, str]] = []
    started = False

    def flush_row() -> None:
        nonlocal current
        if current:
            raw_rows.append(current)
        current = []

    for line in lines:
        line = line.strip()
        if not line:
            continue
        if line.startswith("|+"):
            caption = _clean_inline(line[2:].strip(), media_out)
            continue
        if line.startswith("|-"):
            flush_row()
            started = True
            continue
        if line.startswith("!"):
            parts = re.split(r"!!", line[1:])
        elif line.startswith("|"):
            parts = re.split(r"\|\|", line[1:])
        else:
            # continuation of the previous cell (multi-line cell)
            if current:
                attrs, text = current[-1]
                current[-1] = (attrs, text + "\n" + line)
            continue
        started = True
        for part in parts:
            attrs, content = _split_cell_prefix(part)
            # ASCII-only strip: a full-width-space indent is CONTENT
            # (the F9 rule detects it), not separator whitespace
            current.append(
                (attrs, _clean_inline(content.strip(" \t\r\f\v"),
                                      media_out, cell=True))
            )
    flush_row()
    return _densify(raw_rows), caption


# ---------------------------------------------------------------- parse


def _block_split(text: str) -> List[Tuple[str, object]]:
    """Line scan → typed blocks: ('table', [lines]) / ('heading',
    (level, text)) / ('item', text) / ('para', text)."""
    blocks: List[Tuple[str, object]] = []
    para: List[str] = []
    lines = text.split("\n")
    i = 0
    n = len(lines)

    def flush() -> None:
        if para:
            blocks.append(("para", "\n".join(para)))
            para.clear()

    while i < n:
        line = lines[i]
        stripped = line.strip()
        if stripped.startswith("{|"):
            flush()
            depth = 1
            tbl: List[str] = []
            i += 1
            while i < n and depth:
                s = lines[i].strip()
                if s.startswith("{|"):
                    depth += 1
                elif s == "|}" or s.startswith("|}"):
                    depth -= 1
                    if depth == 0:
                        break
                if depth == 1:
                    tbl.append(lines[i])
                i += 1
            # nested tables (depth>1 lines) are dropped whole
            blocks.append(("table", tbl))
            i += 1
            continue
        m = _HEADING_RE.match(stripped)
        if m:
            flush()
            blocks.append(("heading", (len(m.group(1)), m.group(2))))
            i += 1
            continue
        if stripped[:1] in ("*", "#", ";", ":") and stripped:
            flush()
            blocks.append(("item", stripped.lstrip("*#;: ").strip()))
            i += 1
            continue
        if not stripped:
            flush()
            i += 1
            continue
        para.append(line)
        i += 1
    flush()
    return blocks


def extract_wiki_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    try:
        text = content.decode("utf-8", "replace")
        prot = _Protector()
        text = _COMMENT_RE.sub("", text)
        text = prot.shelter(text)
        m = _REDIRECT_RE.match(text)
        if m:
            return [("boilerplate",
                     prot.restore(f"#REDIRECT {m.group(2).strip()}"),
                     "")], None
        text = _REF_RE.sub("", text)
        text = _strip_templates(text)
        text = _MAGIC_RE.sub("", text)

        code_blocks: List[str] = []

        def code_repl(mm: re.Match) -> str:
            code_blocks.append(mm.group(2).strip("\n"))
            return f"\x01{len(code_blocks) - 1}\x01"

        text = _CODE_BLOCK_RE.sub(code_repl, text)
        math_blocks: List[str] = []

        def math_repl(mm: re.Match) -> str:
            math_blocks.append(mm.group(1).strip())
            return f"\x02{len(math_blocks) - 1}\x02"

        text = _MATH_RE.sub(math_repl, text)

        spans: List[Triple] = []
        media: List[Tuple[str, str]] = []

        def flush_media() -> None:
            for ref, caption in media:
                spans.append(("media", prot.restore(caption), ref))
            media.clear()

        for kind, payload in _block_split(text):
            if kind == "table":
                grid, caption = _parse_table(list(payload), media)
                if caption:
                    spans.append(("caption", prot.restore(caption), ""))
                for row in grid:
                    spans.append(
                        ("line",
                         "\t".join(prot.restore(c) for c in row), "")
                    )
                flush_media()
                continue
            if kind == "heading":
                level, raw = payload
                htext = prot.restore(_clean_inline(raw, media))
                if htext:
                    # a leading heading is the document title (same
                    # promotion as the markdown lane; the dump source
                    # prepends the page title as one)
                    spans.append(
                        ("title" if not spans else "heading", htext, "")
                    )
                flush_media()
                continue
            # item / para share classification
            raw = str(payload)
            only_code = re.fullmatch(r"\s*\x01(\d+)\x01\s*", raw)
            if only_code:
                spans.append(
                    ("code", code_blocks[int(only_code.group(1))], "")
                )
                continue
            only_math = re.fullmatch(r"\s*\x02(\d+)\x02\s*", raw)
            if only_math:
                spans.append(
                    ("math", math_blocks[int(only_math.group(1))], "")
                )
                continue
            ptext = _clean_inline(raw, media)
            # inline math re-inserts its TeX source verbatim
            ptext = re.sub(
                r"\x02(\d+)\x02",
                lambda mm: math_blocks[int(mm.group(1))], ptext,
            )
            ptext = re.sub(
                r"\x01(\d+)\x01",
                lambda mm: code_blocks[int(mm.group(1))], ptext,
            )
            ptext = prot.restore(ptext).strip()
            if ptext:
                if len(ptext) >= MIN_CONTENT_CHARS:
                    spans.append(("main", ptext, ""))
                else:
                    spans.append(("boilerplate", ptext, ""))
            flush_media()
        return spans, None
    except Exception as e:  # pragma: no cover — must quarantine
        return [], f"wikitext parse failed: {e}"


def extract_wiki_tables(content: bytes) -> List[List[List[str]]]:
    """All top-level ``{| … |}`` grids, densified (rule-battery
    input)."""
    text = content.decode("utf-8", "replace")
    prot = _Protector()
    text = _COMMENT_RE.sub("", text)
    text = prot.shelter(text)
    text = _REF_RE.sub("", text)
    text = _strip_templates(text)
    grids: List[List[List[str]]] = []
    for kind, payload in _block_split(text):
        if kind != "table":
            continue
        grid, _cap = _parse_table(list(payload), [])
        if grid:
            grids.append(
                [[prot.restore(c) for c in row] for row in grid]
            )
    return grids


def extract_wiki_links(content: bytes) -> List[Tuple[str, str]]:
    """(target_title, anchor_text) per article-namespace wikilink, in
    document order, duplicates kept (mention-multiset semantics, same
    contract as the HTML lane's ``extract_links``).  File/Image/
    Category links are media/taxonomy, not graph edges; section-only
    links (``[[#anchor]]``) have no target page; targets normalize per
    MediaWiki title rules (underscores = spaces, whitespace collapsed,
    first letter case-insensitive → capitalized, fragment dropped)."""
    text = content.decode("utf-8", "replace")
    prot = _Protector()
    text = _COMMENT_RE.sub("", text)
    text = prot.shelter(text)
    text = _REF_RE.sub("", text)
    text = _strip_templates(text)
    out: List[Tuple[str, str]] = []
    i = 0
    n = len(text)
    while i < n:
        if not text.startswith("[[", i):
            i += 1
            continue
        depth = 1
        j = i + 2
        while j < n and depth:
            if text.startswith("[[", j):
                depth += 1
                j += 2
            elif text.startswith("]]", j):
                depth -= 1
                j += 2
            else:
                j += 1
        body = text[i + 2 : j - 2] if depth == 0 else text[i + 2 :]
        i = j
        params = _split_params(body)
        target = params[0].split("#", 1)[0].strip()
        low = target.lower()
        if not target or low.startswith(
            ("file:", "image:", "category:", "ファイル:")
        ):
            continue
        # display label: the piped text, else the link AS WRITTEN
        # (bare [[werewolf]] renders lowercase even though the target
        # title capitalizes)
        label = params[-1].strip() if len(params) > 1 else target
        target = " ".join(target.replace("_", " ").split())
        target = target[:1].upper() + target[1:]
        out.append((target, _clean_inline(label)))
    return out
