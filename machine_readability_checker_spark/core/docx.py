"""DOCX lane: stdlib OOXML WordprocessingML → ordered layout spans.

Rounds out the "Office bytes" surface of the north rule next to the
xlsx/xls grid lanes: a .docx is a zip whose ``word/document.xml`` holds
paragraphs (``w:p``), styled via ``w:pStyle`` (Title / Heading1..9),
tables (``w:tbl``), and embedded media (``w:drawing`` →
``a:blip r:embed`` resolved through ``word/_rels/document.xml.rels``).

Span mapping mirrors the HTML/PDF layout lanes (same kind vocabulary,
so downstream operators are format-agnostic):

- Title style            → ``title``
- Heading* styles        → ``heading``
- body paragraphs        → ``main`` when ≥ MIN_CONTENT_CHARS else
                           ``boilerplate`` (Boilerpipe-style length
                           classification; headers/footers, if parsed,
                           would also be boilerplate)
- table rows             → ``line`` (tab-joined cells, reading order)
- embedded images        → ``media`` with the relationship target as
                           ``media_ref``

Like every parser in this repo it is deterministic, dependency-free and
quarantine-safe: malformed bytes produce a parse_error, never a task
failure.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Dict, List, Optional, Tuple
from xml.etree import ElementTree

W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
A_NS = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
R_NS = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)
REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

MIN_CONTENT_CHARS = 25  # same threshold as the HTML block classifier

_HEADING_RE = re.compile(r"^(?:Heading|heading)\d$")


def _rels(zf: zipfile.ZipFile) -> Dict[str, str]:
    try:
        data = zf.read("word/_rels/document.xml.rels")
    except KeyError:
        return {}
    out = {}
    for rel in ElementTree.fromstring(data).iter(f"{REL_NS}Relationship"):
        out[rel.get("Id", "")] = rel.get("Target", "")
    return out


def _para_style(p) -> Optional[str]:
    ppr = p.find(f"{W_NS}pPr")
    if ppr is None:
        return None
    st = ppr.find(f"{W_NS}pStyle")
    return st.get(f"{W_NS}val") if st is not None else None


def _para_text(p) -> str:
    # Runs concatenate with NO separator: Word routinely splits a single
    # word across w:r runs (rsid tracking, mid-word formatting), so a
    # space-join would invent mid-word spaces.  Matches python-docx
    # Paragraph.text semantics.  Whitespace is normalized afterwards.
    parts: List[str] = []
    for t in p.iter(f"{W_NS}t"):
        parts.append(t.text or "")
    return " ".join("".join(parts).split())


def _cell_text(tc) -> str:
    # A w:tc may hold multiple paragraphs; paragraph boundaries separate
    # words (python-docx joins them with "\n" — normalized to a space
    # here so the tab-joined row stays single-line).
    return " ".join(
        filter(None, (_para_text(p) for p in tc.iter(f"{W_NS}p")))
    )


def _para_media(p, rels: Dict[str, str]) -> List[str]:
    refs = []
    for blip in p.iter(f"{A_NS}blip"):
        rid = blip.get(f"{R_NS}embed")
        if rid and rid in rels:
            refs.append(rels[rid])
    return refs


def extract_docx_spans(
    content: bytes,
) -> Tuple[List[Tuple[str, str, str]], Optional[str]]:
    """→ ([(kind, text, media_ref)], parse_error)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
        body = ElementTree.fromstring(zf.read("word/document.xml")).find(
            f"{W_NS}body"
        )
        if body is None:
            return [], "docx parse failed: no w:body"
        rels = _rels(zf)
    except Exception as e:
        return [], f"docx parse failed: {e}"

    spans: List[Tuple[str, str, str]] = []
    for el in body:
        tag = el.tag
        if tag == f"{W_NS}p":
            style = _para_style(el) or ""
            text = _para_text(el)
            media = _para_media(el, rels)
            if text:
                if style == "Title":
                    spans.append(("title", text, ""))
                elif _HEADING_RE.match(style):
                    spans.append(("heading", text, ""))
                elif len(text) >= MIN_CONTENT_CHARS:
                    spans.append(("main", text, ""))
                else:
                    spans.append(("boilerplate", text, ""))
            for ref in media:
                spans.append(("media", "", ref))
        elif tag == f"{W_NS}tbl":
            for tr in el.iter(f"{W_NS}tr"):
                cells = [
                    _cell_text(tc) if tc is not None else ""
                    for tc in tr.iter(f"{W_NS}tc")
                ]
                spans.append(("line", "\t".join(cells), ""))
    return spans, None


# ------------------------------------------------------- fixture writer


def write_docx(
    blocks: List[Tuple[str, str]],
    images: Optional[List[str]] = None,
    tables: Optional[List[List[List[str]]]] = None,
) -> bytes:
    """Minimal deterministic .docx writer for fixtures/tests.

    ``blocks``: (style, text) pairs — style in {"Title", "Heading1"..,
    ""}.  ``images``: media part names embedded as drawings after the
    paragraphs.  ``tables``: list of row-major string grids."""
    images = images or []
    tables = tables or []

    def esc(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    paras = []
    for style, text in blocks:
        st = (
            f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>' if style else ""
        )
        # text may be a list of run strings: Word splits single words
        # across runs (rsid/formatting), and the extractor must join
        # them with NO separator — multi-run fixtures exercise that
        runs = [text] if isinstance(text, str) else list(text)
        runs_xml = "".join(
            f'<w:r><w:t xml:space="preserve">{esc(r)}</w:t></w:r>'
            for r in runs
        )
        paras.append(f"<w:p>{st}{runs_xml}</w:p>")
    rels = []
    for i, name in enumerate(images, start=1):
        rid = f"rIdImg{i}"
        rels.append(
            f'<Relationship Id="{rid}" Type="http://schemas.openxml'
            f'formats.org/officeDocument/2006/relationships/image" '
            f'Target="{name}"/>'
        )
        paras.append(
            "<w:p><w:r><w:drawing><a:blip "
            f'r:embed="{rid}"/></w:drawing></w:r></w:p>'
        )
    tbls = []
    for grid in tables:
        rows = "".join(
            "<w:tr>"
            + "".join(
                f"<w:tc><w:p><w:r><w:t>{esc(c)}</w:t></w:r></w:p></w:tc>"
                for c in row
            )
            + "</w:tr>"
            for row in grid
        )
        tbls.append(f"<w:tbl>{rows}</w:tbl>")

    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main" xmlns:a="http://schemas.openxml'
        'formats.org/drawingml/2006/main" xmlns:r="http://schemas.openxml'
        'formats.org/officeDocument/2006/relationships">'
        "<w:body>" + "".join(paras) + "".join(tbls) + "</w:body></w:document>"
    )
    doc_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">' + "".join(rels) + "</Relationships>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.wordprocessingml.document.main'
        '+xml"/></Types>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/office"
        'Document" Target="word/document.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        # fixed date_time for byte-determinism
        for name, data in [
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", root_rels),
            ("word/document.xml", document),
            ("word/_rels/document.xml.rels", doc_rels),
        ]:
            zi = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            zf.writestr(zi, data)
    return buf.getvalue()
