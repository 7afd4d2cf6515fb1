"""PPTX lane: stdlib OOXML PresentationML → ordered layout spans.

Completes the Office surface of the north rule (xlsx/xls grids, docx
WordprocessingML, now pptx): a .pptx is a zip whose
``ppt/presentation.xml`` lists slides (``p:sldIdLst/p:sldId r:id``)
resolved through ``ppt/_rels/presentation.xml.rels``; each slide's
``p:cSld/p:spTree`` holds shapes (``p:sp`` with ``p:txBody``
paragraphs), pictures (``p:pic`` → ``a:blip r:embed`` resolved through
the slide's own rels part), and tables (``a:tbl`` inside
``p:graphicFrame``).

Span mapping mirrors the HTML/PDF/DOCX layout lanes (same kind
vocabulary, so downstream operators are format-agnostic):

- title / ctrTitle placeholders → ``title``
- subTitle placeholder          → ``heading``
- body/other text paragraphs    → ``main`` when ≥ MIN_CONTENT_CHARS
                                  else ``boilerplate`` (Boilerpipe-style
                                  length classification — slide chrome
                                  like page numbers lands here)
- table rows                    → ``line`` (tab-joined cells)
- pictures                      → ``media`` with the relationship
                                  target as ``media_ref``

Slides contribute spans in presentation order; shapes in spTree
document order.  Deterministic, dependency-free, quarantine-safe:
malformed bytes produce a parse_error, never a task failure.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Dict, List, Optional, Tuple
from xml.etree import ElementTree

P_NS = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
A_NS = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
R_NS = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)
REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

MIN_CONTENT_CHARS = 25  # same threshold as the HTML/DOCX block classifiers

_TITLE_TYPES = {"title", "ctrTitle"}


def _read_rels(zf: zipfile.ZipFile, part: str) -> Dict[str, str]:
    """Relationships for a part, e.g. ``ppt/slides/slide1.xml`` →
    ``ppt/slides/_rels/slide1.xml.rels``."""
    head, _, tail = part.rpartition("/")
    try:
        data = zf.read(f"{head}/_rels/{tail}.rels")
    except KeyError:
        return {}
    out = {}
    for rel in ElementTree.fromstring(data).iter(f"{REL_NS}Relationship"):
        out[rel.get("Id", "")] = rel.get("Target", "")
    return out


def _slide_parts(zf: zipfile.ZipFile) -> List[str]:
    """Slide part names in presentation order (sldIdLst r:id order,
    resolved through the presentation rels).  Falls back to numeric
    slideN sort when presentation.xml is absent."""
    try:
        pres = ElementTree.fromstring(zf.read("ppt/presentation.xml"))
        rels = _read_rels(zf, "ppt/presentation.xml")
        parts = []
        for sld in pres.iter(f"{P_NS}sldId"):
            rid = sld.get(f"{R_NS}id")
            target = rels.get(rid or "", "")
            if target:
                # targets are relative to ppt/
                parts.append(
                    target if target.startswith("ppt/") else f"ppt/{target}"
                )
        if parts:
            return parts
    except KeyError:
        pass
    names = [
        n
        for n in zf.namelist()
        if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)
    ]
    return sorted(
        names, key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1))
    )


def _ph_type(sp) -> Optional[str]:
    nv = sp.find(f"{P_NS}nvSpPr")
    if nv is None:
        return None
    for ph in nv.iter(f"{P_NS}ph"):
        return ph.get("type")
    return None


def _para_text(p) -> str:
    # Runs concatenate with NO separator: PowerPoint splits words across
    # a:r runs on formatting boundaries, so a space-join would invent
    # mid-word spaces (same fix as docx._para_text).
    parts: List[str] = []
    for t in p.iter(f"{A_NS}t"):
        parts.append(t.text or "")
    return " ".join("".join(parts).split())


def _cell_text(tc) -> str:
    # An a:tc may hold multiple a:p paragraphs; paragraph boundaries
    # separate words.
    return " ".join(
        filter(None, (_para_text(p) for p in tc.iter(f"{A_NS}p")))
    )


def _shape_spans(el, rels: Dict[str, str]) -> List[Tuple[str, str, str]]:
    spans: List[Tuple[str, str, str]] = []
    tag = el.tag
    if tag == f"{P_NS}sp":
        ph = _ph_type(el) or ""
        body = el.find(f"{P_NS}txBody")
        if body is None:
            return spans
        for p in body.iter(f"{A_NS}p"):
            text = _para_text(p)
            if not text:
                continue
            if ph in _TITLE_TYPES:
                spans.append(("title", text, ""))
            elif ph == "subTitle":
                spans.append(("heading", text, ""))
            elif len(text) >= MIN_CONTENT_CHARS:
                spans.append(("main", text, ""))
            else:
                spans.append(("boilerplate", text, ""))
    elif tag == f"{P_NS}pic":
        for blip in el.iter(f"{A_NS}blip"):
            rid = blip.get(f"{R_NS}embed")
            if rid and rid in rels:
                spans.append(("media", "", rels[rid]))
    elif tag == f"{P_NS}graphicFrame":
        for tbl in el.iter(f"{A_NS}tbl"):
            for tr in tbl.iter(f"{A_NS}tr"):
                cells = [_cell_text(tc) for tc in tr.iter(f"{A_NS}tc")]
                spans.append(("line", "\t".join(cells), ""))
    elif tag in (f"{P_NS}grpSp",):
        for child in el:
            spans.extend(_shape_spans(child, rels))
    return spans


def extract_pptx_spans(
    content: bytes,
) -> Tuple[List[Tuple[str, str, str]], Optional[str]]:
    """→ ([(kind, text, media_ref)], parse_error)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
        parts = _slide_parts(zf)
    except Exception as e:
        return [], f"pptx parse failed: {e}"
    if not parts:
        return [], "pptx parse failed: no slides"

    spans: List[Tuple[str, str, str]] = []
    for part in parts:
        try:
            tree = ElementTree.fromstring(zf.read(part))
        except Exception as e:
            return [], f"pptx parse failed: {part}: {e}"
        rels = _read_rels(zf, part)
        sp_tree = tree.find(f"{P_NS}cSld/{P_NS}spTree")
        if sp_tree is None:
            continue
        for el in sp_tree:
            spans.extend(_shape_spans(el, rels))
    return spans, None


# ------------------------------------------------------- fixture writer


def write_pptx(
    slides: List[dict],
) -> bytes:
    """Minimal deterministic .pptx writer for fixtures/tests.

    Each slide dict: ``{"title": str, "subtitle": str, "bodies": [str],
    "images": [part-name], "tables": [row-major grids]}`` (all keys
    optional)."""

    def esc(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    def sp(ph: str, text) -> str:
        ph_el = f'<p:ph type="{ph}"/>' if ph else "<p:ph/>"
        # text may be a list of run strings (words split across runs by
        # formatting — the extractor joins them with NO separator)
        runs = [text] if isinstance(text, str) else list(text)
        runs_xml = "".join(f"<a:r><a:t>{esc(r)}</a:t></a:r>" for r in runs)
        return (
            f"<p:sp><p:nvSpPr><p:nvPr>{ph_el}</p:nvPr></p:nvSpPr>"
            f"<p:txBody><a:p>{runs_xml}</a:p>"
            "</p:txBody></p:sp>"
        )

    slide_xmls: List[str] = []
    slide_rels: List[str] = []
    for s in slides:
        shapes = []
        if s.get("title"):
            shapes.append(sp("title", s["title"]))
        if s.get("subtitle"):
            shapes.append(sp("subTitle", s["subtitle"]))
        for body in s.get("bodies", []):
            shapes.append(sp("", body))
        rels = []
        for i, name in enumerate(s.get("images", []), start=1):
            rid = f"rIdImg{i}"
            rels.append(
                f'<Relationship Id="{rid}" Type="http://schemas.openxml'
                "formats.org/officeDocument/2006/relationships/image\" "
                f'Target="{name}"/>'
            )
            shapes.append(
                f'<p:pic><p:blipFill><a:blip r:embed="{rid}"/>'
                "</p:blipFill></p:pic>"
            )
        for grid in s.get("tables", []):
            rows = "".join(
                "<a:tr>"
                + "".join(
                    f"<a:tc><a:txBody><a:p><a:r><a:t>{esc(c)}</a:t></a:r>"
                    "</a:p></a:txBody></a:tc>"
                    for c in row
                )
                + "</a:tr>"
                for row in grid
            )
            shapes.append(
                f"<p:graphicFrame><a:tbl>{rows}</a:tbl></p:graphicFrame>"
            )
        slide_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<p:sld xmlns:p="http://schemas.openxmlformats.org/'
            'presentationml/2006/main" xmlns:a="http://schemas.openxml'
            'formats.org/drawingml/2006/main" xmlns:r="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships">'
            "<p:cSld><p:spTree>" + "".join(shapes) + "</p:spTree></p:cSld>"
            "</p:sld>"
        )
        slide_rels.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            'package/2006/relationships">' + "".join(rels)
            + "</Relationships>"
        )

    sld_ids = "".join(
        f'<p:sldId id="{255 + i}" r:id="rIdSld{i}"/>'
        for i in range(1, len(slides) + 1)
    )
    presentation = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<p:presentation xmlns:p="http://schemas.openxmlformats.org/'
        'presentationml/2006/main" xmlns:r="http://schemas.openxml'
        'formats.org/officeDocument/2006/relationships">'
        f"<p:sldIdLst>{sld_ids}</p:sldIdLst></p:presentation>"
    )
    pres_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        + "".join(
            f'<Relationship Id="rIdSld{i}" Type="http://schemas.openxml'
            "formats.org/officeDocument/2006/relationships/slide\" "
            f'Target="slides/slide{i}.xml"/>'
            for i in range(1, len(slides) + 1)
        )
        + "</Relationships>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/ppt/presentation.xml" ContentType="application'
        "/vnd.openxmlformats-officedocument.presentationml.presentation.main"
        '+xml"/></Types>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/office"
        'Document" Target="ppt/presentation.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        parts = [
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", root_rels),
            ("ppt/presentation.xml", presentation),
            ("ppt/_rels/presentation.xml.rels", pres_rels),
        ]
        for i, (sx, sr) in enumerate(zip(slide_xmls, slide_rels), start=1):
            parts.append((f"ppt/slides/slide{i}.xml", sx))
            parts.append((f"ppt/slides/_rels/slide{i}.xml.rels", sr))
        for name, data in parts:
            # fixed date_time for byte-determinism
            zi = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            zf.writestr(zi, data)
    return buf.getvalue()
