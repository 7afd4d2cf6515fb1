"""EPUB source: OCF zip container → OPF spine → per-chapter XHTML
through the existing HTML layout lane, concatenated in reading order.

EPUB (IDPF/ISO 23736) is structurally "a website in a zip": the real
work — boilerplate stripping, block classification, media spans — is
the HTML lane's job (``core/html.py``); this module only implements the
container protocol:

1. ``META-INF/container.xml`` names the OPF package file (rootfile).
2. The OPF ``<manifest>`` maps item ids → hrefs (relative to the OPF).
3. The OPF ``<spine>`` lists itemrefs — the author-declared linear
   reading order; chapters are extracted in exactly that order, which
   is what makes the output a faithful span SEQUENCE rather than a bag
   of files.
4. Non-linear spine items (``linear="no"``) and items missing from the
   zip are skipped (cover pages, print-only inserts).

Spans from each chapter append in spine order, re-offset globally; a
chapter-level parse failure quarantines the document (consistent with
the other layout parsers — partial extractions would silently violate
span-sequence equality).
"""

from __future__ import annotations

import io
import posixpath
import zipfile
from typing import List, Tuple
from xml.etree import ElementTree as ET

CONTAINER_NS = "{urn:oasis:names:tc:opendocument:xmlns:container}"
OPF_NS = "{http://www.idpf.org/2007/opf}"

EPUB_MIMETYPE = "application/epub+zip"


def _opf_path(zf: zipfile.ZipFile) -> str:
    data = zf.read("META-INF/container.xml")
    root = ET.fromstring(data)
    for rf in root.iter(f"{CONTAINER_NS}rootfile"):
        path = rf.get("full-path")
        if path:
            return path
    raise ValueError("epub: container.xml names no rootfile")


def _spine_hrefs(zf: zipfile.ZipFile, opf_path: str) -> List[str]:
    root = ET.fromstring(zf.read(opf_path))
    manifest = {}
    man_el = root.find(f"{OPF_NS}manifest")
    if man_el is None:
        raise ValueError("epub: OPF has no manifest")
    for item in man_el.findall(f"{OPF_NS}item"):
        iid, href = item.get("id"), item.get("href")
        if iid and href:
            manifest[iid] = href
    spine_el = root.find(f"{OPF_NS}spine")
    if spine_el is None:
        raise ValueError("epub: OPF has no spine")
    base = posixpath.dirname(opf_path)
    hrefs = []
    for ref in spine_el.findall(f"{OPF_NS}itemref"):
        if ref.get("linear", "yes") == "no":
            continue  # cover/insert pages: not part of the reading order
        href = manifest.get(ref.get("idref") or "")
        if href:
            hrefs.append(posixpath.normpath(posixpath.join(base, href)))
    if not hrefs:
        raise ValueError("epub: spine is empty")
    return hrefs


def parse_epub(content: bytes):
    """EPUB bytes → ParsedDoc with the chapters' HTML spans concatenated
    in spine order (fmt='epub', layout surface)."""
    from .grid import ParsedDoc
    from .html import extract_html_spans

    doc = ParsedDoc(fmt="epub")
    spans: List[Tuple[str, str, str]] = []
    try:
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            names = set(zf.namelist())
            hrefs = _spine_hrefs(zf, _opf_path(zf))
            for href in hrefs:
                if href not in names:
                    continue  # manifest lies happen in the wild
                chapter_spans, _enc = extract_html_spans(zf.read(href))
                spans.extend(chapter_spans)
    except Exception as e:
        doc.parse_error = f"epub parse failed: {e}"
        return doc
    doc.layout_spans = spans
    return doc


# --------------------------------------------------------------- writer


def write_epub(chapters: List[bytes], non_linear: List[bytes] = ()) -> bytes:
    """Minimal deterministic EPUB fixture: given XHTML chapter bytes,
    build mimetype + container.xml + OPF (manifest/spine) + chapters.
    ``non_linear`` entries land in the manifest and spine with
    linear='no' (they must NOT be extracted)."""
    items = []
    spine = []
    files = []
    for i, ch in enumerate(chapters):
        name = f"OEBPS/ch{i:03d}.xhtml"
        items.append(
            f'<item id="ch{i}" href="ch{i:03d}.xhtml" '
            'media-type="application/xhtml+xml"/>'
        )
        spine.append(f'<itemref idref="ch{i}"/>')
        files.append((name, ch))
    for i, ch in enumerate(non_linear):
        name = f"OEBPS/aux{i:03d}.xhtml"
        items.append(
            f'<item id="aux{i}" href="aux{i:03d}.xhtml" '
            'media-type="application/xhtml+xml"/>'
        )
        spine.append(f'<itemref idref="aux{i}" linear="no"/>')
        files.append((name, ch))
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
        'unique-identifier="uid">'
        "<metadata/>"
        f"<manifest>{''.join(items)}</manifest>"
        f"<spine>{''.join(spine)}</spine>"
        "</package>"
    )
    container = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<container "
        'xmlns="urn:oasis:names:tc:opendocument:xmlns:container" '
        'version="1.0"><rootfiles>'
        '<rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/>'
        "</rootfiles></container>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        def w(name: str, data, stored: bool = False) -> None:
            zi = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            zi.compress_type = (
                zipfile.ZIP_STORED if stored else zipfile.ZIP_DEFLATED
            )
            z.writestr(zi, data)

        w("mimetype", EPUB_MIMETYPE, stored=True)
        w("META-INF/container.xml", container)
        w("OEBPS/content.opf", opf)
        for name, data in files:
            w(name, data)
    return buf.getvalue()
