"""OpenDocument lane: stdlib ODF (ISO/IEC 26300) readers + fixture writers.

Two formats, mapped onto the two existing extraction surfaces:

- ``.ods`` (spreadsheet) → the GRID surface: sheets become dense
  row-major grids plus the same workbook side-channel the xlsx reader
  produces (merged ranges, hidden dims, per-cell decoration flags,
  drawing parts), reusing the ``XlsxSheet``/``XlsxWorkbook`` dataclasses
  so the whole 22-rule battery runs unchanged through the modern-workbook
  branches (reference semantics: ``level1_checker.py:579-583`` merges,
  ``:492-493`` hidden dims, ``:639-668`` decoration scan — an ODS
  workbook carries the same concepts natively).
- ``.odt`` (text) → the LAYOUT surface: ``text:h``/``text:p``/tables/
  ``draw:image`` become the same ordered (kind, text, media_ref) span
  triples the HTML/PDF/DOCX lanes emit, so downstream operators stay
  format-agnostic.

The parser is deterministic, dependency-free (zipfile + ElementTree) and
quarantine-safe: malformed bytes set ``parse_error``, never raise out of
the Arrow kernel.  Repeat attributes (``table:number-columns-repeated``
et al.) are clamped — LibreOffice writes trailing "repeat 16384 empty
cells" runs, and an adversarial file could claim 2^31 — then trailing
empty cells/rows are trimmed, which is also what makes the clamp
lossless for well-formed files.
"""

from __future__ import annotations

import io
import zipfile
from typing import Any, Dict, List, Optional, Tuple
from xml.etree import ElementTree as ET

from .xlsx import XlsxSheet, XlsxWorkbook

OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
STYLE = "{urn:oasis:names:tc:opendocument:xmlns:style:1.0}"
FO = "{urn:oasis:names:tc:opendocument:xmlns:xsl-fo-compatible:1.0}"
DRAW = "{urn:oasis:names:tc:opendocument:xmlns:drawing:1.0}"
XLINK = "{http://www.w3.org/1999/xlink}"
MANIFEST = "{urn:oasis:names:tc:opendocument:xmlns:manifest:1.0}"

# repeat-attribute clamp: large enough for every real sheet dimension we
# audit, small enough that a hostile repeat count cannot OOM an executor
MAX_REPEAT = 10_000

ODS_MIMETYPE = "application/vnd.oasis.opendocument.spreadsheet"
ODT_MIMETYPE = "application/vnd.oasis.opendocument.text"

MIN_CONTENT_CHARS = 25  # same threshold as the HTML/DOCX block classifiers


def _rep(el: ET.Element, attr: str) -> int:
    try:
        n = int(el.get(attr) or 1)
    except ValueError:
        return 1
    return max(1, min(n, MAX_REPEAT))


def _plain_text(el: ET.Element) -> str:
    """Text content of one paragraph-level element, honoring the ODF
    whitespace elements: ``text:tab`` → TAB, ``text:line-break`` → NL,
    ``text:s`` (run of spaces) → that many spaces.  Runs (``text:span``)
    concatenate with no separator — like DOCX w:r runs, a single word is
    routinely split across spans."""
    parts: List[str] = []

    def walk(node: ET.Element) -> None:
        if node.tag == f"{TEXT}tab":
            parts.append("\t")
        elif node.tag == f"{TEXT}line-break":
            parts.append("\n")
        elif node.tag == f"{TEXT}s":
            parts.append(" " * _rep(node, f"{TEXT}c"))
        if node.text:
            parts.append(node.text)
        for child in node:
            walk(child)
            if child.tail:
                parts.append(child.tail)

    for child in el:
        walk(child)
        if child.tail:
            parts.append(child.tail)
    if el.text:
        parts.insert(0, el.text)
    return "".join(parts)


def _cell_value(cell: ET.Element) -> Any:
    """office:value-type → the same dynamic Python types the xlsx reader
    yields (str / int / float / bool / None) so rule semantics are
    format-invariant."""
    vt = cell.get(f"{OFFICE}value-type") or ""
    if vt in ("float", "percentage", "currency"):
        raw = cell.get(f"{OFFICE}value")
        if raw is None:
            return None
        try:
            f = float(raw)
        except ValueError:
            return raw
        return int(f) if f.is_integer() and "e" not in raw.lower() else f
    if vt == "boolean":
        return (cell.get(f"{OFFICE}boolean-value") or "") == "true"
    if vt == "date":
        return cell.get(f"{OFFICE}date-value")
    if vt == "time":
        return cell.get(f"{OFFICE}time-value")
    # string (or untyped): office:string-value attr wins, else the
    # paragraph content (multiple text:p join with newline, the ODF
    # rendering of in-cell line breaks)
    sv = cell.get(f"{OFFICE}string-value")
    if sv is not None:
        return sv
    paras = cell.findall(f"{TEXT}p")
    if not paras:
        return None
    return "\n".join(_plain_text(p) for p in paras)


def _parse_cell_styles(root: ET.Element) -> Dict[str, List[str]]:
    """office:automatic-styles → per-style decoration flags, in the same
    order ``xlsx._style_flags`` emits them (fill, font_color, bold,
    italic, underline, font_size) so flag lists compare equal across
    formats."""
    out: Dict[str, List[str]] = {}
    auto = root.find(f"{OFFICE}automatic-styles")
    if auto is None:
        return out
    for st in auto.findall(f"{STYLE}style"):
        if st.get(f"{STYLE}family") != "table-cell":
            continue
        name = st.get(f"{STYLE}name") or ""
        flags: List[str] = []
        cp = st.find(f"{STYLE}table-cell-properties")
        if cp is not None:
            bg = (cp.get(f"{FO}background-color") or "").lower()
            if bg not in ("", "transparent", "#ffffff", "#000000"):
                flags.append("fill")
        tp = st.find(f"{STYLE}text-properties")
        if tp is not None:
            color = (tp.get(f"{FO}color") or "").lower()
            if color not in ("", "#000000"):
                flags.append("font_color")
            if tp.get(f"{FO}font-weight") == "bold":
                flags.append("bold")
            if tp.get(f"{FO}font-style") == "italic":
                flags.append("italic")
            underline = tp.get(f"{STYLE}text-underline-style")
            if underline not in (None, "none"):
                flags.append("underline")
            size = tp.get(f"{FO}font-size")
            if size and size.endswith("pt"):
                try:
                    pt = float(size[:-2])
                except ValueError:
                    pt = None
                if pt is not None and (pt < 9 or pt > 13):
                    flags.append(f"font_size:{pt:g}")
        if flags:
            out[name] = flags
    return out


def read_ods(content: bytes) -> XlsxWorkbook:
    """Parse ODS bytes into grids + the xlsx-shaped side-channel."""
    wb = XlsxWorkbook()
    with zipfile.ZipFile(io.BytesIO(content)) as z:
        root = ET.fromstring(z.read("content.xml"))
    style_flags = _parse_cell_styles(root)
    body = root.find(f"{OFFICE}body")
    ss = body.find(f"{OFFICE}spreadsheet") if body is not None else None
    if ss is None:
        return wb

    for t_idx, table in enumerate(ss.findall(f"{TABLE}table")):
        sheet = XlsxSheet(name=table.get(f"{TABLE}name") or f"Sheet{t_idx + 1}")

        # column definitions: hidden columns (visibility collapse)
        col_idx = 0
        for col in table.findall(f"{TABLE}table-column"):
            n = _rep(col, f"{TABLE}number-columns-repeated")
            if col.get(f"{TABLE}visibility") == "collapse":
                sheet.hidden_cols.extend(range(col_idx, col_idx + n))
            col_idx += n

        rows: List[List[Any]] = []
        r = 0
        for row_el in table.findall(f"{TABLE}table-row"):
            n_rep = _rep(row_el, f"{TABLE}number-rows-repeated")
            if row_el.get(f"{TABLE}visibility") == "collapse":
                sheet.hidden_rows.extend(range(r, r + n_rep))
            vals: List[Any] = []
            for cell in row_el:
                if cell.tag == f"{TABLE}covered-table-cell":
                    # covered cells may legally carry content (the value
                    # under a merge — same as xlsx covered cells)
                    vals.extend(
                        [_cell_value(cell)]
                        * _rep(cell, f"{TABLE}number-columns-repeated")
                    )
                    continue
                if cell.tag != f"{TABLE}table-cell":
                    continue
                c = len(vals)
                n_cols = _rep(cell, f"{TABLE}number-columns-repeated")
                val = _cell_value(cell)
                st_name = cell.get(f"{TABLE}style-name")
                flags = style_flags.get(st_name or "", [])
                cspan = _rep(cell, f"{TABLE}number-columns-spanned")
                rspan = _rep(cell, f"{TABLE}number-rows-spanned")
                if (cspan > 1 or rspan > 1) and n_rep == 1:
                    sheet.merged.append((r, c, r + rspan - 1, c + cspan - 1))
                for k in range(n_cols):
                    vals.append(val)
                    for flag in flags:
                        sheet.format_flags.append((r, c + k, flag))
            # trim trailing empties (LibreOffice repeat-to-max tails)
            while vals and vals[-1] is None:
                vals.pop()
            for rr in range(n_rep):
                rows.append(list(vals))
                if n_rep > 1 and rr > 0:
                    # duplicate decoration flags for repeated styled rows
                    for (fr, fc, fl) in [
                        f for f in sheet.format_flags if f[0] == r
                    ]:
                        sheet.format_flags.append((r + rr, fc, fl))
            r += n_rep
        while rows and not any(v is not None for v in rows[-1]):
            rows.pop()
        width = max((len(x) for x in rows), default=0)
        sheet.rows = [row + [None] * (width - len(row)) for row in rows]
        sheet.hidden_rows = [h for h in sheet.hidden_rows if h < len(rows)]
        sheet.hidden_cols = [h for h in sheet.hidden_cols if h < width]
        wb.sheets.append(sheet)

        # embedded drawings anchored in this sheet
        for frame in table.iter(f"{DRAW}frame"):
            img = frame.find(f"{DRAW}image")
            href = img.get(f"{XLINK}href") if img is not None else None
            wb.drawing_parts.append(
                f"content.xml#{href or frame.get(f'{DRAW}name') or 'frame'}"
            )
    return wb


def parse_ods(content: bytes):
    """ODS bytes → ParsedDoc on the grid surface (fmt='ods')."""
    from .grid import ParsedDoc, SheetGrid  # local: avoid import cycle

    doc = ParsedDoc(fmt="ods")
    try:
        wb = read_ods(content)
    except Exception as e:
        doc.parse_error = f"ods parse failed: {e}"
        return doc
    doc.workbook = wb
    doc.sheets = [SheetGrid(name=s.name, rows=s.rows) for s in wb.sheets]
    return doc


# ------------------------------------------------------------------ ODT


def parse_odt(content: bytes):
    """ODT bytes → ParsedDoc with ordered layout span triples
    (kind, text, media_ref) — same vocabulary as the DOCX lane:
    Title style → ``title``; ``text:h`` → ``heading``; body paragraphs
    length-classified ``main``/``boilerplate``; table rows → ``line``
    (tab-joined cells in reading order); ``draw:image`` → ``media``."""
    from .grid import ParsedDoc  # local: avoid import cycle

    doc = ParsedDoc(fmt="odt")
    spans: List[Tuple[str, str, str]] = []
    try:
        with zipfile.ZipFile(io.BytesIO(content)) as z:
            root = ET.fromstring(z.read("content.xml"))
    except Exception as e:
        doc.parse_error = f"odt parse failed: {e}"
        return doc
    body = root.find(f"{OFFICE}body")
    text_el = body.find(f"{OFFICE}text") if body is not None else None
    if text_el is None:
        doc.parse_error = "odt: no office:text body"
        return doc

    def emit_media(scope: ET.Element) -> None:
        for frame in scope.iter(f"{DRAW}frame"):
            img = frame.find(f"{DRAW}image")
            if img is not None:
                spans.append(("media", "", img.get(f"{XLINK}href") or ""))

    for el in text_el:
        if el.tag == f"{TEXT}h":
            txt = _plain_text(el).strip()
            if txt:
                spans.append(("heading", txt, ""))
            emit_media(el)
        elif el.tag == f"{TEXT}p":
            style = el.get(f"{TEXT}style-name") or ""
            txt = _plain_text(el).strip()
            emit_media(el)
            if not txt:
                continue
            if style == "Title":
                spans.append(("title", txt, ""))
            elif len(txt) >= MIN_CONTENT_CHARS:
                spans.append(("main", txt, ""))
            else:
                spans.append(("boilerplate", txt, ""))
        elif el.tag == f"{TABLE}table":
            for row_el in el.findall(f"{TABLE}table-row"):
                cells = []
                for cell in row_el.findall(f"{TABLE}table-cell"):
                    cells.append(
                        " ".join(
                            _plain_text(p).strip()
                            for p in cell.findall(f"{TEXT}p")
                        ).strip()
                    )
                spans.append(("line", "\t".join(cells), ""))
            emit_media(el)
    doc.layout_spans = spans
    return doc


# --------------------------------------------------------------- writers


def _zf_write(zf: zipfile.ZipFile, name: str, data, stored: bool = False) -> None:
    # pinned timestamp: fixture bytes must be identical across runs
    zi = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
    zi.compress_type = zipfile.ZIP_STORED if stored else zipfile.ZIP_DEFLATED
    zf.writestr(zi, data)


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


# fixture style catalog — mirrors write_xlsx's style_order vocabulary
_STYLE_DEFS = {
    "bold": '<style:text-properties fo:font-weight="bold"/>',
    "italic": '<style:text-properties fo:font-style="italic"/>',
    "underline": '<style:text-properties style:text-underline-style="solid"/>',
    "red_font": '<style:text-properties fo:color="#ff0000"/>',
    "yellow_fill": '<style:table-cell-properties fo:background-color="#ffff00"/>',
    "tiny": '<style:text-properties fo:font-size="8pt"/>',
    "huge": '<style:text-properties fo:font-size="14pt"/>',
}

_CONTENT_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    "<office:document-content "
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:style="urn:oasis:names:tc:opendocument:xmlns:style:1.0" '
    'xmlns:fo="urn:oasis:names:tc:opendocument:xmlns:xsl-fo-compatible:1.0" '
    'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
    'xmlns:xlink="http://www.w3.org/1999/xlink" '
    'office:version="1.2">'
)


def _manifest(mimetype: str) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        "<manifest:manifest "
        'xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" '
        'manifest:version="1.2">'
        f'<manifest:file-entry manifest:full-path="/" '
        f'manifest:media-type="{mimetype}"/>'
        '<manifest:file-entry manifest:full-path="content.xml" '
        'manifest:media-type="text/xml"/>'
        "</manifest:manifest>"
    )


def _ods_cell_xml(v: Any, style: Optional[str], span: Optional[Tuple[int, int]]) -> str:
    attrs = ""
    if style:
        attrs += f' table:style-name="{style}"'
    if span:
        rs, cs = span
        attrs += (
            f' table:number-rows-spanned="{rs}"'
            f' table:number-columns-spanned="{cs}"'
        )
    if v is None:
        return f"<table:table-cell{attrs}/>"
    if isinstance(v, bool):
        bs = "true" if v else "false"
        return (
            f'<table:table-cell{attrs} office:value-type="boolean" '
            f'office:boolean-value="{bs}"><text:p>{bs}</text:p></table:table-cell>'
        )
    if isinstance(v, (int, float)):
        return (
            f'<table:table-cell{attrs} office:value-type="float" '
            f'office:value="{v}"><text:p>{v}</text:p></table:table-cell>'
        )
    body = "".join(
        f"<text:p>{_esc(line)}</text:p>" for line in str(v).split("\n")
    )
    return (
        f'<table:table-cell{attrs} office:value-type="string">'
        f"{body}</table:table-cell>"
    )


def write_ods(sheets: List[Dict[str, Any]], with_drawing: bool = False) -> bytes:
    """Serialize sheets into a minimal ODS package.  Sheet dict shape is
    the same as ``write_xlsx``: ``{"name", "rows", "merged":
    [(r0,c0,r1,c1)], "hidden_rows", "hidden_cols", "styled":
    [(r,c,style_name)]}`` with style_name from the shared catalog."""
    used_styles = sorted(
        {s for sh in sheets for (_, _, s) in sh.get("styled", [])}
    )
    auto = "".join(
        f'<style:style style:name="ce_{s}" style:family="table-cell">'
        f"{_STYLE_DEFS[s]}</style:style>"
        for s in used_styles
    )
    parts = [_CONTENT_HEAD, f"<office:automatic-styles>{auto}</office:automatic-styles>",
             "<office:body><office:spreadsheet>"]
    for si, sh in enumerate(sheets):
        rows = sh.get("rows", [])
        merged = {(r0, c0): (r1 - r0 + 1, c1 - c0 + 1)
                  for (r0, c0, r1, c1) in sh.get("merged", [])}
        covered = set()
        for (r0, c0, r1, c1) in sh.get("merged", []):
            for r in range(r0, r1 + 1):
                for c in range(c0, c1 + 1):
                    if (r, c) != (r0, c0):
                        covered.add((r, c))
        styled = {(r, c): s for (r, c, s) in sh.get("styled", [])}
        hidden_rows = set(sh.get("hidden_rows", []))
        hidden_cols = sorted(set(sh.get("hidden_cols", [])))
        width = max((len(r) for r in rows), default=0)
        name = _esc(sh.get("name", f"Sheet{si + 1}"))
        parts.append(f'<table:table table:name="{name}">')
        # column defs with hidden flags
        c = 0
        while c < width:
            if c in hidden_cols:
                parts.append(
                    '<table:table-column table:visibility="collapse"/>'
                )
            else:
                parts.append("<table:table-column/>")
            c += 1
        for r, row in enumerate(rows):
            vis = ' table:visibility="collapse"' if r in hidden_rows else ""
            parts.append(f"<table:table-row{vis}>")
            for c, v in enumerate(row):
                if (r, c) in covered:
                    parts.append(
                        _ods_cell_xml(v, None, None).replace(
                            "table:table-cell", "table:covered-table-cell"
                        )
                    )
                    continue
                parts.append(
                    _ods_cell_xml(
                        v,
                        f"ce_{styled[(r, c)]}" if (r, c) in styled else None,
                        merged.get((r, c)),
                    )
                )
            parts.append("</table:table-row>")
        if with_drawing and si == 0:
            parts.append(
                '<table:table-row><table:table-cell>'
                '<draw:frame draw:name="Image1">'
                '<draw:image xlink:href="Pictures/img0.png"/>'
                "</draw:frame></table:table-cell></table:table-row>"
            )
        parts.append("</table:table>")
    parts.append("</office:spreadsheet></office:body></office:document-content>")
    content = "".join(parts).encode("utf-8")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        _zf_write(z, "mimetype", ODS_MIMETYPE, stored=True)
        _zf_write(z, "META-INF/manifest.xml", _manifest(ODS_MIMETYPE))
        _zf_write(z, "content.xml", content)
    return buf.getvalue()


def write_odt(
    blocks: List[Tuple[str, str]],
    images: Optional[List[str]] = None,
    tables: Optional[List[List[List[str]]]] = None,
) -> bytes:
    """Serialize (style, text) blocks into a minimal ODT package — the
    same fixture surface as ``write_docx``: style ∈ {"", "Title",
    "HeadingN"}.  ``runs``: a text value may be a list of fragments to
    exercise the span-concatenation path."""
    parts = [_CONTENT_HEAD, "<office:automatic-styles/>",
             "<office:body><office:text>"]
    for style, text in blocks:
        frags = text if isinstance(text, list) else [text]
        body = "".join(f"<text:span>{_esc(f)}</text:span>" for f in frags)
        if style.lower().startswith("heading"):
            lvl = style[7:] or "1"
            parts.append(
                f'<text:h text:outline-level="{lvl}">{body}</text:h>'
            )
        elif style:
            parts.append(
                f'<text:p text:style-name="{_esc(style)}">{body}</text:p>'
            )
        else:
            parts.append(f"<text:p>{body}</text:p>")
    for tbl in tables or []:
        parts.append("<table:table>")
        for row in tbl:
            parts.append("<table:table-row>")
            for cell in row:
                parts.append(
                    f"<table:table-cell><text:p>{_esc(cell)}</text:p>"
                    "</table:table-cell>"
                )
            parts.append("</table:table-row>")
        parts.append("</table:table>")
    for href in images or []:
        parts.append(
            '<text:p><draw:frame draw:name="img">'
            f'<draw:image xlink:href="{_esc(href)}"/>'
            "</draw:frame></text:p>"
        )
    parts.append("</office:text></office:body></office:document-content>")
    content = "".join(parts).encode("utf-8")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        _zf_write(z, "mimetype", ODT_MIMETYPE, stored=True)
        _zf_write(z, "META-INF/manifest.xml", _manifest(ODT_MIMETYPE))
        _zf_write(z, "content.xml", content)
    return buf.getvalue()
