"""Document bytes → ``ParsedDoc`` (ingest core).

One entry point, ``parse_document(fmt, content)``, dispatching on format the
way the reference dispatches on file extension (``loader.py:157-201``,
``ALLOWED_EXTENSIONS`` gate at ``loader.py:15,157-159``).

``FORMATS`` below is the one place a format is added: one row names the
format's lane and its parse function.  ``ALLOWED_FORMATS`` (the extension
gate) and ``GRID_FORMATS`` are derived from it.  Two lanes exist:

- grid   : the parser fills ``sheets`` (and, for workbooks, the
           ``workbook`` side-channel: merges, hidden dims, style flags,
           drawings); ``core/extract.py`` runs zone splitting and the rule
           battery over them.  csv/tsv keep the reference's pandas
           ``read_csv(header=None)`` with UTF-8 → Shift-JIS fallback
           (``loader.py:164-179``); xlsx, xlsb, xls and ods use stdlib
           readers (``core/xlsx.py``, ``xlsb.py``, ``xls.py``, ``odf.py``).
- layout : the parser yields ordered ``(kind, text, media_ref)`` triples
           in ``layout_spans``; ``core/extract.py`` emits them as spans.
"""

from __future__ import annotations

import io
from dataclasses import dataclass, field
from importlib import import_module
from typing import Any, Dict, List, NamedTuple, Optional, Tuple

import pandas as pd

from .xlsx import XlsxWorkbook, read_xlsx


@dataclass
class SheetGrid:
    name: str
    rows: List[List[Any]]  # dense row-major grid; None/NaN = empty cell


@dataclass
class ParsedDoc:
    fmt: str
    sheets: List[SheetGrid] = field(default_factory=list)
    workbook: Optional[XlsxWorkbook] = None  # xlsx side-channel; None otherwise
    encoding: Optional[str] = None           # csv: utf-8 | shift_jis
    raw_text: Optional[str] = None           # csv: decoded raw text (for F11)
    parse_error: Optional[str] = None
    # layout lane: ordered (kind, text, media_ref) triples; None on grid
    layout_spans: Optional[List[Tuple[str, str, str]]] = None

    def sheet_names(self) -> List[str]:
        return [s.name for s in self.sheets]


def _df_to_rows(df: pd.DataFrame) -> List[List[Any]]:
    # Keep pandas-inferred cell types (str / int / float / NaN) — the
    # reference's checks are defined over exactly those dynamic types.
    return df.values.tolist()


def _sniff_delimiter(text: str) -> str:
    """European/exported tabular files arrive semicolon-, tab- or
    pipe-separated under a .csv extension.  PARITY GUARD: the comma
    path must stay bit-identical to the reference (pandas default), so
    an alternative delimiter is chosen ONLY when the sample contains
    NO commas at all — any comma keeps the reference behavior.  Among
    the alternatives the most frequent wins (count over the first 10
    lines, quoted regions excluded)."""
    lines = text.split("\n")[:10]
    counts = {",": 0, ";": 0, "\t": 0, "|": 0}
    for line in lines:
        in_q = False
        for ch in line:
            if ch == '"':
                in_q = not in_q
            elif not in_q and ch in counts:
                counts[ch] += 1
    if counts[","] > 0:
        return ","
    best = max((";", "\t", "|"), key=lambda d: counts[d])
    return best if counts[best] > 0 else ","


def parse_csv(content: bytes, fmt: str = "csv") -> ParsedDoc:
    doc = ParsedDoc(fmt=fmt)
    text: Optional[str] = None
    try:
        text = content.decode("utf-8")
        doc.encoding = "utf-8"
    except UnicodeDecodeError:
        try:
            text = content.decode("shift_jis")
            doc.encoding = "shift_jis"
        except UnicodeDecodeError:
            doc.parse_error = "csv decode failed (utf-8, shift_jis)"
            return doc
    doc.raw_text = text
    sep = "\t" if fmt == "tsv" else _sniff_delimiter(text)
    try:
        df = pd.read_csv(
            io.StringIO(text), header=None, skip_blank_lines=False,
            sep=sep,
        )
    except pd.errors.EmptyDataError:
        doc.parse_error = "empty csv"
        return doc
    except Exception as e:  # malformed csv
        doc.parse_error = f"csv parse failed: {e}"
        return doc
    doc.sheets = [SheetGrid(name="CSV", rows=_df_to_rows(df))]
    return doc


def parse_xlsx(content: bytes) -> ParsedDoc:
    doc = ParsedDoc(fmt="xlsx")
    try:
        wb = read_xlsx(content)
    except Exception as e:
        doc.parse_error = f"xlsx parse failed: {e}"
        return doc
    doc.workbook = wb
    doc.sheets = [SheetGrid(name=s.name, rows=s.rows) for s in wb.sheets]
    return doc


def parse_xlsb(content: bytes) -> ParsedDoc:
    """Excel Binary Workbook via the stdlib BIFF12 reader
    (``core/xlsb.py``) — emits the same workbook model as the xlsx
    lane, so every grid check (merged/hidden/format/media) runs
    unchanged on the binary sibling format."""
    doc = ParsedDoc(fmt="xlsb")
    try:
        from .xlsb import read_xlsb

        wb = read_xlsb(content)
        doc.workbook = wb
        doc.sheets = [SheetGrid(name=s.name, rows=s.rows) for s in wb.sheets]
    except Exception as e:
        doc.parse_error = f"xlsb parse failed: {e}"
    return doc


def parse_xls(content: bytes) -> ParsedDoc:
    """Legacy Excel via the stdlib BIFF8 reader (``core/xls.py``).

    Always the stdlib reader, even when xlrd is importable: an optional
    xlrd fast path would not populate the workbook side-channel (merged
    ranges, hidden dims, format flags) and returns '' where this reader
    returns None for blank cells — the same document would then produce
    different rule results depending on which libraries happen to be on
    the cluster, breaking the one-implementation determinism contract."""
    doc = ParsedDoc(fmt="xls")
    try:
        from .xls import read_xls

        wb8 = read_xls(content)
        doc.workbook = wb8
        doc.sheets = [SheetGrid(name=s.name, rows=s.rows) for s in wb8.sheets]
    except Exception as e:
        doc.parse_error = f"xls parse failed: {e}"
    return doc


GRID, LAYOUT = "grid", "layout"


class Format(NamedTuple):
    """One row of the format table.  ``func`` in core module ``module``
    takes the member bytes plus the keyword options named in ``opts``
    and returns a ``ParsedDoc``, or — the layout lanes' ``extract_*``
    functions — a ``(spans, parse_error)`` pair."""

    lane: str
    module: str
    func: str
    opts: Tuple[str, ...] = ()


# The format table.  Modules are imported on first use, so a process
# pays only for the lanes its documents reach.
FORMATS: Dict[str, Format] = {
    "csv": Format(GRID, "grid", "parse_csv"),
    "tsv": Format(GRID, "grid", "parse_csv", ("fmt",)),
    "xlsx": Format(GRID, "grid", "parse_xlsx"),
    "xlsb": Format(GRID, "grid", "parse_xlsb"),
    "xls": Format(GRID, "grid", "parse_xls"),
    "ods": Format(GRID, "odf", "parse_ods"),
    "html": Format(LAYOUT, "html", "parse_html", ("charset_hint", "context")),
    "epub": Format(LAYOUT, "epub", "parse_epub"),
    "odt": Format(LAYOUT, "odf", "parse_odt"),
    "pdf": Format(LAYOUT, "pdf", "extract_pdf_spans"),
    "docx": Format(LAYOUT, "docx", "extract_docx_spans"),
    "doc": Format(LAYOUT, "doc", "extract_doc_spans"),
    "pptx": Format(LAYOUT, "pptx", "extract_pptx_spans"),
    "ppt": Format(LAYOUT, "ppt", "extract_ppt_spans"),
    "rtf": Format(LAYOUT, "rtf", "extract_rtf_spans"),
    "md": Format(LAYOUT, "markdown", "extract_md_spans"),
    "ipynb": Format(LAYOUT, "ipynb", "extract_ipynb_spans"),
    "srt": Format(LAYOUT, "subtitles", "extract_subtitle_spans", ("fmt",)),
    "vtt": Format(LAYOUT, "subtitles", "extract_subtitle_spans", ("fmt",)),
    "tex": Format(LAYOUT, "latex", "extract_latex_spans"),
    "wiki": Format(LAYOUT, "wikitext", "extract_wiki_spans"),
    "hocr": Format(LAYOUT, "hocr", "extract_hocr_spans"),
    "eml": Format(LAYOUT, "eml", "extract_eml_spans"),
    "rst": Format(LAYOUT, "rst", "extract_rst_spans"),
    "adoc": Format(LAYOUT, "adoc", "extract_adoc_spans"),
    "org": Format(LAYOUT, "org", "extract_org_spans"),
    "txt": Format(LAYOUT, "fwtext", "extract_txt_spans"),
}
ALLOWED_FORMATS = set(FORMATS)
GRID_FORMATS = {f for f, row in FORMATS.items() if row.lane == GRID}


# gzip transparent-ingest guard: crawl corpora ship members gzipped
# (doc.html.gz with fmt "html"); a decompression bomb must quarantine,
# never OOM an executor.  Tests shrink the cap to exercise the guard.
GZIP_MAGIC = b"\x1f\x8b"
MAX_GUNZIP_BYTES = 256 << 20


def parse_document(
    fmt: str, content: bytes, charset_hint: str = "",
    html_context: bool = False,
) -> ParsedDoc:
    fmt = fmt.lower().lstrip(".")
    if fmt not in FORMATS:
        # extension gate — unsupported formats quarantine, never throw
        return ParsedDoc(fmt=fmt, parse_error=f"unsupported format: {fmt}")
    if content[:2] == GZIP_MAGIC:
        # transparent member decompression before format dispatch
        # (gzip magic cannot collide: none of the supported formats
        # starts 1f 8b)
        import zlib

        d = zlib.decompressobj(wbits=31)
        try:
            content = d.decompress(content, MAX_GUNZIP_BYTES)
            if d.unconsumed_tail:
                return ParsedDoc(
                    fmt=fmt,
                    parse_error=(
                        "gzip member exceeds decompression cap "
                        f"({MAX_GUNZIP_BYTES} bytes) — bomb guard"
                    ),
                )
            content += d.flush()
        except zlib.error as e:
            return ParsedDoc(fmt=fmt, parse_error=f"gzip decompress failed: {e}")
    row = FORMATS[fmt]
    opts = {"fmt": fmt, "charset_hint": charset_hint, "context": html_context}
    parse = getattr(import_module(f"{__package__}.{row.module}"), row.func)
    out = parse(content, **{k: opts[k] for k in row.opts})
    if isinstance(out, ParsedDoc):
        return out
    spans, err = out
    return ParsedDoc(fmt=fmt, layout_spans=spans, parse_error=err)
