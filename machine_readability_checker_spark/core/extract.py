"""Document → (spans, rule results, metrics): the shared extraction core.

This is the one code path both harnesses run: the Spark ``mapInPandas``
kernel calls ``extract_batch`` on Arrow-fed pandas batches, and the pytest
oracle calls ``extract_document`` directly — so distributed output equals
oracle output by construction, and tests only need to prove
partition-invariance (SURVEY.md §5).

Span emission order (the document order contract):
  per sheet (workbook order):
    upper annotation rows → merged header columns → data body rows →
    lower annotation rows
  then media spans (drawing parts, name-sorted) for the whole workbook.
Offsets are 0-based and strictly increasing across the document.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

from . import cells as C
from .checks import run_checks
from .grid import ParsedDoc, parse_document
from .zones import ZoneContext, extract_zones, is_empty_cell

Span = Dict[str, Any]


def _mk_span(kind: str, text: str, media_ref: str, offset: int) -> Span:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _sheet_spans(ctx: ZoneContext, out: List[Span]) -> None:
    off = len(out)
    for row_idx, row in ctx.upper_rows:
        text = ", ".join(C.render_cell(v) for v in row if not is_empty_cell(v))
        out.append(_mk_span("annotation_upper", text, "", off))
        off += 1
    for col in ctx.columns:
        out.append(_mk_span("header", str(col), "", off))
        off += 1
    for row in ctx.data_rows:
        text = "\t".join(C.render_cell(v) for v in row)
        out.append(_mk_span("cell", text, "", off))
        off += 1
    for row_idx, row in ctx.lower_rows:
        text = ", ".join(C.render_cell(v) for v in row if not is_empty_cell(v))
        out.append(_mk_span("annotation_lower", text, "", off))
        off += 1


def extract_document(
    doc_id: str,
    fmt: str,
    content: bytes,
    header_start_row: int = 0,
    header_end_row: int = 0,
    data_start_row: int = 0,
    data_end_row: int = 0,
    sheet_idx: int = 0,
    charset_hint: str = "",
    html_context: bool = False,
) -> Dict[str, Any]:
    """Extract one document.  Never raises — parse failures produce zero
    spans and a metrics record with ``parse_errors=1`` (quarantine row).

    ``sheet_idx`` mirrors the reference's sheet picker (the app runs the
    rule checks on the user-selected sheet — src/app/app.py:80-133):
    spans are emitted for every sheet, but the rule results, block count,
    layout classification and sheet-level metrics describe the selected
    sheet.  Out-of-range values fall back to sheet 0 (the UI cannot
    produce them)."""
    import time as _time

    _t0 = _time.perf_counter()
    doc = parse_document(fmt, content, charset_hint, html_context)
    spans: List[Span] = []
    results: List[Dict[str, Any]] = []
    block_count: Optional[int] = None
    merged_cells: Optional[int] = None
    hidden_rows: Optional[int] = None
    hidden_cols: Optional[int] = None
    format_flags: Optional[int] = None
    layout: Optional[str] = None

    if doc.parse_error is None and doc.layout_spans is not None:
        for kind, text, media_ref in doc.layout_spans:
            spans.append(_mk_span(kind, text, media_ref, len(spans)))
    elif doc.parse_error is None:
        eff_sheet = (
            sheet_idx if doc.sheets and 0 <= sheet_idx < len(doc.sheets) else 0
        )
        main_ctx: Optional[ZoneContext] = None
        for i, sheet in enumerate(doc.sheets):
            ctx = extract_zones(
                sheet.rows,
                sheet.name,
                header_start_row=header_start_row,
                header_end_row=header_end_row,
                data_start_row=data_start_row,
                data_end_row=data_end_row,
            )
            if i == eff_sheet:
                main_ctx = ctx
            _sheet_spans(ctx, spans)
        if doc.workbook is not None:
            for part in sorted(doc.workbook.drawing_parts):
                spans.append(_mk_span("media", "", part, len(spans)))

        if main_ctx is not None:
            for rule_id, passed, msg in run_checks(
                doc, main_ctx, sheet_idx=eff_sheet
            ):
                results.append(
                    {"rule_id": rule_id, "passed": passed, "message": msg}
                )
            if main_ctx.valid and doc.sheets:
                block_count = _count_main_blocks(doc, main_ctx, eff_sheet)
            layout = (
                "long"
                if C.is_likely_long_format(main_ctx.columns, main_ctx.n_cols)
                else "wide"
            )
        if doc.workbook is not None and doc.workbook.sheets:
            s0 = doc.workbook.sheets[
                eff_sheet if eff_sheet < len(doc.workbook.sheets) else 0
            ]
            merged_cells = len(s0.merged)
            hidden_rows = len(set(s0.hidden_rows))
            hidden_cols = len(set(s0.hidden_cols))
            format_flags = len(s0.format_flags)

    metrics = {
        "spans_out": len(spans),
        "parse_errors": 0 if doc.parse_error is None else 1,
        "encoding": doc.encoding,
        "block_count": block_count,
        "merged_cells": merged_cells,
        "hidden_rows": hidden_rows,
        "hidden_cols": hidden_cols,
        "format_flags": format_flags,
        "n_sheets": len(doc.sheets) if doc.sheets else 0,
        "layout": layout,
        "wall_ms": (_time.perf_counter() - _t0) * 1000.0,
    }
    return {
        "doc_id": doc_id,
        "spans": spans,
        "results": results,
        "metrics": metrics,
        "parse_error": doc.parse_error,
    }


def _count_main_blocks(
    doc: ParsedDoc, ctx: ZoneContext, sheet_idx: int = 0
) -> int:
    from .checks import count_blocks

    if not ctx.column_rows or not doc.sheets:
        return 0
    return count_blocks(
        doc.sheets[sheet_idx].rows, min(ctx.column_rows), ctx.data_end
    )


def _hint(v: Any) -> int:
    """Nullable int hint column → int (None/NaN → 0 = auto)."""
    import math

    if v is None:
        return 0
    if isinstance(v, float) and math.isnan(v):
        return 0
    return int(v)


def extract_batch(batch, html_context: bool = False) -> List[Dict[str, Any]]:
    """Vectorized batch entry: a pandas DataFrame with RAW_SCHEMA columns →
    list of extraction dicts.  This is the exact function the Spark kernel
    applies per Arrow batch."""
    out: List[Dict[str, Any]] = []
    has_hints = "header_start_row" in batch.columns
    has_sheet = "sheet_idx" in batch.columns
    has_charset = "charset" in batch.columns
    for row in batch.itertuples(index=False):
        hints = {}
        if has_charset:
            cs = getattr(row, "charset")
            hints["charset_hint"] = str(cs) if cs else ""
        if has_hints:
            hints |= {
                "header_start_row": _hint(getattr(row, "header_start_row")),
                "header_end_row": _hint(getattr(row, "header_end_row")),
                "data_start_row": _hint(getattr(row, "data_start_row")),
                "data_end_row": _hint(getattr(row, "data_end_row")),
            }
        if has_sheet:
            hints["sheet_idx"] = _hint(getattr(row, "sheet_idx"))
        out.append(
            extract_document(
                str(row.doc_id), str(row.fmt), bytes(row.content),
                html_context=html_context, **hints
            )
        )
    return out
