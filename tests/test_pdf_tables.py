"""Printed-table lane: x-alignment block capture on PDF pages + the
rule battery on the densified grids.

Covers:
- block detection / densification semantics (column union, blank cell
  for a missing run, multiple tables per page, prose lines excluded);
- span/grid lane agreement: ``table_blocks`` is shared, so a line the
  span lane marks ``cell`` is exactly a line inside a grid block;
- CSV-equivalence: a densified PDF grid produces identical rule
  results to the same grid uploaded as CSV;
- the constructive variant pins backing the DuckDB oracle literals in
  ``__spark_entry__`` (``_PDF_WT_FAILS`` / ``_PDF_WT_DIMS``) — drift
  in the PDF writer, flate path, run parser, line clustering, block
  detector, densifier, or checks breaks here first;
- the Spark operators end-to-end (partition invariance, quarantine;
  the oracle check for every table format is in
  ``tests/test_html_tables.py``).
"""

from __future__ import annotations

import pytest

from machine_readability_checker_spark.core.checks import run_checks
from machine_readability_checker_spark.core.grid import parse_csv
from machine_readability_checker_spark.core.html import table_grid_to_csv
from machine_readability_checker_spark.core.pdf import (
    cluster_lines,
    densify_block,
    extract_pdf_spans,
    extract_pdf_tables,
    parse_text_runs,
    table_blocks,
    write_pdf,
)
from machine_readability_checker_spark.core.zones import extract_zones
from machine_readability_checker_spark.operators import webtables as WT


def _pdf(items, **kw):
    return write_pdf(items, **kw)


def _grid_items(rows, x0=72, y0=700, dy=20, xs=(72, 200, 330, 460)):
    items = []
    y = y0
    for row in rows:
        for x, cell in zip(xs, row):
            if cell is not None:
                items.append({"text": cell, "x": x, "y": y})
        y -= dy
    return items


# ------------------------------------------------------------- capture


def test_basic_block_densifies_to_grid():
    rows = [("a", "b"), ("1", "2"), ("3", "4")]
    grids, err = extract_pdf_tables(_pdf(_grid_items(rows)))
    assert err is None
    assert grids == [[["a", "b"], ["1", "2"], ["3", "4"]]]


def test_missing_run_yields_blank_cell():
    rows = [("a", "b", "c"), ("1", None, "3"), ("4", "5", "6")]
    grids, err = extract_pdf_tables(_pdf(_grid_items(rows)))
    assert err is None
    assert grids == [[["a", "b", "c"], ["1", "", "3"], ["4", "5", "6"]]]


def test_prose_lines_are_not_table_members():
    items = [{"text": "a paragraph of prose", "x": 72, "y": 760}]
    items += _grid_items([("k", "v"), ("x", "1"), ("y", "2")])
    items.append({"text": "closing prose line", "x": 72, "y": 560})
    grids, err = extract_pdf_tables(_pdf(items))
    assert err is None
    assert grids == [[["k", "v"], ["x", "1"], ["y", "2"]]]


def test_two_blocks_on_one_page_yield_two_grids():
    items = _grid_items([("a", "b"), ("1", "2"), ("3", "4")], y0=700)
    items.append({"text": "between-tables prose", "x": 72, "y": 620})
    items += _grid_items([("k", "v"), ("x", "9")], y0=580)
    grids, err = extract_pdf_tables(_pdf(items))
    assert err is None
    assert grids == [
        [["a", "b"], ["1", "2"], ["3", "4"]],
        [["k", "v"], ["x", "9"]],
    ]


def test_compressed_and_raw_pdfs_densify_identically():
    rows = [("a", "b"), ("1", "2"), ("3", "4")]
    raw, _ = extract_pdf_tables(_pdf(_grid_items(rows), compress=False))
    comp, _ = extract_pdf_tables(_pdf(_grid_items(rows), compress=True))
    assert raw == comp


def test_not_a_pdf_returns_error_not_raise():
    grids, err = extract_pdf_tables(b"\x00\x01 not a pdf")
    assert grids == [] and err is not None


def test_span_and_grid_lanes_agree_on_table_membership():
    """A line is a ``cell`` span iff it falls inside a grid block —
    both lanes consume the shared ``table_blocks`` ranges."""
    items = [{"text": "title prose here", "x": 72, "y": 760, "size": 18}]
    rows = [("a", "b"), ("1", "2"), ("3", "4")]
    items += _grid_items(rows)
    content = _pdf(items)
    spans, err = extract_pdf_spans(content)
    assert err is None
    cell_lines = [t for k, t, _m in spans if k == "cell"]
    grids, _ = extract_pdf_tables(content)
    grid_lines = ["\t".join(c for c in r if c) for g in grids for r in g]
    assert cell_lines == grid_lines


# ------------------------------------------- CSV-equivalence + variants


def test_pdf_grid_rules_equal_csv_upload_rules():
    pdf = WT.variant_pdf(1, "prose text for the body")
    grids, err = extract_pdf_tables(pdf)
    assert err is None and len(grids) == 1
    csv_bytes = table_grid_to_csv(grids[0])
    doc = parse_csv(csv_bytes)
    ctx = extract_zones(doc.sheets[0].rows, doc.sheets[0].name)
    assert WT._grid_rules(grids[0]) == run_checks(doc, ctx)


@pytest.mark.parametrize("variant", [0, 1, 2])
def test_variant_rule_vectors_pin_oracle_literals(variant):
    from __spark_entry__ import _PDF_WT_FAILS, _WT_RULE_IDS

    pdf = WT.variant_pdf(variant, "prose text for the page body")
    grids, err = extract_pdf_tables(pdf)
    assert err is None
    kept = [g for g in grids if len(g) >= 2 and len(g[0]) >= 2]
    want = {
        (rid, rid not in _PDF_WT_FAILS[variant]) for rid in _WT_RULE_IDS
    }
    for g in kept:  # variant 2 carries two tables, identical outcomes
        got = {(rid, ok) for rid, ok, _msg in WT._grid_rules(g)}
        assert got == want


def test_variant_dims_pin_oracle_literals():
    from __spark_entry__ import _PDF_WT_DIMS, _PDF_WT_TABLES_PER_DOC

    for v, dims in _PDF_WT_DIMS.items():
        grids, err = extract_pdf_tables(WT.variant_pdf(v, "x"))
        assert err is None
        got = [
            (ti, len(g), len(g[0]), len(g) >= 2 and len(g[0]) >= 2)
            for ti, g in enumerate(grids)
        ]
        assert got == dims, f"variant {v}"
        assert len([d for d in got if d[3]]) == _PDF_WT_TABLES_PER_DOC[v]


def test_variant2_blank_cell_survives_densification():
    grids, _ = extract_pdf_tables(WT.variant_pdf(2, "x"))
    assert grids[0][2] == ["second", "", "9"]


# ------------------------------------------------------------- Spark


def _docs_df(spark, n_docs: int, n_parts: int):
    rows = [
        (str(i), bytearray(WT.variant_pdf(i, f"doc prose {i}")))
        for i in range(n_docs)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, content binary"
    ).repartition(n_parts)


def test_spark_pdf_rule_results_partition_invariant(spark):
    a = WT.table_rule_results(_docs_df(spark, 9, 1), "pdf")
    b = WT.table_rule_results(_docs_df(spark, 9, 7), "pdf")
    ka = sorted(map(tuple, a.collect()))
    kb = sorted(map(tuple, b.collect()))
    assert ka == kb
    # variants 0/1 → one kept table; variant 2 → two kept tables
    assert len(ka) == (3 + 3 + 3 * 2) * 22


def test_spark_pdf_table_stats_counts(spark):
    stats = WT.table_stats(_docs_df(spark, 9, 4), "pdf").collect()
    assert len(stats) == 3 + 3 + 3 * 2
    assert all(r.kept for r in stats)


def test_corrupt_pdf_quarantines_not_raises(spark):
    rows = [
        ("ok", bytearray(WT.variant_pdf(0, "fine"))),
        ("bad", bytearray(b"%PDF-1.4 truncated garbage")),
        ("notpdf", bytearray(b"\xff\xfegarbage")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = WT.table_rule_results(df, "pdf").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc["ok"]) == 22
    for did in ("bad", "notpdf"):
        assert all(r.rule_id == "PARSE" and not r.passed for r in by_doc[did])
