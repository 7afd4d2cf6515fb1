"""Web-table lane: ``<table>`` grid capture + the rule battery on it.

Covers:
- grid capture semantics (th/td, thead/tbody, colspan/rowspan occupancy,
  nested tables, ragged rows, <br> newlines, full-width-space survival,
  malformed/unterminated tables, hostile span clamp);
- CSV-equivalence: a grid produces identical rule results whether it
  arrived as an uploaded CSV or a ``<table>`` in a page;
- the constructive variant pins backing the DuckDB oracle literals in
  ``__spark_entry__`` (drift in parser, zones, or checks breaks here
  first);
- the Spark operators end-to-end for every table format
  (partition-count invariance, driver-side oracle, quarantine).
"""

from __future__ import annotations

import pytest

from machine_readability_checker_spark.core import (
    adoc,
    doc,
    fwtext,
    html,
    latex,
    markdown,
    org,
    pdf,
    rst,
    wikitext,
)
from machine_readability_checker_spark.core.grid import parse_csv
from machine_readability_checker_spark.core.checks import run_checks
from machine_readability_checker_spark.core.html import (
    extract_html_tables,
    table_grid_to_csv,
)
from machine_readability_checker_spark.core.zones import extract_zones
from machine_readability_checker_spark.operators import webtables as WT


def _tables(html: str):
    grids, _enc = extract_html_tables(html.encode("utf-8"))
    return grids


# ------------------------------------------------------------- capture


def test_basic_grid_th_td():
    g = _tables(
        "<table><thead><tr><th>a</th><th>b</th></tr></thead>"
        "<tbody><tr><td>1</td><td>2</td></tr></tbody></table>"
    )
    assert g == [[["a", "b"], ["1", "2"]]]


def test_colspan_pads_empty_filler():
    g = _tables(
        '<table><tr><td colspan="3">wide</td></tr>'
        "<tr><td>a</td><td>b</td><td>c</td></tr></table>"
    )
    assert g == [[["wide", "", ""], ["a", "b", "c"]]]


def test_rowspan_occupies_following_rows():
    g = _tables(
        '<table><tr><td rowspan="2">A</td><td>b1</td></tr>'
        "<tr><td>b2</td></tr><tr><td>a3</td><td>b3</td></tr></table>"
    )
    assert g == [[["A", "b1"], ["", "b2"], ["a3", "b3"]]]


def test_rowspan_colspan_block():
    g = _tables(
        '<table><tr><td>a1</td><td rowspan="2" colspan="2">BIG</td></tr>'
        "<tr><td>a2</td></tr>"
        "<tr><td>a3</td><td>b3</td><td>c3</td></tr></table>"
    )
    assert g == [
        [["a1", "BIG", ""], ["a2", "", ""], ["a3", "b3", "c3"]]
    ]


def test_nested_table_text_flows_into_outer_cell():
    g = _tables(
        "<table><tr>"
        "<td>x<table><tr><td>inner</td></tr></table>y</td>"
        "<td>z</td></tr><tr><td>1</td><td>2</td></tr></table>"
    )
    assert len(g) == 1
    assert g[0][0] == ["xinnery", "z"]


def test_sibling_tables_captured_in_document_order():
    g = _tables(
        "<table><tr><td>t1</td></tr></table>"
        "<p>between</p>"
        "<table><tr><td>t2</td></tr></table>"
    )
    assert g == [[["t1"]], [["t2"]]]


def test_ragged_rows_padded_to_rectangle():
    g = _tables(
        "<table><tr><td>a</td></tr>"
        "<tr><td>b</td><td>c</td><td>d</td></tr></table>"
    )
    assert g == [[["a", "", ""], ["b", "c", "d"]]]


def test_br_becomes_embedded_newline():
    g = _tables("<table><tr><td>one<br>two</td></tr></table>")
    assert g == [[["one\ntwo"]]]


def test_fullwidth_space_survives_collapse():
    # HTML whitespace is ASCII-only: U+3000 renders literally, so the
    # L1-06 whitespace-formatting check must still be able to see it
    g = _tables("<table><tr><td>　indent</td><td>  x  y </td></tr></table>")
    assert g == [[["　indent", "x y"]]]


def test_unterminated_table_finalized_at_eof():
    g = _tables("<table><tr><td>a</td><td>b</td>")
    assert g == [[["a", "b"]]]


def test_hostile_span_values_clamped():
    g = _tables('<table><tr><td colspan="999999999">x</td></tr></table>')
    assert len(g[0][0]) == 1000  # clamp cap, not 1e9 cells
    g2 = _tables('<table><tr><td colspan="bogus">x</td></tr></table>')
    assert g2 == [[["x"]]]


def test_empty_tr_preserved_as_blank_row():
    # blank rows are data for the L1-03 block-segmentation check
    g = _tables(
        "<table><tr><td>a</td></tr><tr></tr><tr><td>b</td></tr></table>"
    )
    assert g == [[["a"], [""], ["b"]]]


def test_block_lane_unchanged_by_capture():
    # table text still reaches the block classifier (existing contract)
    from machine_readability_checker_spark.core.html import (
        extract_html_spans,
    )

    html = (
        "<html><body><p>This paragraph is long enough to be main "
        "content in the classifier.</p>"
        "<table><tr><td>celltext</td></tr></table></body></html>"
    ).encode()
    spans, _ = extract_html_spans(html)
    joined = " ".join(t for _k, t, _m in spans)
    assert "celltext" in joined


# ------------------------------------------- CSV-equivalence + variants


def test_grid_rules_equal_csv_upload_rules():
    """The bridge contract: serialize the captured grid and the same
    bytes as a direct CSV upload — identical battery results."""
    html = WT.VARIANT_TABLES[1]
    grids, _ = extract_html_tables(html.encode())
    csv_bytes = table_grid_to_csv(grids[0])
    doc = parse_csv(csv_bytes)
    ctx = extract_zones(doc.sheets[0].rows, doc.sheets[0].name)
    assert WT._grid_rules(grids[0]) == run_checks(doc, ctx)


def _expected_vectors():
    from __spark_entry__ import _WT_FAILS, _WT_RULE_IDS

    return _WT_RULE_IDS, _WT_FAILS


@pytest.mark.parametrize("variant", [0, 1, 2])
def test_variant_rule_vectors_pin_oracle_literals(variant):
    rule_ids, fails = _expected_vectors()
    page = WT.variant_page(variant, "prose text for the page body")
    grids, _ = extract_html_tables(page)
    kept = [g for g in grids if len(g) >= 2 and len(g[0]) >= 2]
    assert len(kept) == 1
    got = {(rid, ok) for rid, ok, _msg in WT._grid_rules(kept[0])}
    want = {(rid, rid not in fails[variant]) for rid in rule_ids}
    assert got == want


def test_variant_dims_pin_oracle_literals():
    from __spark_entry__ import _WT_DIMS

    for v, dims in _WT_DIMS.items():
        grids, _ = extract_html_tables(WT.variant_page(v, "x"))
        got = [
            (ti, len(g), len(g[0]), len(g) >= 2 and len(g[0]) >= 2)
            for ti, g in enumerate(grids)
        ]
        assert got == dims, f"variant {v}"


# ------------------------------------------------------------- Spark


def _pages_df(spark, n_docs: int, n_parts: int):
    rows = [
        (str(i), bytearray(WT.variant_page(i, f"page prose {i}")))
        for i in range(n_docs)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, content binary"
    ).repartition(n_parts)


# per table format: the fixture builder, an oracle grid extractor
# straight from the core module, and the kept (data-shaped) tables per
# doc for variants 0/1/2 — variant 2's one-row nav strip is filtered in
# every format, and the printed page carries a second 2×2 table
_FORMAT_CASES = {
    "html": (WT.variant_page, lambda b: html.extract_html_tables(b)[0],
             (1, 1, 1)),
    "md": (WT.md_variant_doc, markdown.extract_md_tables, (1, 1, 1)),
    "tex": (WT.tex_variant_doc, latex.extract_latex_tables, (1, 1, 1)),
    "pdf": (WT.variant_pdf, lambda b: pdf.extract_pdf_tables(b)[0],
            (1, 1, 2)),
    "wiki": (WT.wiki_variant_doc, wikitext.extract_wiki_tables, (1, 1, 1)),
    "rst": (WT.rst_variant_doc, rst.extract_rst_tables, (1, 1, 1)),
    "adoc": (WT.adoc_variant_doc, adoc.extract_adoc_tables, (1, 1, 1)),
    "org": (WT.org_variant_doc, org.extract_org_tables, (1, 1, 1)),
    "txt": (WT.fw_variant_doc, fwtext.extract_fw_tables, (1, 1, 1)),
    "doc": (WT.doc_variant_doc, doc.extract_doc_tables, (1, 1, 1)),
}
_GARBAGE = b"\xff\xfe\x00garbage not a document at all"


def test_format_cases_cover_every_table_format():
    assert set(_FORMAT_CASES) == set(WT.TABLE_GRIDS)


def _oracle_rows(extract, docs):
    out = []
    for did, content in docs:
        kept = [g for g in extract(content) if len(g) >= 2 and len(g[0]) >= 2]
        for ti, g in enumerate(kept):
            for rule_id, passed, msg in WT._grid_rules(g):
                out.append(
                    (did, ti, len(g), len(g[0]), rule_id, bool(passed), msg)
                )
    return sorted(out)


def test_spark_rule_results_partition_invariant(spark):
    a = WT.table_rule_results(_pages_df(spark, 9, 1))
    b = WT.table_rule_results(_pages_df(spark, 9, 7))
    ka = sorted(map(tuple, a.collect()))
    kb = sorted(map(tuple, b.collect()))
    assert ka == kb
    # 9 docs × 1 kept table × 22 rules
    assert len(ka) == 9 * 22


@pytest.mark.parametrize("fmt", sorted(_FORMAT_CASES))
def test_spark_rule_results_every_format(spark, fmt):
    """Every table format through the one Spark kernel: the rows do not
    depend on the partition count, equal a driver-side oracle (core
    extractor → min-size filter → battery), and a garbage doc never
    fails the task — any row it yields is a PARSE quarantine row.  A
    null content makes the extractor raise: one PARSE row."""
    build, extract, kept_per_variant = _FORMAT_CASES[fmt]
    docs = [(str(i), build(i, f"page prose {i}")) for i in range(9)]
    rows = [(d, bytearray(c)) for d, c in docs + [("bad", _GARBAGE)]]
    rows.append(("null", None))

    def collect(n_parts):
        df = spark.createDataFrame(
            rows, "doc_id string, content binary"
        ).repartition(n_parts)
        return sorted(map(tuple, WT.table_rule_results(df, fmt).collect()))

    a = collect(1)
    assert a == collect(7)
    good = [r for r in a if r[0] not in ("bad", "null")]
    assert good == _oracle_rows(extract, docs)
    assert len(good) == 3 * sum(kept_per_variant) * 22
    bad = [r for r in a if r[0] == "bad"]
    assert all(r[1] == -1 and r[4] == "PARSE" and not r[5] for r in bad)
    (null,) = [r for r in a if r[0] == "null"]
    assert null[1:6] == (-1, 0, 0, "PARSE", False)
    assert null[6].startswith(f"{fmt} table extract failed: ")


def test_spark_table_stats_counts(spark):
    stats = WT.table_stats(_pages_df(spark, 9, 4)).collect()
    # variants 0/1 → one table each; variant 2 → nav + data table
    assert len(stats) == 3 * 1 + 3 * 1 + 3 * 2
    kept = [r for r in stats if r.kept]
    assert len(kept) == 9
    nav = [r for r in stats if not r.kept]
    assert all(r.n_rows == 1 and r.n_cols == 2 for r in nav)


def test_malformed_page_quarantines_not_raises(spark):
    rows = [
        ("ok", bytearray(WT.variant_page(0, "fine"))),
        ("bad", bytearray(b"\xff\xfe\x00garbage not html at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = WT.table_rule_results(df).collect()
    # the garbage page yields no tables (or a PARSE row), never an error
    assert {r.doc_id for r in out} >= {"ok"}
    assert len([r for r in out if r.doc_id == "ok"]) == 22
