"""Markdown lane (core/markdown.py + md table battery).

The three driver-lane variant docs are pinned here byte-for-byte, so
the constructive `md_extract` oracle and these tests can never drift
apart silently.
"""

from __future__ import annotations

import gzip

from machine_readability_checker_spark.core.extract import extract_document
from machine_readability_checker_spark.core.markdown import (
    extract_md_spans,
    extract_md_tables,
)


def _entry_variants():
    import __spark_entry__ as E

    return E._MD_VARIANT_DOCS, E._MD_VARIANT_SPANS


def test_variant_docs_match_pinned_spans():
    docs, expected = _entry_variants()
    for v, (doc, want) in enumerate(zip(docs, expected)):
        spans, err = extract_md_spans(doc.encode("utf-8"))
        assert err is None
        assert spans == want, (v, spans)


def test_title_only_for_leading_heading():
    spans, _ = extract_md_spans(b"para first\n\n# Heading After\n")
    assert spans == [
        ("main", "para first", ""),
        ("heading", "Heading After", ""),
    ]


def test_inline_markup_matrix():
    md = (
        "ref [text][id] auto <https://a.example/x> em *one* strong "
        "**two** nested ***three*** tick `code()` html <em>four</em> "
        "esc \\*five\\*\n"
    )
    spans, _ = extract_md_spans(md.encode())
    assert spans == [(
        "main",
        "ref text auto https://a.example/x em one strong two nested "
        "three tick code() html four esc *five*",
        "",
    )]


def test_inline_never_rewrites_code_autolinks_or_snake_case():
    """Code spans and autolink URLs are literal text (masked before the
    emphasis pass), and intraword '_' is never emphasis (CommonMark)."""
    md = (
        "Use `my_var_name` via <https://x.example/a_b_c> in "
        "snake_case_words, em _one_ but mid_word_not.\n"
    )
    spans, _ = extract_md_spans(md.encode())
    assert spans == [(
        "main",
        "Use my_var_name via https://x.example/a_b_c in "
        "snake_case_words, em one but mid_word_not.",
        "",
    )]


def test_fence_preserves_content_verbatim():
    md = "```python\n# not a heading\n**not bold**\n| not | table |\n```\n"
    spans, _ = extract_md_spans(md.encode())
    assert spans == [
        ("code", "# not a heading\n**not bold**\n| not | table |", "")
    ]


def test_setext_beats_thematic_break_with_open_paragraph():
    spans, _ = extract_md_spans(b"Heading Two\n---\n\n---\n\ntail\n")
    assert spans == [
        ("title", "Heading Two", ""),
        ("main", "tail", ""),
    ]


def test_gfm_table_pads_and_truncates_to_header_width():
    md = (
        "| a | b |\n"
        "|---|---|\n"
        "| 1 |\n"
        "| 2 | 3 | 4 |\n"
    )
    grids = extract_md_tables(md.encode())
    assert grids == [[["a", "b"], ["1", ""], ["2", "3"]]]


def test_escaped_pipe_stays_in_cell():
    md = "| a | b |\n|---|---|\n| x \\| y | z |\n"
    grids = extract_md_tables(md.encode())
    assert grids == [[["a", "b"], ["x | y", "z"]]]


def test_extract_document_end_to_end_and_gzip_transparent():
    docs, expected = _entry_variants()
    raw = docs[0].encode("utf-8")
    for blob in (raw, gzip.compress(raw)):
        out = extract_document("d0", "md", blob)
        assert out["parse_error"] is None
        got = [(s["kind"], s["text"], s["media_ref"]) for s in out["spans"]]
        assert got == expected[0]
        assert [s["offset"] for s in out["spans"]] == list(range(len(got)))
        assert out["metrics"]["parse_errors"] == 0


def test_md_table_rules_equal_csv_battery(spark):
    """The one-battery pin: a pipe table and the same grid as a CSV
    upload produce identical rule verdicts."""
    from machine_readability_checker_spark.core.checks import run_checks
    from machine_readability_checker_spark.core.grid import parse_csv
    from machine_readability_checker_spark.core.html import table_grid_to_csv
    from machine_readability_checker_spark.core.zones import extract_zones
    from machine_readability_checker_spark.operators.webtables import (
        table_rule_results,
    )

    md = (
        "# T\n\n"
        "| 品目 | 数量 | 金額 |\n"
        "|------|------|------|\n"
        "| りんご | 10 | 1200 |\n"
        "| みかん | 5 | 600 |\n"
        "| 合計 | 15 | 1800 |\n"
    )
    grid = extract_md_tables(md.encode())[0]
    doc = parse_csv(table_grid_to_csv(grid))
    ctx = extract_zones(doc.sheets[0].rows, doc.sheets[0].name)
    want = {
        (rid, bool(p), m) for rid, p, m in run_checks(doc, ctx)
    }

    df = spark.createDataFrame(
        [("d0", bytearray(md.encode()))], "doc_id string, content binary"
    )
    rows = table_rule_results(df, "md").collect()
    got = {(r.rule_id, r.passed, r.message) for r in rows}
    assert got == want
    assert all(r.n_rows == 4 and r.n_cols == 3 for r in rows)


def test_md_variant_grids_equal_html_variant_grids():
    """The driver lane's contract: MD_VARIANT_TABLES densify to grids
    IDENTICAL to VARIANT_TABLES' (span expansion as literal empty
    cells, <br> as the embedded newline, full-width space preserved),
    so md_table_rules shares html_table_rules' verdict oracle."""
    from machine_readability_checker_spark.core.html import (
        extract_html_tables,
    )
    from machine_readability_checker_spark.operators.webtables import (
        MD_VARIANT_TABLES,
        VARIANT_TABLES,
    )

    for v in (0, 1, 2):
        html = f"<html><body>{VARIANT_TABLES[v]}</body></html>".encode()
        hg, _enc = extract_html_tables(html)
        mg = extract_md_tables(MD_VARIANT_TABLES[v].encode())
        assert mg == hg, v


def test_md_fixture_family_extracts(spark):
    from machine_readability_checker_spark.sources.fixtures import gen_doc

    # family index of md_docs: find an i whose family is md
    from machine_readability_checker_spark.sources.fixtures import FAMILIES

    fam_idx = [name for name, _ in FAMILIES].index("md_docs")
    d = gen_doc(fam_idx)
    assert d["fmt"] == "md"
    out = extract_document(d["doc_id"], "md", bytes(d["content"]))
    assert out["parse_error"] is None
    kinds = [s["kind"] for s in out["spans"]]
    assert kinds[0] == "title"
    assert "code" in kinds and "media" in kinds and "heading" in kinds
