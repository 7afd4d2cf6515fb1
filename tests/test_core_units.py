"""Unit tests for the single-node core: reference-semantics branches
(SURVEY.md §5 lane 2) — threshold gates, placeholder fills, caps,
format-side-channel parsing, HTML block classification."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from machine_readability_checker_spark.core import cells as C
from machine_readability_checker_spark.core import checks as K
from machine_readability_checker_spark.core.extract import extract_document
from machine_readability_checker_spark.core.grid import (
    FORMATS,
    GRID,
    parse_document,
)
from machine_readability_checker_spark.core.html import extract_html_spans
from machine_readability_checker_spark.core.xlsx import read_xlsx, write_xlsx
from machine_readability_checker_spark.core.zones import (
    detect_header_row,
    extract_zones,
)

# ------------------------------------------------------------ cells


def test_a1_helpers_roundtrip():
    for n in [1, 2, 26, 27, 52, 53, 702, 703, 16384]:
        assert C.col_to_num(C.col_letter(n)) == n
    assert C.col_letter(1) == "A" and C.col_letter(27) == "AA"


def test_a1_sort_key_formats():
    assert C.a1_sort_key("B12: x") == (12, 2)
    assert C.a1_sort_key("列C 行7: y") == (7, 3)
    assert C.a1_sort_key("nonsense") == (99999, 99999)


def test_is_clean_numeric_branches():
    assert C.is_clean_numeric(5) and C.is_clean_numeric(5.5)
    assert C.is_clean_numeric("12.5") and C.is_clean_numeric("-3")
    assert not C.is_clean_numeric("1,000")
    assert not C.is_clean_numeric("¥100")
    assert not C.is_clean_numeric("")  # float('') raises
    assert not C.is_clean_numeric("1-2.3-")  # regex passes, float() fails
    assert not C.is_clean_numeric(None)


def test_unclear_header_rules():
    for bad in ["", " ", "A", "B1", "123", "※", "_", "x"]:
        assert C.is_unclear_header(bad), bad
    for good in ["name", "売上", "col_a0", "ID", "AB12"]:
        assert not C.is_unclear_header(good), good


def test_render_cell_pinning():
    assert C.render_cell(2.0) == "2"
    assert C.render_cell(2.5) == "2.5"
    assert C.render_cell(float("nan")) == ""
    assert C.render_cell(None) == ""
    assert C.render_cell("x") == "x"


# ------------------------------------------------------------ zones


def test_detect_header_row_prefers_non_numeric():
    rows = [["1", "2", "3"], ["a", "b", "c"]]
    # first row numeric → reference default row 1
    assert detect_header_row(rows) == 1
    rows2 = [[None, None], ["name", "count"], [1, 2]]
    assert detect_header_row(rows2) == 2


def test_multirow_header_blank_placeholder():
    rows = [
        ["", "G1", "", "G2"],
        ["a", "b", "c", "d"],
        [1, 2, 3, 4],
    ]
    ctx = extract_zones(rows, "s", header_start_row=1, header_end_row=2)
    # blank top-left with no left neighbor → placeholder; then forward fill
    assert ctx.columns == ["(空白)/a", "G1/b", "G1/c", "G2/d"]


def test_width_mismatch_pads_header_with_blanks():
    # A narrow header line is padded to grid width (pandas rectangularizes
    # ragged input the same way — reference loader.py:87 fillna("")), so
    # the trailing names are blank and trip the unclear-header rule rather
    # than the Col{i} synthesis branch.
    rows = [["x", "y"], [1, 2, 3], [4, 5, 6]]
    ctx = extract_zones(rows, "s", header_start_row=1, header_end_row=1)
    assert not ctx.header_mismatch
    assert ctx.columns == ["x", "y", ""]


def test_invalid_header_bounds():
    rows = [["a", "b"], [1, 2]]
    ctx = extract_zones(rows, "s", header_start_row=99, header_end_row=99)
    assert not ctx.valid and ctx.data_rows == []


def test_annotations_split():
    rows = [
        ["title", None],
        [None, None],
        ["h1", "h2"],
        [1, 2],
        [3, 4],
        ["note", None],
    ]
    ctx = extract_zones(
        rows, "s", header_start_row=3, header_end_row=3,
        data_start_row=4, data_end_row=5,
    )
    assert [i for i, _ in ctx.upper_rows] == [0]
    assert [i for i, _ in ctx.lower_rows] == [5]
    assert len(ctx.data_rows) == 2


# ------------------------------------------------------------ checks


def _ctx_from_rows(rows, **kw):
    return extract_zones(rows, "s", **kw)


def _csv_doc(text: str):
    return parse_document("csv", text.encode("utf-8"))


def test_numeric_column_thresholds():
    # 100 values, 85% clean → numeric column, <99% → violations listed
    col = [str(i) for i in range(85)] + [f"x{i}" for i in range(15)]
    rows = [["v_col"]] + [[v] for v in col]
    doc = _csv_doc("\n".join(",".join(r) for r in rows))
    ctx = _ctx_from_rows(doc.sheets[0].rows, header_start_row=1, header_end_row=1)
    body = K._body_df(ctx)
    passed, msg = K.check_numeric_columns_only(doc, ctx, body)
    assert not passed and "x0" in msg

    # 75% clean → not a numeric column → pass
    col2 = [str(i) for i in range(75)] + [f"x{i}" for i in range(25)]
    rows2 = [["v_col"]] + [[v] for v in col2]
    doc2 = _csv_doc("\n".join(",".join(r) for r in rows2))
    ctx2 = _ctx_from_rows(doc2.sheets[0].rows, header_start_row=1, header_end_row=1)
    passed2, _ = K.check_numeric_columns_only(doc2, ctx2, K._body_df(ctx2))
    assert passed2

    # 99.5% clean → numeric and above the violation gate → pass
    col3 = [str(i) for i in range(199)] + ["bad"]
    rows3 = [["v_col"]] + [[v] for v in col3]
    doc3 = _csv_doc("\n".join(",".join(r) for r in rows3))
    ctx3 = _ctx_from_rows(doc3.sheets[0].rows, header_start_row=1, header_end_row=1)
    passed3, _ = K.check_numeric_columns_only(doc3, ctx3, K._body_df(ctx3))
    assert passed3


def test_whitespace_cap_is_scan_order_first_10():
    rows = [["h1", "h2"]] + [[f"a　{i}", f"b　{i}"] for i in range(10)]
    doc = _csv_doc("\n".join(",".join(r) for r in rows))
    ctx = _ctx_from_rows(doc.sheets[0].rows, header_start_row=1, header_end_row=1)
    passed, msg = K.check_no_whitespace_formatting(doc, ctx, K._body_df(ctx))
    assert not passed
    # 20 candidates, but only the first 10 in row-major scan order appear:
    # rows 1..5 of the body, both columns
    assert msg.count(":") >= 10
    assert "a　5" not in msg  # row 6 col A is the 11th hit


def test_missing_value_grouping_sorted_by_value():
    # NOTE: 'n/a'/'null'/'nan' never reach this check from CSV — pandas
    # read_csv's default na_values converts them to NaN first, exactly as
    # in the reference's loader (loader.py:167).
    rows = [["c1", "c2"], ["不明", "ok"], ["---", "不明"]]
    doc = _csv_doc("\n".join(",".join(r) for r in rows))
    ctx = _ctx_from_rows(doc.sheets[0].rows, header_start_row=1, header_end_row=1)
    passed, msg = K.check_handling_of_missing_values(doc, ctx, K._body_df(ctx))
    assert not passed
    # groups sorted by offending value; '---' before '不明' (codepoints)
    assert msg.index("---") < msg.index("不明")
    assert "(2件)" in msg  # 不明 appears twice, coordinates grouped


def test_multi_table_empty_row_groups():
    body = pd.DataFrame(
        [[1, 2], [None, None], [3, 4], [None, None], [5, 6]]
    )
    is_multi, details = K.detect_multiple_tables(body)
    assert is_multi and "2箇所" in details


def test_multi_table_distant_headers():
    body = pd.DataFrame(
        [["hdr", "x"]] + [[i, i] for i in range(5)] + [["hdr2", "y"]]
    )
    is_multi, details = K.detect_multiple_tables(body)
    assert is_multi and "ヘッダー様行" in details


# ------------------------------------------------------------ xlsx


def test_xlsx_roundtrip_values_and_sidechannel():
    sheets = [
        {
            "name": "S1",
            "rows": [["a", "b", None], [1, 2.5, "x"], [True, "末尾", 3]],
            "merged": [(1, 0, 2, 0)],
            "hidden_rows": [2],
            "hidden_cols": [1],
            "styled": [(1, 1, "bold"), (2, 2, "huge")],
        },
        {"name": "S2", "rows": [["only"]]},
    ]
    wb = read_xlsx(write_xlsx(sheets))
    assert wb.sheet_names() == ["S1", "S2"]
    s1 = wb.sheets[0]
    assert s1.rows[0][:2] == ["a", "b"]
    assert s1.rows[1] == [1, 2.5, "x"]
    assert s1.rows[2][0] is True and s1.rows[2][1] == "末尾"
    assert s1.merged == [(1, 0, 2, 0)]
    assert s1.hidden_rows == [2] and s1.hidden_cols == [1]
    flags = {(r, c): f for (r, c, f) in s1.format_flags}
    assert flags[(1, 1)] == "bold"
    assert flags[(2, 2)].startswith("font_size:")
    assert wb.drawing_parts == []

    wb2 = read_xlsx(write_xlsx([{"name": "D", "rows": [["x"]]}], with_drawing=True))
    assert wb2.drawing_parts == ["xl/drawings/drawing1.xml"]


# ------------------------------------------------------------ html


def test_html_density_classification():
    long_text = "word " * 30
    html = f"""
    <html><head><title>T</title></head><body>
    <nav><a href="/">aaa</a></nav>
    <h2>H</h2>
    <p>{long_text}</p>
    <p>short</p>
    <p><a href="x">{long_text}</a></p>
    <img src="pic.png">
    </body></html>"""
    spans, enc = extract_html_spans(html.encode("utf-8"))
    kinds = [k for k, _, _ in spans]
    assert kinds[0] == "title"
    assert "heading" in kinds and "media" in kinds
    mains = [t for k, t, _ in spans if k == "main"]
    boils = [t for k, t, _ in spans if k == "boilerplate"]
    assert any(len(t) > 100 for t in mains)  # dense link-poor block
    assert any("short" == t for t in boils)  # too short
    assert any(len(t) > 100 for t in boils)  # long but all-link block
    refs = [r for k, _, r in spans if k == "media"]
    assert refs == ["pic.png"]


def test_html_hidden_content_dropped():
    """hidden attribute and inline display:none / visibility:hidden
    subtrees never reach the span stream (cloaking / keyword-stuffing
    vector); visible siblings and content AFTER the hidden subtree
    survive, and a hidden VOID element only skips itself."""
    long_text = "word " * 30
    html = f"""
    <html><body>
    <p>{long_text}before</p>
    <div style="display:none"><p>STUFFED {long_text}</p>
      <div><p>NESTED INVISIBLE</p></div></div>
    <div hidden><p>ALSO HIDDEN</p></div>
    <span style="visibility: Hidden">SR-ONLY</span>
    <img hidden src="skipme.png">
    <img src="keep.png">
    <p>{long_text}after</p>
    </body></html>"""
    spans, _enc = extract_html_spans(html.encode("utf-8"))
    joined = " ".join(t for _, t, _ in spans)
    for bad in ("STUFFED", "NESTED INVISIBLE", "ALSO HIDDEN", "SR-ONLY"):
        assert bad not in joined
    assert "before" in joined and "after" in joined
    assert [r for k, _, r in spans if k == "media"] == ["keep.png"]


def test_html_hidden_table_not_captured():
    from machine_readability_checker_spark.core.html import (
        extract_html_tables,
    )

    html = (
        '<table hidden><tr><td>x</td></tr></table>'
        "<table><tr><td>a</td><td>b</td></tr></table>"
    )
    tables, _enc = extract_html_tables(html.encode("utf-8"))
    assert tables == [[["a", "b"]]]


# ------------------------------------------------------------ quarantine


def test_unsupported_and_broken_formats_quarantine():
    r = extract_document("d1", "pdf", b"%PDF-1.4")
    assert r["metrics"]["parse_errors"] == 1 and r["spans"] == []
    r2 = extract_document("d2", "xlsx", b"not a zip")
    assert r2["metrics"]["parse_errors"] == 1
    r3 = extract_document("d3", "xls", b"\xd0\xcf\x11\xe0junk")
    assert r3["metrics"]["parse_errors"] == 1  # xlrd not installed: stub lane
    r4 = extract_document("d4", "csv", b"\xff\xfe\x00bad\x81")
    assert r4["metrics"]["parse_errors"] in (0, 1)  # decode fallback path


def _one_doc_per_format():
    """First generated document of each format, plus a hand-built srt
    (the generator's subtitle family only ever emits vtt)."""
    from machine_readability_checker_spark.sources.fixtures import gen_corpus

    docs = {}
    for r in gen_corpus(46, seed=1, whale_every=None).itertuples():
        docs.setdefault(r.fmt, bytes(r.content))
    docs["srt"] = (
        b"1\n00:00:01,000 --> 00:00:02,500\nHello there\n\n"
        b"2\n00:00:03,000 --> 00:00:04,000\n<i>Second cue</i>\n"
    )
    return docs


def _assert_lane(fmt, doc):
    assert doc.parse_error is None, (fmt, doc.parse_error)
    if FORMATS[fmt].lane == GRID:
        assert doc.sheets and doc.layout_spans is None, fmt
    else:
        assert isinstance(doc.layout_spans, list), fmt


def test_every_table_format_routes_to_its_lane():
    """Table-driven routing: every format in the table parses a
    well-formed document into its own lane, and extraction emits
    spans for it (a format the gate admits but no lane handles would
    extract zero spans with no parse error)."""
    import gzip

    docs = _one_doc_per_format()
    assert set(docs) == set(FORMATS)
    for fmt, content in docs.items():
        doc = parse_document(fmt, content)
        _assert_lane(fmt, doc)
        r = extract_document("d", fmt, content)
        assert r["parse_error"] is None and r["spans"], fmt
        gz = parse_document(fmt, gzip.compress(content, mtime=0))
        _assert_lane(fmt, gz)
        assert gz.layout_spans == doc.layout_spans, fmt
    for fmt, alias in (("csv", ".CSV"), ("html", "Html")):
        doc = parse_document(alias, docs[fmt])
        _assert_lane(fmt, doc)
        assert doc.fmt == fmt
        assert doc == parse_document(fmt, docs[fmt])


def test_question_master_and_metadata_checks():
    """X-05/X-06 — pyc:level3_checks check_question_master_exists /
    check_metadata_presence keyword-fallback lanes: message shapes and
    the workbook-required precondition mirror the bytecode."""
    from machine_readability_checker_spark.core.extract import extract_document
    from machine_readability_checker_spark.core.xlsx import write_xlsx

    def run(fmt, content):
        res = extract_document("d", fmt, content)["results"]
        return {r["rule_id"]: (r["passed"], r["message"]) for r in res}

    # csv has no workbook -> both fail with the workbook-error message
    csv = run("csv", b"a,b\n1,2\n3,4\n")
    assert csv["X-05"] == (False, "エラー: 有効な workbook が渡されていません")
    assert csv["X-06"] == (False, "エラー: 有効な workbook が渡されていません")

    data = [["id", "val"], ["1", "9"], ["2", "8"]]

    # plain data workbook -> not found
    plain = run("xlsx", write_xlsx([{"name": "Data", "rows": data}]))
    assert plain["X-05"] == (False, "設問マスター（変数定義表）が見つかりません")
    assert plain["X-06"] == (False, "調査概要やメタデータが確認できません")

    # sheet NAME carries question-master vocabulary
    byname = run(
        "xlsx",
        write_xlsx(
            [{"name": "Data", "rows": data}, {"name": "変数定義", "rows": data}]
        ),
    )
    assert byname["X-05"] == (True, "設問マスターとみられるシート: 変数定義")

    # top-row header combo (変数名 + 設問) counts as question-master content
    bycontent = run(
        "xlsx",
        write_xlsx(
            [
                {
                    "name": "Sheet2",
                    "rows": [["変数名", "設問文", "選択肢"], ["Q1", "age?", "1-5"]],
                }
            ]
        ),
    )
    assert bycontent["X-05"][0] is True

    # metadata by sheet name
    metaname = run(
        "xlsx",
        write_xlsx(
            [{"name": "Data", "rows": data}, {"name": "調査概要", "rows": data}]
        ),
    )
    assert metaname["X-06"] == (True, "メタ情報とみられるシート: 調査概要")

    # metadata by content: a long plain-text cell quoting a survey term
    chunk = "調査方法は郵送によるアンケート方式です"
    metacontent = run(
        "xlsx",
        write_xlsx([{"name": "Data", "rows": [[chunk]] + data}]),
    )
    assert metacontent["X-06"] == (
        True,
        f"内容からメタデータが見つかりました（例: {chunk}）",
    )


def test_legacy_whitespace_variants_x07():
    """X-07 — pyc:level1_checks check_no_whitespace_formatting
    (bytecode-only historical variant, lines 124-148): currency-shaped
    cells are fullmatch-EXEMPT, leading/trailing space, embedded
    newline/tab and inter-word ideographic space flag, message quotes
    problem[:3] as a Python list repr, first worksheet only."""
    from machine_readability_checker_spark.core.extract import extract_document
    from machine_readability_checker_spark.core.xlsx import write_xlsx

    def run(fmt, content):
        res = extract_document("d", fmt, content)["results"]
        return {r["rule_id"]: (r["passed"], r["message"]) for r in res}

    # csv has no workbook -> bytecode's error path
    csv = run("csv", b"a,b\n1,2\n")
    assert csv["X-07"] == (False, "エラー: 有効な workbook が渡されていません")

    # clean workbook incl. currency-formatted cells (exempt even with
    # the ¥/円 decorations) -> pass message
    clean = run(
        "xlsx",
        write_xlsx(
            [
                {
                    "name": "Data",
                    "rows": [
                        ["id", "price"],
                        ["1", "￥1,000円"],
                        ["2", "¥25万円"],
                        ["3", "12,345"],
                    ],
                }
            ]
        ),
    )
    assert clean["X-07"] == (True, "スペースや改行による整形はありません")

    # flagged: trailing space / newline / tab / inter-word　space;
    # message carries the first 3 in scan order as a list repr
    bad_rows = [
        ["名前 ", "a\nb"],
        ["x\ty", "日本　語"],
    ]
    bad = run("xlsx", write_xlsx([{"name": "Data", "rows": bad_rows}]))
    expect_problems = ["A1: '名前 '", "B1: 'a\\nb'", "A2: 'x\\ty'"]
    assert bad["X-07"] == (
        False,
        f"余分な空白/改行/体裁スペースが検出されました（例: {expect_problems}）",
    )

    # second-sheet problems are invisible (worksheets[0] only)
    second = run(
        "xlsx",
        write_xlsx(
            [
                {"name": "Data", "rows": [["ok", "fine"]]},
                {"name": "Other", "rows": [["bad "]]},
            ]
        ),
    )
    assert second["X-07"][0] is True
