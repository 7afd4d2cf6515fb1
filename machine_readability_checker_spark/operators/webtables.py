"""Table extraction: the reference's rule battery over the tables
embedded in documents (HTML ``<table>``, GFM pipe tables, LaTeX
``tabular``, printed PDF pages, wikitables, RST grid tables, AsciiDoc
psv tables, Org tables, fixed-width text dumps, Word 97 tables).

The reference audits machine readability of *uploaded tabular files*
(csv/xlsx/xls — ``loader.py:15``, ``app.py:156-167``).  A web-scale
corpus meets the same tables inside other documents: each format's
``core.<module>.extract_*_tables`` lifts them into dense grids
(colspan/rowspan and their analogs expand to empty filler exactly like
unmerged spreadsheet ranges), each grid is serialized through the CSV
ingest path (same pandas type inference as a ``.csv`` upload), and the
full 22-rule battery runs on it.  A grid therefore produces *identical*
rule results whether it arrived as a CSV file or as a table in any of
these formats — one battery, many ingest surfaces.

``TABLE_GRIDS`` below is the one place a table format is added: one row
names the format's ``extract_*_tables`` function, and its core module
comes from ``core.grid.FORMATS``.

Scale shape (100 TB):
- ``table_rule_results`` / ``table_stats`` are single ``mapInPandas``
  kernels — narrow, Arrow-batched, zero shuffle; parallelism is the
  input partitioning of the document corpus (same contract as
  ``operators/extract.py``).
- tiny layout/navigation tables (the web is full of them) are dropped
  executor-side (``DEFAULT_MIN_ROWS``/``DEFAULT_MIN_COLS``) *before*
  any rule work, so the battery only runs on data-shaped grids.
- hostile span attributes are clamped in the parsers (``colspan=1e9``
  cannot allocate a giant row).
"""

from __future__ import annotations

from importlib import import_module
from typing import Dict, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame

from ..core.grid import FORMATS, parse_csv
from ..core.html import table_grid_to_csv
from ..core.checks import run_checks
from ..core.zones import extract_zones

TABLE_RULES_SCHEMA = (
    "doc_id string, table_idx int, n_rows int, n_cols int, "
    "rule_id string, passed boolean, message string"
)
TABLE_STATS_SCHEMA = (
    "doc_id string, table_idx int, n_rows int, n_cols int, kept boolean"
)

# navigation/layout-table filter: a data table needs at least a header
# row plus one data row, and at least two columns
DEFAULT_MIN_ROWS = 2
DEFAULT_MIN_COLS = 2

# The table-format table: format (a ``core.grid.FORMATS`` key) → the
# ``extract_*_tables`` function of that format's core module, which
# takes the document bytes and returns its grids in document order.
# Two rows differ: html also takes the page charset and returns
# ``(grids, encoding)``; pdf returns ``(grids, parse_error)``.
TABLE_GRIDS: Dict[str, str] = {
    "html": "extract_html_tables",
    "md": "extract_md_tables",
    "tex": "extract_latex_tables",
    "pdf": "extract_pdf_tables",
    "wiki": "extract_wiki_tables",
    "rst": "extract_rst_tables",
    "adoc": "extract_adoc_tables",
    "org": "extract_org_tables",
    "txt": "extract_fw_tables",
    "doc": "extract_doc_tables",
}


def _grids(fmt: str, row) -> Tuple[List[List[List[str]]], Optional[str]]:
    """One document row → (grids, quarantine message or None)."""
    module = import_module(f"..core.{FORMATS[fmt].module}", __package__)
    extract = getattr(module, TABLE_GRIDS[fmt])
    try:
        content = bytes(row.content)
        if fmt == "html":
            charset = str(getattr(row, "charset", "") or "")
            return extract(content, charset)[0], None
        if fmt == "pdf":
            return extract(content)
        return extract(content), None
    except Exception as e:  # a malformed document must not kill the batch
        return [], f"{fmt} table extract failed: {e}"


def _data_shaped(grid: List[List[str]]) -> bool:
    return (
        len(grid) >= DEFAULT_MIN_ROWS and len(grid[0]) >= DEFAULT_MIN_COLS
    )


def _grid_rules(grid: List[List[str]]):
    """One captured grid → the reference battery's (rule_id, passed,
    message) rows, via the CSV ingest path (shared type inference)."""
    doc = parse_csv(table_grid_to_csv(grid))
    if doc.parse_error is not None or not doc.sheets:
        return [("PARSE", False, str(doc.parse_error or "empty grid"))]
    ctx = extract_zones(doc.sheets[0].rows, doc.sheets[0].name)
    return run_checks(doc, ctx)


def _check_fmt(fmt: str) -> None:
    if fmt not in TABLE_GRIDS:
        raise ValueError(f"no table extractor for format: {fmt!r}")


def table_rule_results(df_docs: DataFrame, fmt: str = "html") -> DataFrame:
    """docs(doc_id, content[, charset]) of format ``fmt`` → one row per
    (data-shaped table, rule).

    ``table_idx`` indexes *kept* tables in document order.  A document
    whose extractor fails yields one ``PARSE`` row with ``table_idx``
    -1 instead of failing the task."""
    _check_fmt(fmt)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "doc_id", "table_idx", "n_rows", "n_cols",
            "rule_id", "passed", "message",
        ]
        for batch in batches:
            out = []
            for row in batch.itertuples(index=False):
                grids, err = _grids(fmt, row)
                did = str(row.doc_id)
                if err is not None:
                    out.append((did, -1, 0, 0, "PARSE", False, err))
                    continue
                kept = [g for g in grids if _data_shaped(g)]
                for ti, g in enumerate(kept):
                    for rule_id, passed, msg in _grid_rules(g):
                        out.append(
                            (did, ti, len(g), len(g[0]),
                             rule_id, bool(passed), msg)
                        )
            yield pd.DataFrame(out, columns=cols)

    return df_docs.mapInPandas(kernel, schema=TABLE_RULES_SCHEMA)


def table_stats(df_docs: DataFrame, fmt: str = "html") -> DataFrame:
    """docs of format ``fmt`` → one row per captured table (kept or
    filtered) with its grid dimensions — the corpus-survey side of the
    lane (what share of tables are data-shaped at all).  Documents whose
    extractor fails yield no rows."""
    _check_fmt(fmt)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "table_idx", "n_rows", "n_cols", "kept"]
        for batch in batches:
            out = []
            for row in batch.itertuples(index=False):
                grids, err = _grids(fmt, row)
                if err is not None:
                    continue
                for ti, g in enumerate(grids):
                    out.append(
                        (str(row.doc_id), ti, len(g),
                         len(g[0]) if g else 0, _data_shaped(g))
                    )
            yield pd.DataFrame(out, columns=cols)

    return df_docs.mapInPandas(kernel, schema=TABLE_STATS_SCHEMA)


# ------------------------------------------------------------------
# deterministic synthetic page corpus (driver lanes + tests)
# ------------------------------------------------------------------

# three page archetypes keyed by doc_id % 3; the table content is FIXED
# per variant (page prose varies per document) so every rule outcome is
# constructively known and the DuckDB oracle can pin it as literals.
VARIANT_TABLES = {
    # clean numeric table: well-formed header + consistent typed columns
    0: (
        "<table>"
        "<tr><th>id</th><th>name</th><th>value</th></tr>"
        "<tr><td>1</td><td>alpha</td><td>10</td></tr>"
        "<tr><td>2</td><td>beta</td><td>20</td></tr>"
        "<tr><td>3</td><td>gamma</td><td>30</td></tr>"
        "</table>"
    ),
    # dirty values: '-' missing marker, full-width-space indent,
    # multi-value cell (、), free text inside a numeric column
    1: (
        "<table>"
        "<tr><th>id</th><th>score</th><th>tags</th><th>memo</th></tr>"
        "<tr><td>1</td><td>10</td><td>a、b</td><td>済</td></tr>"
        "<tr><td>2</td><td>-</td><td>c</td><td>　字下げ</td></tr>"
        "<tr><td>3</td><td>30以上</td><td>d</td><td>済</td></tr>"
        "</table>"
    ),
    # structural mess: 1-row nav table (filtered), annotation row above
    # the header (colspan), platform-dependent ①, <br> newline in a
    # cell, rowspan spilling into the next row
    2: (
        '<table><tr><td>home</td><td>about</td></tr></table>'
        "<table>"
        '<tr><td colspan="3">注: このデータは速報値</td></tr>'
        "<tr><th>item</th><th>q1</th><th>q2</th></tr>"
        "<tr><td>①新規</td><td>5</td><td>7</td></tr>"
        "<tr><td>継続<br>更新</td><td>6</td><td>8</td></tr>"
        '<tr><td rowspan="2">小計</td><td>11</td><td>15</td></tr>'
        "<tr><td>9</td><td>9</td></tr>"
        "</table>"
    ),
}


# printed-page twins of the HTML variants, positioned for the layout
# lane's x-alignment detector (columns at x = 72/200/330/460, rows 20pt
# apart).  The PDF fixture writer is latin-1, so the dirty variant uses
# the vocabulary's ASCII members ('-', 'n/a', ';' multi-value, prose in
# a numeric column); the structural variant drops the run at one column
# of one row, which densification must surface as a blank cell.
_X = (72, 200, 330, 460)
PDF_VARIANT_ROWS = {
    # clean numeric table (battery twin of HTML variant 0)
    0: [
        ("id", "name", "value"),
        ("1", "alpha", "10"),
        ("2", "beta", "20"),
        ("3", "gamma", "30"),
    ],
    # dirty values: missing markers, multi-value ';', free text in a
    # numeric column
    1: [
        ("id", "score", "tags", "memo"),
        ("1", "10", "a;b", "done"),
        ("2", "-", "c", "n/a"),
        ("3", "high", "d", "done"),
    ],
    # structural: row 2 has NO run at the middle column (None) — the
    # densified grid must carry "" there; plus a trailing second table
    2: [
        ("item", "q1", "q2"),
        ("first", "5", "7"),
        ("second", None, "9"),
        ("total", "21", "16"),
    ],
}
_PDF_SECOND_TABLE = [("k", "v"), ("a", "1")]  # variant 2 only, 2×2


def variant_pdf(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic PDF document: per-doc prose lines (single
    runs — never table members) around the FIXED per-variant
    (doc_id % 3) positioned table rows, so every rule outcome is
    constructively known, like ``variant_page``."""
    from ..core.pdf import write_pdf

    v = int(doc_id) % 3
    items = [{"text": f"report {doc_id}", "x": 72, "y": 760, "size": 18}]
    ascii_prose = (text or "prose").encode("ascii", "replace").decode()
    items.append({"text": ascii_prose[:80] or "prose", "x": 72, "y": 736})
    y = 700
    for row in PDF_VARIANT_ROWS[v]:
        for x, cell in zip(_X, row):
            if cell is not None:
                items.append({"text": cell, "x": x, "y": y})
        y -= 20
    items.append({"text": "see appendix for notes", "x": 72, "y": y - 20})
    if v == 2:
        y -= 60
        for row in _PDF_SECOND_TABLE:
            for x, cell in zip(_X, row):
                items.append({"text": cell, "x": x, "y": y})
            y -= 20
    return write_pdf(items, compress=True)


# Markdown (GFM pipe-table) twins of VARIANT_TABLES: the md lane's
# dense grids equal the HTML lane's EXACTLY (`` | | `` empty cells
# state what colspan/rowspan expansion produces; ``<br>`` is GFM's
# in-cell hard break and extracts as the same embedded newline), so
# the rule-battery verdicts — and the driver oracle's literals — are
# shared verbatim between the two lanes.
MD_VARIANT_TABLES = {
    0: (
        "| id | name | value |\n"
        "|----|------|-------|\n"
        "| 1  | alpha | 10 |\n"
        "| 2  | beta  | 20 |\n"
        "| 3  | gamma | 30 |\n"
    ),
    1: (
        "| id | score | tags | memo |\n"
        "|----|-------|------|------|\n"
        "| 1  | 10    | a、b | 済 |\n"
        "| 2  | -     | c    | 　字下げ |\n"
        "| 3  | 30以上 | d   | 済 |\n"
    ),
    2: (
        "| home | about |\n"
        "|------|-------|\n"
        "\n"
        "| 注: このデータは速報値 | | |\n"
        "|------|----|----|\n"
        "| item | q1 | q2 |\n"
        "| ①新規 | 5 | 7 |\n"
        "| 継続<br>更新 | 6 | 8 |\n"
        "| 小計 | 11 | 15 |\n"
        "| | 9 | 9 |\n"
    ),
}


def md_variant_doc(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic README: per-document prose around the
    fixed per-variant pipe table(s) — the markdown twin of
    ``variant_page``."""
    v = int(doc_id) % 3
    prose = (
        (text or "").replace("\n", " ").replace("|", " ").replace("#", " ")
    )
    return (
        f"# page {doc_id}\n\n{prose}\n\n{MD_VARIANT_TABLES[v]}\n"
        "generated fixture page\n"
    ).encode("utf-8")


# LaTeX (tabular) twins of VARIANT_TABLES: the tex lane's dense grids
# equal the HTML lane's EXACTLY (``\multicolumn{n}{..}{x}`` states what
# colspan expansion produces; the covered rowspan cell is an explicit
# empty cell; ``\newline`` is the in-cell hard break and extracts as
# the same embedded newline; the full-width-space indent survives the
# ASCII-only whitespace collapse), so the rule-battery verdicts — and
# the driver oracle's literals — are shared verbatim across the three
# markup lanes.
TEX_VARIANT_TABLES = {
    0: (
        "\\begin{tabular}{lll}\n"
        "id & name & value \\\\\n"
        "1 & alpha & 10 \\\\\n"
        "2 & beta & 20 \\\\\n"
        "3 & gamma & 30 \\\\\n"
        "\\end{tabular}\n"
    ),
    1: (
        "\\begin{tabular}{llll}\n"
        "\\hline\n"
        "id & score & tags & memo \\\\\n"
        "1 & 10 & a、b & 済 \\\\\n"
        "2 & - & c & 　字下げ \\\\\n"
        "3 & 30以上 & d & 済 \\\\\n"
        "\\hline\n"
        "\\end{tabular}\n"
    ),
    2: (
        "\\begin{tabular}{ll}\n"
        "home & about \\\\\n"
        "\\end{tabular}\n\n"
        "\\begin{tabular}{lrr}\n"
        "\\multicolumn{3}{l}{注: このデータは速報値} \\\\\n"
        "item & q1 & q2 \\\\\n"
        "①新規 & 5 & 7 \\\\\n"
        "継続\\newline更新 & 6 & 8 \\\\\n"
        "小計 & 11 & 15 \\\\\n"
        " & 9 & 9 \\\\\n"
        "\\end{tabular}\n"
    ),
}


def tex_variant_doc(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic paper: per-document prose around the
    fixed per-variant tabular(s) — the LaTeX twin of
    ``variant_page``."""
    v = int(doc_id) % 3
    prose = (
        (text or "")
        .replace("\\", " ")
        .replace("%", "\\%")
        .replace("&", "\\&")
        .replace("$", "\\$")
        .replace("#", "\\#")
        .replace("_", "\\_")
        .replace("{", "")
        .replace("}", "")
        .replace("~", " ")
        .replace("^", " ")
    )
    return (
        f"\\section{{page {doc_id}}}\n\n{prose}\n\n"
        f"{TEX_VARIANT_TABLES[v]}\n"
        "generated fixture page\n"
    ).encode("utf-8")


# MediaWiki twins of VARIANT_TABLES: the wiki lane's dense grids equal
# the HTML lane's EXACTLY (``colspan``/``rowspan`` cell attributes use
# the HTML vocabulary and expand identically; ``<br>`` inside a cell is
# the same in-cell hard break → embedded newline; the full-width-space
# indent survives), so the rule-battery verdicts — and the driver
# oracle's literals — are shared verbatim across the markup lanes.
WIKI_VARIANT_TABLES = {
    0: (
        '{| class="wikitable"\n'
        "! id !! name !! value\n"
        "|-\n"
        "| 1 || alpha || 10\n"
        "|-\n"
        "| 2 || beta || 20\n"
        "|-\n"
        "| 3 || gamma || 30\n"
        "|}\n"
    ),
    1: (
        '{| class="wikitable"\n'
        "! id !! score !! tags !! memo\n"
        "|-\n"
        "| 1 || 10 || a、b || 済\n"
        "|-\n"
        "| 2 || - || c || 　字下げ\n"
        "|-\n"
        "| 3 || 30以上 || d || 済\n"
        "|}\n"
    ),
    2: (
        "{|\n"
        "| home || about\n"
        "|}\n"
        "\n"
        '{| class="wikitable"\n'
        '| colspan="3" | 注: このデータは速報値\n'
        "|-\n"
        "! item !! q1 !! q2\n"
        "|-\n"
        "| ①新規 || 5 || 7\n"
        "|-\n"
        "| 継続<br>更新 || 6 || 8\n"
        "|-\n"
        '| rowspan="2" | 小計 || 11 || 15\n'
        "|-\n"
        "| 9 || 9\n"
        "|}\n"
    ),
}


def wiki_variant_doc(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic article: per-document prose around the
    fixed per-variant wiki table(s) — the MediaWiki twin of
    ``variant_page``."""
    v = int(doc_id) % 3
    prose = (
        (text or "")
        .replace("\n", " ").replace("|", " ").replace("[", " ")
        .replace("]", " ").replace("{", " ").replace("}", " ")
        .replace("=", " ").replace("'", " ")
    )
    return (
        f"== page {doc_id} ==\n\n{prose}\n\n{WIKI_VARIANT_TABLES[v]}\n"
        "generated fixture page\n"
    ).encode("utf-8")


# reStructuredText twins of VARIANT_TABLES: grid tables whose corner
# geometry expresses the SAME col/row spans, multi-line cells and
# full-width indents as the HTML variants, so the corner-walk parser
# (`core/rst.py`) must densify to byte-identical grids and the verdict
# literals are shared verbatim.  Built by a tiny renderer (character
# widths, not display widths — the parser is offset-based).


def _rst_grid_table(rows) -> str:
    """rows: list of rows; each row a list of cells; a cell is text or
    (text, colspan) — text may hold newlines; a trailing row may start
    with the ROWSPAN sentinel ("", ...) meaning the cell above
    continues (single-column rowspan, the variant-2 shape)."""
    n_cols = max(
        sum(c[1] if isinstance(c, tuple) else 1 for c in row)
        for row in rows
    )
    # column widths from single-column cells
    w = [1] * n_cols
    for row in rows:
        c = 0
        for cell in row:
            text, span = (cell if isinstance(cell, tuple) else (cell, 1))
            if span == 1:
                for ln in str(text).split("\n"):
                    w[c] = max(w[c], len(ln) + 2)
            c += span
    lines = []

    def border(row_idx: int) -> str:
        # '-' at internal joints covered by the row below's colspans
        out = ["+"]
        if row_idx < len(rows):
            spans = []
            c = 0
            for cell in rows[row_idx]:
                _t, span = (
                    cell if isinstance(cell, tuple) else (cell, 1)
                )
                spans.append((c, c + span))
                c += span
        else:
            spans = [(i, i + 1) for i in range(n_cols)]
        for c in range(n_cols):
            out.append("-" * w[c])
            internal = any(a < c + 1 < b for a, b in spans)
            out.append("-" if internal and c + 1 < n_cols else "+")
        return "".join(out)

    for ri, row in enumerate(rows):
        rowspan_cont = (
            isinstance(row[0], str) and row[0] == "" and ri > 0
            and len(row) == n_cols
        )
        b = border(ri)
        if rowspan_cont:
            # the border ABOVE a continuation band opens over the
            # spanned first column: '+' corners survive, the dashes
            # between them become spaces
            b = "+" + " " * w[0] + b[w[0] + 1:]
        lines.append(b)
        # content lines
        cell_lines = []
        c = 0
        for cell in row:
            text, span = (cell if isinstance(cell, tuple) else (cell, 1))
            width = sum(w[c : c + span]) + (span - 1)
            cell_lines.append((str(text).split("\n"), width))
            c += span
        height = max(len(ls) for ls, _ in cell_lines)
        for li in range(height):
            parts = ["|"]
            for ls, width in cell_lines:
                body = ls[li] if li < len(ls) else ""
                parts.append(" " + body.ljust(width - 1))
                parts.append("|")
            lines.append("".join(parts))
    lines.append(border(len(rows)))
    return "\n".join(lines) + "\n"


RST_VARIANT_TABLES = {
    0: _rst_grid_table([
        ["id", "name", "value"],
        ["1", "alpha", "10"],
        ["2", "beta", "20"],
        ["3", "gamma", "30"],
    ]),
    1: _rst_grid_table([
        ["id", "score", "tags", "memo"],
        ["1", "10", "a、b", "済"],
        ["2", "-", "c", "　字下げ"],
        ["3", "30以上", "d", "済"],
    ]),
    2: (
        _rst_grid_table([["home", "about"]])
        + "\n"
        + _rst_grid_table([
            [("注: このデータは速報値", 3)],
            ["item", "q1", "q2"],
            ["①新規", "5", "7"],
            ["継続\n更新", "6", "8"],
            ["小計", "11", "15"],
            ["", "9", "9"],       # rowspan continuation of 小計
        ])
    ),
}


def rst_variant_doc(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic Sphinx page: per-document prose around
    the fixed per-variant grid table(s) — the RST twin of
    ``variant_page``."""
    v = int(doc_id) % 3
    prose = " ".join(
        (text or "")
        .replace("*", " ").replace("`", " ").replace("|", " ")
        .replace("+", " ").replace(":", " ").replace(".", " ")
        .split()
    )
    return (
        f"page {doc_id}\n===========\n\n{prose or 'prose'}\n\n"
        f"{RST_VARIANT_TABLES[v]}\n"
        "generated fixture page\n"
    ).encode("utf-8")


# AsciiDoc twins of VARIANT_TABLES: psv tables whose cell specs
# (``3+|`` colspan, ``.2+|`` rowspan) and continuation lines express
# the same spans and in-cell line breaks as the HTML variants, so the
# adoc parser must densify to byte-identical grids and the verdict
# literals are shared verbatim.
ADOC_VARIANT_TABLES = {
    0: (
        "|===\n| id | name | value\n\n| 1 | alpha | 10\n\n"
        "| 2 | beta | 20\n\n| 3 | gamma | 30\n|===\n"
    ),
    1: (
        "|===\n| id | score | tags | memo\n\n"
        "| 1 | 10 | a、b | 済\n\n"
        "| 2 | - | c | 　字下げ\n\n"
        "| 3 | 30以上 | d | 済\n|===\n"
    ),
    2: (
        "|===\n| home | about\n|===\n"
        "\n"
        "|===\n3+|注: このデータは速報値\n\n"
        "| item | q1 | q2\n\n"
        "| ①新規 | 5 | 7\n\n"
        "| 継続\n更新 | 6 | 8\n\n"
        ".2+| 小計 | 11 | 15\n| 9 | 9\n|===\n"
    ),
}


def adoc_variant_doc(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic manual page: per-document prose around
    the fixed per-variant psv table(s) — the AsciiDoc twin of
    ``variant_page``."""
    v = int(doc_id) % 3
    prose = " ".join(
        (text or "")
        .replace("|", " ").replace("*", " ").replace("`", " ")
        .replace("=", " ").replace("_", " ").replace(".", " ")
        .split()
    )
    return (
        f"= page {doc_id}\n\n{prose or 'prose'}\n\n"
        f"{ADOC_VARIANT_TABLES[v]}\n"
        "generated fixture page\n"
    ).encode("utf-8")


# Fixed-width plain-text twins of VARIANT_TABLES, authored as grids
# and rendered by core/fwtext.render_fw_table (display-cell-aware
# space alignment + a dashed ruler).  Fixed width cannot express
# col/row spans or in-cell breaks: merged regions are empty filler
# cells and the in-cell-break cell uses its single-line form
# ("継続 更新" with a space) — so variants 0/1 densify byte-equal to
# the HTML grids while variant 2's verdicts are pinned separately
# (one-cell difference; tests/test_fwtext.py re-derives them through
# the battery).
FW_VARIANT_GRIDS = {
    0: [
        ["id", "name", "value"],
        ["1", "alpha", "10"],
        ["2", "beta", "20"],
        ["3", "gamma", "30"],
    ],
    1: [
        ["id", "score", "tags", "memo"],
        ["1", "10", "a、b", "済"],
        ["2", "-", "c", "　字下げ"],
        ["3", "30以上", "d", "済"],
    ],
    2: [
        ["注: このデータは速報値", "", ""],
        ["item", "q1", "q2"],
        ["①新規", "5", "7"],
        ["継続 更新", "6", "8"],
        ["小計", "11", "15"],
        ["", "9", "9"],
    ],
}


def fw_variant_doc(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic terminal-dump page: per-document prose
    around the fixed per-variant aligned table — the plain-text twin of
    ``variant_page``."""
    from ..core.fwtext import render_fw_table

    v = int(doc_id) % 3
    prose = " ".join((text or "").split()) or "prose"
    return (
        f"report page {doc_id}\n\n{prose}\n\n"
        f"{render_fw_table(FW_VARIANT_GRIDS[v])}\n"
        "generated fixture page\n"
    ).encode("utf-8")


# Org-mode twins of VARIANT_TABLES.  Org tables cannot express
# col/row spans, so — exactly like the GFM pipe-table twins — merged
# regions are authored as explicit empty filler cells; the in-cell
# hard break is Org's forced-line-break markup ``\\\\`` which the
# parser renders as an embedded newline like <br>.  Grids densify
# byte-identically to the HTML variants, so the verdict literals are
# shared verbatim.
ORG_VARIANT_TABLES = {
    0: (
        "| id | name | value |\n"
        "|----+------+-------|\n"
        "| 1 | alpha | 10 |\n"
        "| 2 | beta | 20 |\n"
        "| 3 | gamma | 30 |\n"
    ),
    1: (
        "| id | score | tags | memo |\n"
        "|----+-------+------+------|\n"
        "| 1 | 10 | a、b | 済 |\n"
        "| 2 | - | c | 　字下げ |\n"
        "| 3 | 30以上 | d | 済 |\n"
    ),
    2: (
        "| home | about |\n"
        "\n"
        "| 注: このデータは速報値 | | |\n"
        "|------+----+----|\n"
        "| item | q1 | q2 |\n"
        "| ①新規 | 5 | 7 |\n"
        "| 継続 \\\\ 更新 | 6 | 8 |\n"
        "| 小計 | 11 | 15 |\n"
        "| | 9 | 9 |\n"
    ),
}


def org_variant_doc(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic Org page: per-document prose around the
    fixed per-variant table(s) — the Org-mode twin of ``variant_page``."""
    v = int(doc_id) % 3
    prose = " ".join(
        (text or "")
        .replace("|", " ").replace("*", " ").replace("/", " ")
        .replace("=", " ").replace("~", " ").replace("[", " ")
        .replace("]", " ").replace("#", " ").replace(":", " ")
        .split()
    )
    return (
        f"#+TITLE: page {doc_id}\n\n{prose or 'prose'}\n\n"
        f"{ORG_VARIANT_TABLES[v]}\n"
        "generated fixture page\n"
    ).encode("utf-8")


# Word-97 twins of VARIANT_TABLES: authored with the .doc fixture
# writer's (text, colspan, rowspan) cell specs, which serialize to TC80
# merge flags in each row's sprmTDefTable — so the binary-Word parser
# must walk the piece table, FKP pages AND the TAP to densify to the
# byte-identical grids, and the verdict literals are shared verbatim
# with the HTML lane.  In-cell hard breaks are the vertical tab 0x0b
# (Word's Shift+Enter), which grid cells render as "\n" like <br>.
DOC_VARIANT_BLOCKS = {
    0: [
        ("table", [
            ["id", "name", "value"],
            ["1", "alpha", "10"],
            ["2", "beta", "20"],
            ["3", "gamma", "30"],
        ]),
    ],
    1: [
        ("table", [
            ["id", "score", "tags", "memo"],
            ["1", "10", "a、b", "済"],
            ["2", "-", "c", "　字下げ"],
            ["3", "30以上", "d", "済"],
        ]),
    ],
    2: [
        ("table", [["home", "about"]]),
        ("para", "navigation strip above; data table follows"),
        ("table", [
            [("注: このデータは速報値", 3, 1)],
            ["item", "q1", "q2"],
            ["①新規", "5", "7"],
            ["継続\x0b更新", "6", "8"],
            [("小計", 1, 2), "11", "15"],
            ["9", "9"],
        ]),
    ],
}


def doc_variant_doc(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic Word-97 report: per-document prose
    around the fixed per-variant table(s) — the binary-.doc twin of
    ``variant_page``."""
    from ..core.doc import write_doc

    v = int(doc_id) % 3
    prose = " ".join(
        "".join(ch for ch in (text or "") if ch >= " ").split()
    )
    blocks = [
        ("heading", 1, f"page {doc_id}"),
        ("para", prose or "prose"),
        *DOC_VARIANT_BLOCKS[v],
        ("para", "generated fixture page"),
    ]
    return write_doc(blocks)


def variant_page(doc_id: int, text: str) -> bytes:
    """Deterministic synthetic crawled page: per-document prose (escaped
    corpus text) around the fixed per-variant table(s)."""
    esc = (
        (text or "")
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )
    v = int(doc_id) % 3
    return (
        f"<html><head><title>page {doc_id}</title></head><body>"
        f"<p>{esc}</p>{VARIANT_TABLES[v]}"
        f"<footer><p>generated fixture page</p></footer></body></html>"
    ).encode("utf-8")
