"""LaTeX lane (core/latex.py + tex table battery).

The driver-lane variant docs are pinned here byte-for-byte, so the
constructive `latex_extract` oracle and these tests can never drift
apart silently; the tex twin grids are proven identical to the HTML
variant grids so `tex_table_rules` shares that verdict oracle.
"""

from __future__ import annotations

from machine_readability_checker_spark.core.extract import extract_document
from machine_readability_checker_spark.core.latex import (
    extract_latex_spans,
    extract_latex_tables,
)


def _entry_variants():
    import __spark_entry__ as E

    return E._LATEX_VARIANT_DOCS, E._LATEX_VARIANT_SPANS


def test_variant_docs_match_pinned_spans():
    docs, expected = _entry_variants()
    assert len(docs) == len(expected) == 3
    for v, (doc, want) in enumerate(zip(docs, expected)):
        spans, err = extract_latex_spans(doc.encode("utf-8"))
        assert err is None, (v, err)
        assert spans == want, (v, spans)


def test_comments_strip_but_not_in_verbatim_or_escaped():
    tex = (
        "A line \\% escaped % real comment\n\n"
        "\\begin{verbatim}\n100% kept\n\\end{verbatim}\n"
        "And \\verb|50% too| inline. % gone\n"
    )
    spans, err = extract_latex_spans(tex.encode())
    assert err is None
    assert spans == [
        ("main", "A line % escaped", ""),
        ("code", "100% kept", ""),
        ("main", "And 50% too inline.", ""),
    ]


def test_inline_cleanup_matrix():
    tex = (
        "\\textbf{Bold \\emph{nested}} and \\texttt{mono}, "
        "cite\\cite{a,b}, ref Sec.~\\ref{s}, dash --- en -- "
        "quotes ``q'' tilde~x, esc \\$5 \\& 10\\_a \\#2.\n"
    )
    spans, _ = extract_latex_spans(tex.encode())
    assert spans == [(
        "main",
        "Bold nested and mono, cite, ref Sec., dash — en – "
        "quotes \u201cq\u201d tilde x, esc $5 & 10_a #2.",
        "",
    )]


def test_inline_math_survives_verbatim_masked():
    tex = "Given $a_1 < b_{2}$ and \\(x^2\\), done.\n"
    spans, _ = extract_latex_spans(tex.encode())
    assert spans == [("main", "Given $a_1 < b_{2}$ and \\(x^2\\), done.", "")]


def test_display_math_forms():
    tex = (
        "\\begin{align}\na &= b \\\\\nc &= d\n\\end{align}\n"
        "\\[ e = f \\]\n$$g$$\n"
    )
    spans, _ = extract_latex_spans(tex.encode())
    assert [s[0] for s in spans] == ["math", "math", "math"]
    assert spans[1][1] == "e = f" and spans[2][1] == "g"


def test_title_from_preamble_and_section_headings():
    tex = (
        "\\title{The\\thanks{x} Title}\n\\begin{document}\n"
        "\\maketitle\n\\section*{One}\nbody\n"
        "\\subsection[short]{Two Long}\nmore\n\\end{document}\n"
    )
    spans, _ = extract_latex_spans(tex.encode())
    assert spans == [
        ("title", "The Title", ""),
        ("heading", "One", ""),
        ("main", "body", ""),
        ("heading", "Two Long", ""),
        ("main", "more", ""),
    ]


def test_float_order_and_caption_media_alignment():
    tex = (
        "\\begin{figure}\n\\caption{Before}\n"
        "\\includegraphics{a.png}\n\\includegraphics{b.png}\n"
        "\\end{figure}\n"
    )
    spans, _ = extract_latex_spans(tex.encode())
    # source order: caption first, ref still points at first graphic
    assert spans == [
        ("caption", "Before", "a.png"),
        ("media", "", "a.png"),
        ("media", "", "b.png"),
    ]


def test_tabular_grid_multicolumn_padding_and_newline():
    tex = (
        "\\begin{tabular}{lrr}\n"
        "\\multicolumn{3}{c}{span head} \\\\\n"
        "a\\newline b & 1 \\\\\n"
        "x & 2 & 3 \\\\\n"
        "\\end{tabular}\n"
    )
    grids = extract_latex_tables(tex.encode())
    assert grids == [[
        ["span head", "", ""],
        ["a\nb", "1", ""],
        ["x", "2", "3"],
    ]]


def test_tex_grids_equal_html_variant_grids():
    """The shared-verdict-oracle precondition: tex twins densify to
    grids byte-identical to the HTML variant tables'."""
    import machine_readability_checker_spark.operators.webtables as WT

    class Row:
        def __init__(self, c):
            self.content = c
            self.doc_id = "0"

    for v in (0, 1, 2):
        tex = WT.tex_variant_doc(v, "prose & 100% _odd_ {chars}")
        tg = extract_latex_tables(tex)
        page = (
            "<html><body>" + WT.VARIANT_TABLES[v] + "</body></html>"
        ).encode()
        hg, err = WT._grids("html", Row(page))
        assert err is None
        assert tg == hg, (v, tg, hg)


def test_fragment_without_document_env():
    spans, err = extract_latex_spans(b"Just a paragraph.")
    assert err is None and spans == [("main", "Just a paragraph.", "")]


def test_quarantine_on_empty():
    spans, err = extract_latex_spans(b"% only comments\n")
    assert spans == [] and err is not None


def test_extract_document_dispatch():
    out = extract_document("d", "tex", b"\\section{S}\nText.\n")
    assert out["parse_error"] is None
    assert [s["kind"] for s in out["spans"]] == ["heading", "main"]


def test_fixture_family_roundtrip():
    import numpy as np

    from machine_readability_checker_spark.sources.fixtures import fam_latex

    d = fam_latex(np.random.RandomState(5), 9)
    assert d["fmt"] == "tex"
    out = extract_document("f", "tex", d["content"])
    assert out["parse_error"] is None
    kinds = [s["kind"] for s in out["spans"]]
    assert kinds == [
        "title", "heading", "main", "math", "code", "media", "caption",
        "main", "main", "main", "main", "main", "main",
    ]
    cap = [s for s in out["spans"] if s["kind"] == "caption"][0]
    assert cap["media_ref"] == "fig/9.png"
