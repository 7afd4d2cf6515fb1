"""LaTeX source lane: article-style .tex → ordered span triples +
tabular grids, dependency-free and deterministic.

LaTeX is the native format of the scientific-paper corpora (arXiv
alone ships millions of .tex sources), and its content model maps
cleanly onto the interleaved span schema: sectioning → headings,
prose → main, verbatim/listings → code, display math → ``math``
spans (math is CONTENT for a training corpus — the TeX source is
kept verbatim), ``\\includegraphics`` → media spans, figure/table
captions → ``caption`` spans carrying the sibling graphic's path as
their media_ref (the caption-to-media alignment the multimodal
family mines from HTML), and ``tabular`` environments → dense grids
that feed the SAME 22-rule battery as CSV/HTML/PDF/MD tables.

From-scratch structural scanner over the published TeX/LaTeX syntax
(texbook macro grammar; the amsmath/graphicx user-level commands) —
NOT a port of pandoc or plasTeX, and deliberately a SUBSET: no macro
expansion, no TeX programming; unknown commands degrade by keeping
their braced arguments' text (the permissive fallback), with a
known-drop list for pure-layout commands.  Grammar notes:

- comments: unescaped ``%`` to end of line (``\\%`` is a literal);
- body = ``\\begin{document}..\\end{document}`` when present (preamble
  contributes only ``\\title{..}``), else the whole text (fragment);
- ``\\title{X}`` → the document's ``title`` span (emitted first, at
  ``\\maketitle`` position or document start); sectioning commands
  (``\\part \\chapter \\section \\subsection \\subsubsection
  \\paragraph``, starred forms, optional short titles) → ``heading``;
- paragraphs split on blank lines; inline markup unwraps iteratively
  (``\\emph \\textbf \\textit \\texttt \\textsc \\underline \\mbox
  \\textcolor`` …), ``\\cite/\\ref/\\label``-family drops,
  ``\\footnote{x}`` inlines as ``(x)``, ``~`` → space, TeX escapes
  (``\\% \\& \\_ \\# \\$ \\{ \\}``) unescape, ``--``/``---`` →
  en/em dash, INLINE math (``$..$``/``\\(..\\)``) stays verbatim in
  the paragraph text;
- environments: ``verbatim/lstlisting/minted`` → ``code`` (content
  verbatim, never inline-cleaned); ``equation/align/gather/multline/
  displaymath/eqnarray`` (+ starred) and ``$$..$$``/``\\[..\\]`` →
  ``math``; ``itemize/enumerate/description`` → one ``main`` span per
  ``\\item`` (nesting flattened, matching the md lane's list rule);
  ``figure/table`` → recurse (graphics, caption, tabular inside);
  ``abstract/center/quote/quotation/flushleft/flushright`` →
  transparent; unknown environments → transparent (content flows);
- ``tabular``/``tabularx``/``longtable``: rows on ``\\\\``, cells on
  unescaped ``&``, rules (``\\hline \\toprule \\midrule \\bottomrule
  \\cline``) stripped, ``\\multicolumn{n}{a}{x}`` → x + n−1 empty
  filler cells (span expansion, same convention as the HTML/ODS grid
  lanes), rows padded to the widest row; cell texts also flow into
  the span stream one ``main`` span per cell (the HTML-lane
  linearization rule).

No reference analog (the reference reads spreadsheets only,
``src/processor/loader.py:157-201``); the lane exists for the
training-data pipeline mandate.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

Triple = Tuple[str, str, str]

_COMMENT_RE = re.compile(r"(?<!\\)%[^\n]*")
_SECTION_RE = re.compile(
    r"\\(part|chapter|section|subsection|subsubsection|paragraph)\*?"
    r"(?:\[[^\]]*\])?\s*\{"
)
_BEGIN_RE = re.compile(r"\\begin\s*\{([A-Za-z*]+)\}")
_GRAPHICS_RE = re.compile(r"\\includegraphics\s*(?:\[[^\]]*\])?\s*\{([^}]*)\}")
_ITEM_RE = re.compile(r"\\item\b(?:\[[^\]]*\])?")
_RULE_CMD_RE = re.compile(
    r"\\(hline|toprule|midrule|bottomrule|cline\s*\{[^}]*\}|"
    r"arrayrulecolor\s*\{[^}]*\})"
)

_VERBATIM_ENVS = {"verbatim", "verbatim*", "lstlisting", "minted"}
_MATH_ENVS = {
    "equation", "equation*", "align", "align*", "gather", "gather*",
    "multline", "multline*", "displaymath", "eqnarray", "eqnarray*",
}
_LIST_ENVS = {"itemize", "enumerate", "description"}
_TABULAR_ENVS = {"tabular", "tabular*", "tabularx", "longtable"}
_FLOAT_ENVS = {"figure", "figure*", "table", "table*"}

# formatting wrappers: \cmd{x} → x (applied iteratively for nesting)
_UNWRAP_CMDS = (
    "emph|textbf|textit|texttt|textsc|textsf|textrm|textup|textmd|"
    "underline|uline|mbox|hbox|text|textnormal|textsl|lowercase|"
    "uppercase|MakeUppercase|MakeLowercase"
)
_UNWRAP_RE = re.compile(r"\\(?:%s)\s*\{([^{}]*)\}" % _UNWRAP_CMDS)
# two-arg commands where the LAST argument is the content
_UNWRAP2_RE = re.compile(r"\\(?:textcolor|colorbox)\s*\{[^{}]*\}\s*\{([^{}]*)\}")
# pure-reference / pure-layout commands: drop with their arguments
_DROP_ARG_RE = re.compile(
    r"\\(?:cite[tp]?\*?|citeauthor|citeyear|ref|eqref|pageref|autoref|"
    r"cref|Cref|label|vspace\*?|hspace\*?|hphantom|vphantom|phantom|"
    r"includegraphics|bibliographystyle|bibliography|input|include|"
    r"usepackage|documentclass|setlength|rule|caption|captionof)"
    r"\s*(?:\[[^\]]*\])?\s*\{[^{}]*\}"
)
_DROP_BARE_RE = re.compile(
    r"\\(?:maketitle|tableofcontents|listoffigures|listoftables|"
    r"newpage|clearpage|pagebreak|linebreak|nolinebreak|nopagebreak|"
    r"centering|raggedright|raggedleft|noindent|indent|par|smallskip|"
    r"medskip|bigskip|hfill|vfill|footnotesize|scriptsize|tiny|small|"
    r"normalsize|large|Large|LARGE|huge|Huge|itshape|bfseries|ttfamily|"
    r"rmfamily|sffamily|upshape|mdseries|scshape|displaystyle|"
    r"protect|relax|leavevmode|ignorespaces|/)\b"
)
_FOOTNOTE_RE = re.compile(r"\\footnote\s*\{([^{}]*)\}")
_VERB_RE = re.compile(r"\\verb\*?(.)(.*?)\1")
_ESCAPES = (
    ("\\%", "%"), ("\\&", "&"), ("\\_", "_"), ("\\#", "#"),
    ("\\$", "\x00D"), ("\\{", "{"), ("\\}", "}"), ("\\,", " "),
    ("\\;", " "), ("\\!", ""), ("\\quad", " "), ("\\qquad", " "),
    ("\\ ", " "), ("\\\n", " "), ("\\ldots", "…"), ("\\dots", "…"),
    ("\\LaTeX", "LaTeX"), ("\\TeX", "TeX"),
)


def _find_brace_arg(text: str, open_idx: int) -> Tuple[str, int]:
    """text[open_idx] == '{' → (content, index after closing brace),
    honoring nesting and backslash escapes."""
    depth = 0
    i = open_idx
    n = len(text)
    while i < n:
        c = text[i]
        if c == "\\" and i + 1 < n:
            i += 2
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return text[open_idx + 1:i], i + 1
        i += 1
    return text[open_idx + 1:], n  # unbalanced: rest of text


def _strip_comments(text: str) -> str:
    return _COMMENT_RE.sub("", text)


_VERB_PROTECT_RE = re.compile(
    r"\\begin\s*\{(verbatim\*?|lstlisting|minted)\}(.*?)\\end\s*\{\1\}",
    re.DOTALL,
)


def _protect_verbatim(text: str) -> Tuple[str, List[str]]:
    """Replace verbatim-env bodies and \\verb arguments with opaque
    placeholders BEFORE comment stripping — a ``%`` inside verbatim is
    literal content, not a comment.  Placeholders are restored into
    the finished span texts."""
    store: List[str] = []

    def _env(m: "re.Match[str]") -> str:
        store.append(m.group(2))
        return "\\begin{%s}\x00B%d\x00\\end{%s}" % (
            m.group(1), len(store) - 1, m.group(1)
        )

    def _verb(m: "re.Match[str]") -> str:
        store.append(m.group(2))
        return "\\verb%s\x00B%d\x00%s" % (
            m.group(1), len(store) - 1, m.group(1)
        )

    text = _VERB_PROTECT_RE.sub(_env, text)
    text = _VERB_RE.sub(_verb, text)
    return text, store


def _restore_verbatim(text: str, store: List[str]) -> str:
    return re.sub(
        "\x00B(\\d+)\x00", lambda m: store[int(m.group(1))], text
    )


def _clean_inline(text: str) -> str:
    """Inline cleanup for prose (NOT applied to verbatim/math)."""
    # \verb|..| content is literal: mask before command processing
    masked: List[str] = []

    def _mask(m: "re.Match[str]") -> str:
        masked.append(m.group(2))
        return "\x00V%d\x00" % (len(masked) - 1)

    text = _VERB_RE.sub(_mask, text)
    # inline math is literal content too: mask $..$ and \(..\)
    def _mask_math(m: "re.Match[str]") -> str:
        masked.append(m.group(0))
        return "\x00V%d\x00" % (len(masked) - 1)

    text = re.sub(r"\$[^$]+\$", _mask_math, text)
    text = re.sub(r"\\\((?:[^\\]|\\[^)])*?\\\)", _mask_math, text)
    text = _FOOTNOTE_RE.sub(lambda m: " (%s)" % m.group(1).strip(), text)
    # \newline (in-cell hard break) survives the whitespace collapse as
    # a placeholder — the twin of HTML's <br> / GFM's <br> cell breaks
    # (a control word consumes its trailing whitespace, TeX tokenizer
    # rule — so ``a\newline b`` breaks directly before ``b``)
    text = re.sub(r"\\newline(?![A-Za-z])\s*", "\x00N", text)
    for _ in range(4):  # nesting depth for wrapper unwrapping
        new = _UNWRAP_RE.sub(r"\1", text)
        new = _UNWRAP2_RE.sub(r"\1", new)
        new = _DROP_ARG_RE.sub("", new)
        if new == text:
            break
        text = new
    text = _DROP_BARE_RE.sub("", text)
    for src, dst in _ESCAPES:
        text = text.replace(src, dst)
    text = text.replace("---", "—").replace("--", "–")
    text = text.replace("``", "\u201c").replace("''", "\u201d")
    text = text.replace("~", " ")
    # unknown \cmd{arg} fallback: keep the argument text
    text = re.sub(r"\\[A-Za-z@]+\s*(?:\[[^\]]*\])?\s*\{([^{}]*)\}", r"\1", text)
    # leftover bare unknown commands drop
    text = re.sub(r"\\[A-Za-z@]+\s*", " ", text)
    text = text.replace("{", "").replace("}", "")
    for i, v in enumerate(masked):
        text = text.replace("\x00V%d\x00" % i, v)
    text = text.replace("\x00D", "$")
    # ASCII whitespace ONLY collapses: full-width spaces (U+3000) are
    # CONTENT the rule battery detects (F9), never separators
    text = re.sub(r"[ \t\f\v\r\n]+", " ", text).strip(" \t\f\v\r\n")
    text = text.replace("\x00N", "\n")
    # dropped references leave a stray space before punctuation
    return re.sub(r" ([,.;:!?)])", r"\1", text)


def _split_tabular_rows(body: str) -> List[List[str]]:
    body = _RULE_CMD_RE.sub("", body)
    rows: List[List[str]] = []
    for raw_row in re.split(r"\\\\(?:\s*\[[^\]]*\])?", body):
        if not raw_row.strip():
            continue
        cells: List[str] = []
        cur: List[str] = []
        i, n = 0, len(raw_row)
        depth = 0
        while i < n:
            c = raw_row[i]
            if c == "\\" and i + 1 < n and raw_row[i + 1] in "&\\":
                cur.append(raw_row[i:i + 2])
                i += 2
                continue
            if c == "{":
                depth += 1
            elif c == "}":
                depth -= 1
            if c == "&" and depth == 0:
                cells.append("".join(cur))
                cur = []
            else:
                cur.append(c)
            i += 1
        cells.append("".join(cur))
        out: List[str] = []
        for cell in cells:
            m = re.match(
                r"\s*\\multicolumn\s*\{(\d+)\}\s*\{[^}]*\}\s*\{", cell
            )
            if m:
                content, _ = _find_brace_arg(cell, m.end() - 1)
                out.append(_clean_inline(content))
                out.extend([""] * (int(m.group(1)) - 1))
            else:
                out.append(_clean_inline(cell.replace("\\&", "&")))
        if any(c for c in out):
            rows.append(out)
    width = max((len(r) for r in rows), default=0)
    return [r + [""] * (width - len(r)) for r in rows]


def _doc_body(text: str) -> Tuple[str, Optional[str]]:
    """(body, title): body between \\begin{document}..\\end{document}
    when present; title captured from \\title{..} anywhere."""
    title = None
    m = re.search(r"\\title\s*(?:\[[^\]]*\])?\s*\{", text)
    if m:
        raw, _ = _find_brace_arg(text, m.end() - 1)
        raw = re.sub(r"\\thanks\s*\{[^{}]*\}", "", raw)
        title = _clean_inline(raw) or None
    mb = re.search(r"\\begin\s*\{document\}", text)
    if mb:
        me = re.search(r"\\end\s*\{document\}", text)
        body = text[mb.end(): me.start() if me else len(text)]
    else:
        body = text
    return body, title


def _emit_paragraphs(chunk: str, spans: List[Triple]) -> None:
    for para in re.split(r"\n\s*\n", chunk):
        clean = _clean_inline(para)
        if clean:
            spans.append(("main", clean, ""))


def _float_spans(body: str, spans: List[Triple]) -> None:
    """figure/table environment, SOURCE order preserved: graphics →
    media, caption → caption (ref = the float's first graphic),
    tabular → grid cells."""
    graphics = _GRAPHICS_RE.findall(body)
    ref = graphics[0] if graphics else ""
    events: List[Tuple[int, str, object]] = []
    for m in _GRAPHICS_RE.finditer(body):
        events.append((m.start(), "media", m.group(1)))
    for m in re.finditer(r"\\caption\s*(?:\[[^\]]*\])?\s*\{", body):
        content, _ = _find_brace_arg(body, m.end() - 1)
        events.append((m.start(), "caption", content))
    for m in _BEGIN_RE.finditer(body):
        if m.group(1) in _TABULAR_ENVS:
            close = re.search(
                r"\\end\s*\{%s\}" % re.escape(m.group(1)), body[m.end():]
            )
            inner = body[m.end(): m.end() + close.start()] if close \
                else body[m.end():]
            events.append((m.start(), "tabular", inner))
    for _pos, etype, payload in sorted(events, key=lambda e: e[0]):
        if etype == "media":
            spans.append(("media", "", str(payload)))
        elif etype == "caption":
            clean = _clean_inline(str(payload))
            if clean:
                spans.append(("caption", clean, ref))
        else:
            for row in _split_tabular_rows(
                _strip_tabular_spec(str(payload))
            ):
                for cell in row:
                    if cell:
                        spans.append(("main", cell, ""))


def _strip_tabular_spec(inner: str) -> str:
    """Drop the column-spec argument (and tabular*'s width arg)."""
    i = 0
    n = len(inner)
    args = 0
    while i < n and args < 2:
        while i < n and inner[i] in " \t\n":
            i += 1
        if i < n and inner[i] == "{":
            _, j = _find_brace_arg(inner, i)
            spec = inner[i + 1:j - 1]
            i = j
            args += 1
            # the column spec is letters/bars/@-exprs; a width arg is a
            # dimension — either way it's an argument, not content
            if re.fullmatch(r"[lcrpmbX|@{}.\d\\a-zA-Z*\s]*", spec):
                continue
            return spec + inner[i:]
        break
    return inner[i:]


def _env_iter(text: str, names) -> List[Tuple[str, str]]:
    """Non-nested scan for \\begin{env}..\\end{env} of the given names."""
    out = []
    for m in _BEGIN_RE.finditer(text):
        env = m.group(1)
        if env not in names:
            continue
        close = re.search(
            r"\\end\s*\{%s\}" % re.escape(env), text[m.end():]
        )
        if close:
            out.append((env, text[m.end(): m.end() + close.start()]))
    return out


def extract_latex_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    """LaTeX bytes → ordered (kind, text, media_ref) triples."""
    try:
        text = content.decode("utf-8", errors="replace")
        text = text.replace("\r\n", "\n").replace("\r", "\n")
        text, store = _protect_verbatim(text)
        text = _strip_comments(text)
        body, title = _doc_body(text)
        spans: List[Triple] = []
        if title:
            spans.append(("title", title, ""))
        _walk_blocks(body, spans)
        if store:
            spans = [
                (
                    k,
                    _restore_verbatim(t, store).strip("\n")
                    if k == "code"
                    else _restore_verbatim(t, store),
                    r,
                )
                for k, t, r in spans
            ]
        if not spans:
            return [], "latex parse failed: no content"
        return spans, None
    except Exception as e:  # defensive: never kill a batch
        return [], f"latex parse failed: {e}"


def _walk_blocks(body: str, spans: List[Triple]) -> None:
    i, n = 0, len(body)
    while i < n:
        ms = _SECTION_RE.search(body, i)
        mb = _BEGIN_RE.search(body, i)
        mm = re.compile(r"\$\$|\\\[").search(body, i)
        nxt = min(
            (m.start() for m in (ms, mb, mm) if m), default=n
        )
        if nxt > i:
            _emit_paragraphs(body[i:nxt], spans)
            i = nxt
            continue
        if ms and ms.start() == i:
            content, j = _find_brace_arg(body, ms.end() - 1)
            clean = _clean_inline(content)
            if clean:
                spans.append(("heading", clean, ""))
            i = j
            continue
        if mm and mm.start() == i:
            open_tok = mm.group(0)
            close_re = re.compile(
                r"\$\$" if open_tok == "$$" else r"\\\]"
            )
            mc = close_re.search(body, mm.end())
            end = mc.start() if mc else n
            math = body[mm.end(): end].strip()
            if math:
                spans.append(("math", math, ""))
            i = (mc.end() if mc else n)
            continue
        # an environment begins exactly here
        env = mb.group(1)  # type: ignore[union-attr]
        close = re.search(
            r"\\end\s*\{%s\}" % re.escape(env), body[mb.end():]
        )
        inner = body[mb.end(): mb.end() + (close.start() if close else n)]
        j = mb.end() + (close.end() if close else len(inner))
        if env in _VERBATIM_ENVS:
            code = inner
            if env == "minted":  # language argument
                cm = re.match(r"\s*\{[^}]*\}", code)
                if cm:
                    code = code[cm.end():]
            spans.append(("code", code.strip("\n"), ""))
        elif env in _MATH_ENVS:
            math = inner.strip()
            if math:
                spans.append(("math", math, ""))
        elif env in _LIST_ENVS:
            for item in _ITEM_RE.split(inner)[1:]:
                # nested env content inside the item flows recursively
                _walk_blocks_item(item, spans)
        elif env in _TABULAR_ENVS:
            for row in _split_tabular_rows(_strip_tabular_spec(inner)):
                for cell in row:
                    if cell:
                        spans.append(("main", cell, ""))
        elif env in _FLOAT_ENVS:
            _float_spans(inner, spans)
        else:
            # transparent environment (abstract/center/quote/unknown)
            _walk_blocks(inner, spans)
        i = j


def _walk_blocks_item(item: str, spans: List[Triple]) -> None:
    """One \\item's content: sub-environments recurse, plain text
    becomes a single main span (md-lane list convention)."""
    if _BEGIN_RE.search(item):
        _walk_blocks(item, spans)
        return
    clean = _clean_inline(item)
    if clean:
        spans.append(("main", clean, ""))


def extract_latex_tables(content: bytes) -> List[List[List[str]]]:
    """LaTeX bytes → dense rectangular tabular grids (inline markup
    stripped per cell, multicolumn span-expanded, rows padded)."""
    text = content.decode("utf-8", errors="replace")
    text, _store = _protect_verbatim(
        text.replace("\r\n", "\n").replace("\r", "\n")
    )
    text = _strip_comments(text)
    body, _ = _doc_body(text)
    return [
        g
        for _env, inner in _env_iter(body, _TABULAR_ENVS)
        if (g := _split_tabular_rows(_strip_tabular_spec(inner)))
    ]
