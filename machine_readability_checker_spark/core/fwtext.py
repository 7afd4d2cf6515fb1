"""Plain-text lane: paragraphs + FIXED-WIDTH table detection.

Plain text is the single most common format in a web crawl's long
tail (terminal dumps, READMEs, mail digests, data-dump exports), and
its tables arrive as whitespace-ALIGNED columns — the same printed
layout the PDF lane detects via x-alignment, expressed in character
cells instead of points.  This scanner is the plain-text sibling of
that printed-table audit:

- blocks of consecutive non-blank lines are candidate tables when the
  block shares at least one interior ALL-SPACE GUTTER of ≥2 columns
  across every line (the pandas ``read_fwf`` inference idea, from its
  published docs — not a port): lines split at the shared gutters,
  ASCII-trimmed cells, one grid column per gutter-separated run;
- all-dash/equals separator lines (``----  -----``, ``====``), the
  psql/pandas convention, are structure and skip — but they must
  still RESPECT the gutters (a ruler crossing a gutter breaks the
  block, exactly like a caption line would);
- blocks with no shared interior gutter, or fewer than 2 data rows,
  are prose: blank-line-separated paragraphs classify ``main`` /
  ``boilerplate`` by the shared length threshold;
- table rows emit as ``line`` spans (tab-joined) like every other
  table-bearing lane; grids flow into the shared 22-rule battery via
  ``operators.webtables.table_rule_results(df, "txt")``.

Fixed-width layout cannot express col/row spans or in-cell breaks, so
— like the GFM pipe-table lane — merged regions are authored as empty
filler cells (a cell whose columns are all spaces), and the variant
fixtures use a single-line form of the in-cell-break cell.

Gutter detection measures in DISPLAY cells, not code points: CJK and
other East-Asian-wide characters occupy two terminal columns
(``unicodedata.east_asian_width`` F/W), which is exactly how the
text was aligned by whoever formatted it.

Malformed input can only produce fewer spans, never an exception.
"""

from __future__ import annotations

import re
import unicodedata
from typing import List, Optional, Tuple

MIN_CONTENT_CHARS = 25  # shared with the HTML/MD block classifier

Triple = Tuple[str, str, str]

_RULER_RE = re.compile(r"^[\s\-=+]+$")
_MIN_GUTTER = 2
_MIN_ROWS = 2


def _cell_width(ch: str) -> int:
    return 2 if unicodedata.east_asian_width(ch) in ("F", "W") else 1


def _expand(line: str) -> List[str]:
    """Line → list of display cells ('' padding for the second cell of
    a wide char, so cell index == terminal column)."""
    cells: List[str] = []
    for ch in line:
        cells.append(ch)
        if _cell_width(ch) == 2:
            cells.append("")
    return cells


def _space_mask(lines: List[str]) -> List[bool]:
    """mask[i] = every line is a space (or past its end) at display
    column i, measured to the widest line."""
    grids = [_expand(ln) for ln in lines]
    width = max(len(g) for g in grids)
    mask = [True] * width
    for g in grids:
        for i, c in enumerate(g):
            # a wide char's padding cell ('') is occupied, not a gutter
            if c != " ":
                mask[i] = False
    return mask


def _gutters(mask: List[bool]) -> List[Tuple[int, int]]:
    """Interior all-space runs of ≥ _MIN_GUTTER display columns →
    [(start, end)) spans."""
    runs: List[Tuple[int, int]] = []
    i = 0
    n = len(mask)
    while i < n:
        if mask[i]:
            j = i
            while j < n and mask[j]:
                j += 1
            if i > 0 and j < n and j - i >= _MIN_GUTTER:
                runs.append((i, j))
            i = j
        else:
            i += 1
    return runs


def _split_at(line: str, cuts: List[Tuple[int, int]]) -> List[str]:
    g = _expand(line)
    cols: List[str] = []
    start = 0
    for c0, c1 in cuts:
        cols.append("".join(g[start:c0]))
        start = c1
    cols.append("".join(g[start:]))
    return [c.strip(" ") for c in cols]


def _block_table(lines: List[str]) -> Optional[List[List[str]]]:
    """A candidate block → dense grid, or None when it is prose."""
    data = [ln for ln in lines if not _RULER_RE.match(ln)]
    if len(data) < _MIN_ROWS:
        return None
    # rulers must respect the gutters too: include them in the mask so
    # a full-width ruler (no gutter) demotes the block to prose
    mask = _space_mask(lines)
    cuts = _gutters(mask)
    # false-positive guard: a run of spaces past a SHORT line's end is
    # not column structure (two-line prose with one short line would
    # otherwise "table").  A real gutter is crossed by most rows: keep
    # a cut only when ≥60% of data lines (min 2) extend past its end.
    lens = [len(_expand(ln)) for ln in data]
    need = max(2, (len(data) * 3 + 4) // 5)
    cuts = [
        (c0, c1) for c0, c1 in cuts
        if sum(1 for L in lens if L > c1) >= need
    ]
    if not cuts:
        return None
    return [_split_at(ln, cuts) for ln in data]


def extract_fw_blocks(
    content: bytes,
) -> Tuple[List[Triple], List[List[List[str]]]]:
    text = content.decode("utf-8", "replace")
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    text = text.expandtabs(8)  # terminal convention
    spans: List[Triple] = []
    grids: List[List[List[str]]] = []

    for raw_block in re.split(r"\n\s*\n", text):
        lines = [ln.rstrip() for ln in raw_block.split("\n") if ln.strip()]
        if not lines:
            continue
        grid = _block_table(lines) if len(lines) >= _MIN_ROWS else None
        if grid is not None:
            grids.append(grid)
            for row in grid:
                spans.append(("line", "\t".join(row), ""))
            continue
        par = " ".join(" ".join(ln.split(" ")).strip() for ln in lines)
        par = " ".join(p for p in par.split(" ") if p)
        if not par:
            continue
        if len(par) >= MIN_CONTENT_CHARS:
            spans.append(("main", par, ""))
        else:
            spans.append(("boilerplate", par, ""))
    return spans, grids


def extract_txt_spans(
    content: bytes,
) -> Tuple[List[Triple], Optional[str]]:
    try:
        spans, _grids = extract_fw_blocks(content)
        return spans, None
    except Exception as e:  # pragma: no cover — must quarantine
        return [], f"txt parse failed: {e}"


def extract_fw_tables(content: bytes) -> List[List[List[str]]]:
    try:
        _spans, grids = extract_fw_blocks(content)
        return grids
    except Exception:
        return []


def render_fw_table(grid: List[List[str]], gutter: int = 2) -> str:
    """Fixture writer: a dense grid → space-aligned fixed-width text
    (display-cell aware), with a dashed ruler under the first row."""
    widths = [0] * max(len(r) for r in grid)
    disp = lambda s: sum(_cell_width(c) for c in s)  # noqa: E731
    for row in grid:
        for i, cell in enumerate(row):
            widths[i] = max(widths[i], disp(cell), 1)
    lines = []
    for ri, row in enumerate(grid):
        out = []
        for i in range(len(widths)):
            cell = row[i] if i < len(row) else ""
            out.append(cell + " " * (widths[i] - disp(cell)))
        lines.append((" " * gutter).join(out).rstrip())
        if ri == 0:
            lines.append(
                (" " * gutter).join("-" * w for w in widths).rstrip()
            )
    return "\n".join(lines) + "\n"
