"""Cell-level scalar functions and shared vocabularies.

Re-implements the reference's cell predicates (SURVEY.md §2.3, F1–F12) from
their observed behavior:

- A1 addressing helpers       — reference ``level1_checker.py:15-42``
- deterministic sort key      — reference ``level1_checker.py:23-34``
- platform-dependent chars    — reference ``level1_checker.py:93-95``
- clean-numeric test          — reference ``level1_checker.py:98-110``
- free-text marker pattern    — reference ``level1_checker.py:113-134``
- missing-value vocabulary    — reference ``level1_checker.py:137-174``
- multi-value cell pattern    — reference ``level1_checker.py:743``
- unclear-header test         — reference ``level1_checker.py:885-899``

Everything here is pure stdlib and is deterministic.
"""

from __future__ import annotations

import math
import re
from typing import Any, Tuple

# ---------------------------------------------------------------- A1 helpers


def col_to_num(col_str: str) -> int:
    """Excel column letters -> 1-based number ('A'->1, 'AA'->27)."""
    num = 0
    for ch in col_str:
        num = num * 26 + (ord(ch.upper()) - ord("A")) + 1
    return num


def col_letter(n: int) -> str:
    """1-based column number -> Excel letters (1->'A', 27->'AA')."""
    out = ""
    while n > 0:
        n, r = divmod(n - 1, 26)
        out = chr(65 + r) + out
    return out


_A1_RE = re.compile(r"([A-Z]+)(\d+)")
_COLROW_RE = re.compile(r"列\s*([A-Z]+)\s*行\s*(\d+)")


def a1_sort_key(cell_str: str) -> Tuple[int, int]:
    """(row, col) sort key extracted from a finding string.

    Handles both "A1: ..." and "列A 行12: ..." shapes; unparseable strings
    sort last — same contract as the reference's ``get_sort_key``.
    """
    m = _A1_RE.search(cell_str)
    if m:
        col, row = m.groups()
        return (int(row), col_to_num(col))
    m2 = _COLROW_RE.search(cell_str)
    if m2:
        col, row = m2.groups()
        return (int(row), col_to_num(col))
    return (99999, 99999)


# ------------------------------------------------------------- predicates

# Platform/vendor-dependent characters (circled digits, roman numerals,
# squared CJK, etc.) — the exact class the reference flags.
PLATFORM_CHARS_PATTERN = r"[①-⑳⓪-⓿Ⅰ-Ⅻ㊤㊥㊦㊧㊨㈱㈲㈹℡〒〓※]"
_PLATFORM_RE = re.compile(PLATFORM_CHARS_PATTERN)

# A cell holding more than one datum: newline / comma / semicolon / slash.
MULTI_VALUE_PATTERN = r"[\n,;/]"
_MULTI_VALUE_RE = re.compile(MULTI_VALUE_PATTERN)

_NON_NUMERIC_CHAR_RE = re.compile(r"[^\d.\-]")


def detect_platform_characters(text: str) -> bool:
    return _PLATFORM_RE.search(text) is not None


def is_clean_numeric(val: Any) -> bool:
    """True for real numbers and for strings that parse as float using only
    ``[0-9.\\-]`` characters (so '1,000' and '¥100' are NOT clean)."""
    if isinstance(val, bool):
        # bools are ints in Python; the reference admits them via isinstance
        return True
    if isinstance(val, (int, float)):
        return True
    if isinstance(val, str):
        s = val.strip()
        if _NON_NUMERIC_CHAR_RE.search(s):
            return False
        try:
            float(s)
            return True
        except ValueError:
            return False
    return False


# Japanese free-text column markers (その他:, 備考:, コメント:, …).
FREE_TEXT_PATTERN = re.compile(
    r"""
    ^\s*(?:
        (?:その他|そのほか)\s*[:：\-\–\/]           |
        (?:その他|そのほか)\s*[\(（].+?[\)）]       |
        コメント\s*[:：]                            |
        自由記述\s*[:：]                            |
        詳細\s*[:：]                                |
        備考\s*[:：]                                |
        補足\s*[:：]                                |
        感想\s*[:：]                                |
        意見\s*[:：]                                |
        メモ\s*[:：]                                |
        特記事項\s*[:：]                            |
        注釈\s*[:：]                                |
        自己PR\s*[:：]                              |
        フリーテキスト\s*[:：]                      |
        フリー回答\s*[:：]
    )
""",
    re.VERBOSE,
)
# Every FREE_TEXT_PATTERN match contains one of these words, so a text
# holding none of them holds no free-text marker (the checks' cheap
# prefilter; keep the two in step).
FREE_TEXT_KEYWORDS_RE = re.compile(
    "その他|そのほか|コメント|自由記述|詳細|備考|補足|感想|意見|メモ|特記事項"
    "|注釈|自己PR|フリーテキスト|フリー回答"
)

# 36-entry missing-value vocabulary; matching is strip().lower() ∈ set.
MISSING_VALUE_EXPRESSIONS = [
    "不明", "不詳", "…", "無記入", "無回答", "該当なし", "なし", "無し",
    "n/a", "na", "nan", "未定", "未記入", "未入力", "未回答", "記載なし",
    "対象外", "空欄", "空白", "不在", "特になし", "---", "--", "-", "ー",
    "―", "？", "?", "わからない", "わかりません", "なし（特記なし）",
    "無し（詳細不明）", "無効", "省略", "null", "none",
]
MISSING_VALUE_SET = {x.strip().lower() for x in MISSING_VALUE_EXPRESSIONS}

FULL_WIDTH_SPACE = "　"

_UNCLEAR_DIGITS_RE = re.compile(r"\d+")
_UNCLEAR_SYMBOLS_RE = re.compile(r"[\W_]+")
_UNCLEAR_SHORTCODE_RE = re.compile(r"[A-Za-z](\d)?")


def is_unclear_header(name: str) -> bool:
    """Unclear column header: empty / single char / digits-only /
    symbols-only / short latin code like 'A', 'B1'."""
    s = name.strip()
    if s == "":
        return True
    if len(s) <= 1:
        return True
    if _UNCLEAR_DIGITS_RE.fullmatch(s):
        return True
    if _UNCLEAR_SYMBOLS_RE.fullmatch(s):
        return True
    if _UNCLEAR_SHORTCODE_RE.fullmatch(s):
        return True
    return False


# ----------------------------------------------------- canonical rendering


def render_cell(val: Any) -> str:
    """Deterministic string rendering of a grid cell.

    Pins the float-vs-int representation so span text is identical across
    pandas versions / partitionings: integral floats render without '.0'
    when they came from numeric parsing, NaN/None render ''.
    """
    if val is None:
        return ""
    if isinstance(val, float):
        if math.isnan(val):
            return ""
        if val.is_integer() and abs(val) < 1e15:
            return str(int(val))
        return repr(val)
    return str(val)


def is_likely_long_format(columns: list, n_cols: int) -> bool:
    """Long-format (tidy) table heuristic: >=10 columns including the
    ID/variable/value triple."""
    if n_cols < 10:
        return False
    return {"ID", "変数名", "値"}.issubset({str(c) for c in columns})
