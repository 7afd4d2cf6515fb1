"""Machine-readability rule checks (the reference's query set).

Re-implements, from observed behavior, every function in the reference's
``CHECK_FUNCTIONS`` registry (``src/checker/level1_checker.py:1030-1045``)
bound to the 15-rule catalog ``rules/level1.json:2-76``, plus the two
registry-only checks (numeric-column classifier, free-text-mix flagger).

Every check returns ``(passed: bool, message: str)`` — the reference's
uniform contract — and runs over the already-parsed document (grid +
workbook side-channel + zone context), so the expensive parse happens once
per document (the reference likewise loads the workbook once per run,
``app.py:156-167``).

Checks are vectorized with pandas/numpy where the reference used
``iterrows`` loops; outputs (including Japanese message strings, finding
order, sample caps and truncations) are preserved bit-for-bit because the
fixture oracle asserts on them.

Column profile.  The body is turned into one object array per document
(``_cells``/``_columns``), and each column whose every value is a ``str``
is factorized once (``_profiles``): codes, distinct values, and one text
of the distinct values joined by ``"\\x00"``, a character no check
pattern matches.  All three are cached in ``DataFrame.attrs``.

- Cell predicates run once per distinct value, and numpy gathers them back
  by code: empty and number-like for multi-table detection, clean-numeric
  for X-01, missing-value for L1-09, the distinct set for X-03.  A column
  whose joined text is all decimal-digit runs is classified by that one
  regex match, without running any predicate.
- Fast negatives: the "does any cell contain X" checks (L1-06, L1-07,
  L1-08, L1-14) search the joined text once, in C; X-02 searches it for
  the free-text keywords and confirms a hit per distinct value with
  ``FREE_TEXT_PATTERN``.  A column without a hit is done.

The per-cell walk still runs where the profile cannot answer: for a column
with a hit, because the failure message needs each cell's coordinates,
scan order, 10-sample cap and sort; and for object columns that mix types
(blank cells read as NaN, numbers from workbooks), because ``factorize``
treats ``1``, ``1.0`` and ``True`` as one value.  The predicates stay in
Python, since ``\\d``, ``isdigit`` and ``strip`` are Unicode-aware.
``tests/test_checks_profile.py`` holds the profiled battery equal to the
per-cell walk.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Dict, Iterator, List, NamedTuple, Optional, Tuple

import numpy as np
import pandas as pd

from . import cells as C
from .grid import ParsedDoc
from .zones import ZoneContext, _is_numeric_like, is_empty_cell

CheckResult = Tuple[bool, str]


# --------------------------------------------------------------- helpers


def _body_df(ctx: ZoneContext) -> pd.DataFrame:
    """The data body as a pandas DataFrame with merged column names —
    the analog of the reference's ``ctx.data``."""
    if not ctx.data_rows:
        return pd.DataFrame()
    df = pd.DataFrame(ctx.data_rows)
    cols = list(ctx.columns)
    if len(cols) == df.shape[1]:
        df.columns = cols
    return df


def _grid_row_nonempty(row: List[Any]) -> bool:
    return any(not is_empty_cell(v) for v in row)


def _cells(body: pd.DataFrame) -> np.ndarray:
    """The body as one 2-D object array, built once per document and
    cached in ``DataFrame.attrs`` so every check shares it."""
    cached = body.attrs.get("_cells")
    if cached is None:
        cached = body.to_numpy(dtype=object)
        body.attrs["_cells"] = cached
    return cached


def _columns(body: pd.DataFrame) -> List[Tuple[np.dtype, np.ndarray]]:
    """Per-document cache of ``(dtype, object-values)`` per column, cut
    from the one :func:`_cells` array (a per-column ``iloc`` Series costs
    a block-manager walk each)."""
    cached = body.attrs.get("_columns")
    if cached is None:
        cached = list(zip(body.dtypes, np.ascontiguousarray(_cells(body).T)))
        body.attrs["_columns"] = cached
    return cached


# Joins a column's distinct values into one text.  No check pattern
# matches it, so a search of the joined text finds exactly what a search
# of each value would (plus nothing across the seams).
_SEP = "\x00"
_DIGITS_RE = re.compile(r"\d+(?:\x00\d+)*")


class _Profile(NamedTuple):
    """One all-``str`` body column, factorized: ``uniques[codes]`` is the
    column, ``text`` is its distinct values joined by ``_SEP``, and
    ``digits`` says every value is a run of decimal digits."""

    codes: np.ndarray
    uniques: np.ndarray
    text: str
    digits: bool

    def flags(self, pred: Callable[[str], bool], on_digits: bool) -> np.ndarray:
        """``pred`` per cell, run once per distinct value; a digits-only
        column takes ``on_digits`` for every cell without running it."""
        if self.digits:
            return np.full(len(self.codes), on_digits)
        per_value = np.fromiter(map(pred, self.uniques), bool, len(self.uniques))
        return per_value[self.codes]


def _profile(dtype: np.dtype, vals: np.ndarray) -> Optional[_Profile]:
    # only all-str columns: factorize would fold 1, 1.0 and True together
    if dtype != object or pd.api.types.infer_dtype(vals, skipna=False) != "string":
        return None
    codes, uniques = pd.factorize(vals)
    text = _SEP.join(uniques)
    digits = (
        text.count(_SEP) == len(uniques) - 1  # no value holds the separator
        and _DIGITS_RE.fullmatch(text) is not None
    )
    return _Profile(codes, uniques, text, digits)


def _profiles(body: pd.DataFrame) -> List[Optional[_Profile]]:
    """Per-column :class:`_Profile` (``None`` for a column that is not
    all-``str``), cached in ``DataFrame.attrs`` like :func:`_columns`."""
    cached = body.attrs.get("_profiles")
    if cached is None:
        cached = [_profile(dtype, vals) for dtype, vals in _columns(body)]
        body.attrs["_profiles"] = cached
    return cached


def _str_hits(
    body: pd.DataFrame, hit_text: Callable[[str], Any], pred: Callable[[str], Any]
) -> Iterator[Tuple[int, int, str]]:
    """``(row_idx, col_idx, value)`` of each ``str`` cell ``pred`` flags,
    in row-major scan order.  A column whose dtype cannot hold a ``str``,
    or a profiled column whose joined text ``hit_text`` finds nothing in,
    cannot flag a cell, so the walk skips it."""
    cols = [
        c
        for c, ((dtype, _), prof) in enumerate(zip(_columns(body), _profiles(body)))
        if dtype.kind not in "biufcmM" and (prof is None or hit_text(prof.text))
    ]
    if not cols:
        return
    for row_idx, row_vals in enumerate(_cells(body)[:, cols]):
        for col_idx, val in zip(cols, row_vals):
            if isinstance(val, str) and pred(val):
                yield row_idx, col_idx, val


# ------------------------------------------------- multi-table detection


def detect_multiple_tables(
    body: pd.DataFrame, data_start_offset: int = 0
) -> Tuple[bool, str]:
    """Block segmentation over the data body (reference
    ``detect_multiple_tables_dataframe``, ``level1_checker.py:262-339``):
    consecutive all-empty-row groups ⇒ table separators; header-like rows
    (non-numeric ratio ≥ 0.5) more than 3 rows apart ⇒ stacked tables."""
    if body.empty or len(body) < 3:
        return False, "データが少ないため複数テーブルの検出をスキップ"

    isna = pd.isna(_cells(body))
    notna = ~isna
    n_rows, n_cols = body.shape

    # per-cell flags with a numeric-dtype fast path: a real number renders
    # to a digit string after stripping '.'/'-' (NaN is excluded by notna),
    # and never to the empty string.  A profiled all-str column runs the
    # predicates once per distinct value; other object columns take one
    # plain-Python pass over the raw array.
    str_empty = np.zeros((n_rows, n_cols), dtype=bool)
    num_like = np.zeros((n_rows, n_cols), dtype=bool)
    profiles = _profiles(body)
    for c, (dtype, vals) in enumerate(_columns(body)):
        if pd.api.types.is_numeric_dtype(dtype) and not pd.api.types.is_bool_dtype(dtype):
            num_like[:, c] = True
            continue
        prof = profiles[c]
        if prof is not None:
            str_empty[:, c] = prof.flags(lambda u: u.strip() == "", False)
            num_like[:, c] = prof.flags(lambda u: _is_numeric_like(u.strip()), True)
            continue
        for i, v in enumerate(vals):
            s = str(v).strip()
            if s == "":
                str_empty[i, c] = True
            elif s.replace(".", "").replace("-", "").isdigit():
                num_like[i, c] = True

    empty_mask = isna.all(axis=1) | str_empty.all(axis=1)
    empty_rows = np.flatnonzero(empty_mask)

    if empty_rows.size > 0:
        # count runs of consecutive indices
        n_groups = int(1 + np.sum(np.diff(empty_rows) > 1))
        return True, f"複数の連続空行グループが見つかりました: {n_groups}箇所"

    num_counts = (num_like & notna).sum(axis=1)
    nonna_counts = notna.sum(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        ratio = np.where(nonna_counts > 0, num_counts / nonna_counts, 1.0)
    header_like_rows = [
        int(i) + data_start_offset + 1
        for i in np.flatnonzero((nonna_counts > 0) & (ratio < 0.5))
    ]

    if len(header_like_rows) >= 2:
        gaps = np.diff(header_like_rows)
        if np.any(gaps > 3):
            return (
                True,
                f"離れた位置に複数のヘッダー様行が検出されました: {header_like_rows}",
            )

    return False, "単一テーブルと判定"


def count_blocks(grid_rows: List[List[Any]], start: int, end: int) -> int:
    """Contiguous non-empty row blocks in [start, end] (0-based inclusive)
    — reference ``check_one_table_per_sheet`` workbook path
    (``level1_checker.py:405-421``)."""
    blocks = 0
    in_block = False
    for i in range(start, min(end, len(grid_rows) - 1) + 1):
        has_data = _grid_row_nonempty(grid_rows[i])
        if has_data and not in_block:
            blocks += 1
            in_block = True
        elif not has_data:
            in_block = False
    return blocks


# ----------------------------------------------------------- the checks


def check_valid_file_format(doc: ParsedDoc, ctx, body) -> CheckResult:
    if doc.fmt == "ods":
        # extension to the reference catalog: OpenDocument spreadsheets
        # carry the full modern side-channel, so the battery audits them
        # through the xlsx-semantics branches
        return (
            True,
            "OpenDocument表計算（.ods）形式です。xlsx相当のチェックを実施します",
        )
    if doc.fmt == "tsv":
        return (
            True,
            "タブ区切り（.tsv）形式です。csv相当のチェックを実施します",
        )
    if doc.fmt == "xlsb":
        # extension to the reference catalog: the Excel Binary Workbook
        # carries the same modern side-channel as xlsx, so the battery
        # audits it through the xlsx-semantics branches
        return (
            True,
            "Excelバイナリ（.xlsb）形式です。xlsx相当のチェックを実施します",
        )
    if doc.fmt not in {"csv", "xlsx", "xls"}:
        return False, f"サポート外のファイル形式です: .{doc.fmt}"
    if doc.fmt == "xls":
        return (
            True,
            "旧Excel（.xls）形式のため、一部の自動チェック（書式・図形など）が"
            "制限されます。必要に応じて目視での確認を行ってください",
        )
    return True, "ファイル形式はCSVまたはExcel（.xlsx）です"


def check_no_images_or_objects(doc: ParsedDoc, ctx, body) -> CheckResult:
    if doc.fmt in ("csv", "tsv"):
        return True, "csvファイルのためオブジェクトチェック不要"
    if doc.fmt == "xls":
        return (
            False,
            "xlsファイルでは図形や画像の自動判定ができません。"
            "必要に応じて目視でご確認ください",
        )
    if doc.fmt in ("xlsx", "ods", "xlsb"):
        if doc.workbook is not None and doc.workbook.drawing_parts:
            return False, "図形・テキストボックスが検出されました"
        return True, "図形・テキストボックスは見つかりませんでした"
    return True, "サポート外形式のためオブジェクトチェック不要"


def check_one_table_per_sheet(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame, sheet_idx: int = 0
) -> CheckResult:
    if doc.fmt not in ("xlsx", "ods", "xlsb"):
        # workbook-less path: DataFrame-based multi-table detection
        is_multiple, details = detect_multiple_tables(
            body, data_start_offset=ctx.data_start
        )
        if is_multiple:
            return False, f"複数テーブルの疑いがあります: {details}"
        return True, "1つのテーブルのみです"

    if not ctx.column_rows:
        return False, "シート範囲情報が不足しているためチェックできません"
    grid = doc.sheets[sheet_idx].rows if doc.sheets else []
    blocks = count_blocks(grid, min(ctx.column_rows), ctx.data_end)
    if blocks > 1:
        return False, f"複数テーブルの疑いがあります（検出ブロック数: {blocks}）"
    return True, "1つのテーブルのみです"


def check_no_hidden_rows_or_columns(
    doc: ParsedDoc, ctx: ZoneContext, body, sheet_idx: int = 0
) -> CheckResult:
    if doc.fmt in ("csv", "tsv"):
        return True, "csvファイルのため非表示行・列の概念はありません"
    if doc.workbook is None or doc.fmt not in ("xlsx", "xls", "ods", "xlsb"):
        return True, "サポート外形式のため非表示行・列チェックをスキップします"

    if doc.fmt == "xls":
        # legacy branch scans every sheet and prefixes the sheet name
        h_rows = [
            (s.name, r) for s in doc.workbook.sheets for r in sorted(set(s.hidden_rows))
        ]
        h_cols = [
            (s.name, c) for s in doc.workbook.sheets for c in sorted(set(s.hidden_cols))
        ]
        row_str = (
            ", ".join(f"{sn}シートの{r + 1}行" for sn, r in h_rows)
            if h_rows
            else "該当なし"
        )
        col_str = (
            ", ".join(f"{sn}シートの{C.col_letter(c + 1)}列" for sn, c in h_cols)
            if h_cols
            else "該当なし"
        )
        if h_rows or h_cols:
            return False, f"非表示行／列があります（行: {row_str}, 列: {col_str}）"
        return True, "非表示行／列はありません"

    sheet = doc.workbook.sheets[sheet_idx]
    hidden_rows = sorted(set(sheet.hidden_rows))
    hidden_cols = sorted(set(sheet.hidden_cols))
    row_str = (
        ", ".join(f"{r + 1}行" for r in hidden_rows) if hidden_rows else "該当なし"
    )
    col_str = (
        ", ".join(f"{C.col_letter(c + 1)}列" for c in hidden_cols)
        if hidden_cols
        else "該当なし"
    )
    if hidden_rows or hidden_cols:
        return False, f"非表示行／列があります（行: {row_str}, 列: {col_str}）"
    return True, "非表示行／列はありません"


def check_no_notes_outside_table(
    doc: ParsedDoc, ctx: ZoneContext, body
) -> CheckResult:
    problem_notes: List[str] = []
    for row_idx, row in ctx.upper_rows:
        content = [C.render_cell(v) for v in row if not is_empty_cell(v)]
        if content:
            problem_notes.append(f"**{row_idx + 1}行目:** {', '.join(content)}")
    for row_idx, row in ctx.lower_rows:
        content = [C.render_cell(v) for v in row if not is_empty_cell(v)]
        if content:
            problem_notes.append(f"**{row_idx + 1}行目:** {', '.join(content)}")

    if problem_notes:
        details = "\n- ".join(problem_notes)
        return False, f"テーブルの範囲外で以下の内容が検出されました:\n- {details}"
    return True, "表外の注釈や備考はありません"


def check_no_merged_cells(
    doc: ParsedDoc, ctx: ZoneContext, body, sheet_idx: int = 0
) -> CheckResult:
    if doc.fmt in ("csv", "tsv"):
        return True, "csvファイルのため結合セルは存在しません"
    if doc.workbook is None or doc.fmt not in ("xlsx", "xls", "ods", "xlsb"):
        return True, "サポート外形式のため結合セルチェックをスキップします"
    if not ctx.column_rows:
        return False, "結合セルチェックに必要な情報が不足しています"

    sheet = doc.workbook.sheets[sheet_idx]
    if doc.fmt == "xls":
        # legacy branch quirks preserved: exclusive bottom-right indexing
        # in the A1 render and NO sort of the findings
        start0 = min(ctx.column_rows)
        end0 = ctx.data_end
        merged = [
            f"{C.col_letter(c0 + 1)}{r0 + 1}:{C.col_letter(c1 + 1)}{r1 + 1}"
            for (r0, c0, r1, c1) in sheet.merged
            if r0 >= start0 and r1 <= end0
        ]
        if merged:
            return False, f"結合セルが検出されました: {merged}"
        return True, "結合セルはありません"

    start = min(ctx.column_rows) + 1  # 1-based
    end = ctx.data_end + 1
    relevant = [
        f"{C.col_letter(c0 + 1)}{r0 + 1}:{C.col_letter(c1 + 1)}{r1 + 1}"
        for (r0, c0, r1, c1) in sheet.merged
        if (r0 + 1) >= start and (r1 + 1) <= end
    ]
    if relevant:
        relevant.sort(key=C.a1_sort_key)
        return False, f"結合セルが検出されました: {relevant}"
    return True, "結合セルはありません"


_FLAG_LABELS = {
    "fill": "塗りつぶし",
    "font_color": "文字色",
    "bold": "太字",
    "italic": "イタリック",
    "underline": "下線",
}


def check_no_format_based_semantics(
    doc: ParsedDoc, ctx: ZoneContext, body, sheet_idx: int = 0
) -> CheckResult:
    if doc.fmt == "xls":
        return (
            True,
            "旧Excel（.xls）形式のため、書式（文字色や太字など）の自動判定が"
            "不正確な場合があります。必要に応じて目視でご確認ください。",
        )
    if doc.fmt in ("csv", "tsv"):
        return True, "csvファイルのため書式装飾チェックは対象外です"
    if doc.fmt not in ("xlsx", "ods", "xlsb") or doc.workbook is None:
        return True, "サポート外形式のため書式装飾チェックをスキップします"
    if not ctx.column_rows:
        return False, "書式チェックに必要な情報が不足しています"

    start0 = min(ctx.column_rows)  # 0-based
    end0 = ctx.data_end
    sheet = doc.workbook.sheets[sheet_idx]
    flagged: List[str] = []
    for (r, c, flag) in sheet.format_flags:
        if r < start0 or r > end0:
            continue
        coord = f"{C.col_letter(c + 1)}{r + 1}"
        if flag.startswith("font_size:"):
            flagged.append(f"{coord}（フォントサイズ {flag.split(':', 1)[1]}）")
        elif flag in _FLAG_LABELS:
            flagged.append(f"{coord}（{_FLAG_LABELS[flag]}）")
    if flagged:
        flagged.sort(key=C.a1_sort_key)
        details = "\n- ".join(flagged)
        return (
            False,
            f"以下のセルで視覚的装飾による意味付けが検出されました:\n- {details}",
        )
    return True, "書式ベースの意味づけは検出されませんでした"


_FULL_WIDTH_SPACE_RE = re.compile(C.FULL_WIDTH_SPACE)


def check_no_whitespace_formatting(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame, sheet_idx: int = 0
) -> CheckResult:
    sample_cells: List[str] = []
    if doc.fmt not in ("xlsx", "ods", "xlsb"):
        # body-relative coordinates, first-10-in-scan-order cap, then sort
        search = _FULL_WIDTH_SPACE_RE.search
        for row_idx, col_idx, val in _str_hits(body, search, search):
            cell_ref = f"{C.col_letter(col_idx + 1)}{row_idx + 1}"
            sample_cells.append(f"{cell_ref}: '{val.strip()}'")
            if len(sample_cells) >= 10:
                break
    else:
        if not ctx.column_rows:
            return False, "空白チェックに必要な情報が不足しています"
        grid = doc.sheets[sheet_idx].rows
        start0 = min(ctx.column_rows)
        end0 = min(ctx.data_end, len(grid) - 1)
        for r in range(start0, end0 + 1):
            for c_idx, val in enumerate(grid[r]):
                if isinstance(val, str) and C.FULL_WIDTH_SPACE in val:
                    cell_ref = f"{C.col_letter(c_idx + 1)}{r + 1}"
                    sample_cells.append(f"{cell_ref}: '{val.strip()}'")
                    if len(sample_cells) >= 10:
                        break
            if len(sample_cells) >= 10:
                break

    if not sample_cells:
        return True, "体裁調整目的の空白は見つかりませんでした"
    sample_cells.sort(key=C.a1_sort_key)
    details = "\n- ".join(sample_cells)
    return (
        False,
        f"以下のセルで体裁調整目的の空白が使用されている可能性があります:\n- {details}",
    )


def check_single_data_per_cell(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame
) -> CheckResult:
    problems: List[str] = []
    start = ctx.data_start
    search = C._MULTI_VALUE_RE.search
    for row_idx, col_idx, val in _str_hits(body, search, search):
        coord = f"{C.col_letter(col_idx + 1)}{row_idx + 1 + start}"
        problems.append(f"{coord}: {val!r}")
    if problems:
        problems.sort(key=C.a1_sort_key)
        details = "\n- ".join(problems)
        return False, f"以下のセルで複数のデータが検出されました:\n- {details}"
    return True, "各セルに1データのみです"


def check_no_platform_dependent_characters(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame, sheet_idx: int = 0
) -> CheckResult:
    issues: List[str] = []
    if doc.fmt not in ("xlsx", "ods", "xlsb"):
        hits = _str_hits(body, C._PLATFORM_RE.search, C.detect_platform_characters)
        for row_idx, col_idx, val in hits:
            coord = f"{C.col_letter(col_idx + 1)}{row_idx + 1}"
            issues.append(f"{coord}: '{val}'")
    else:
        if not ctx.column_rows:
            return False, "機種依存文字チェックに必要な情報が不足しています"
        grid = doc.sheets[sheet_idx].rows
        start0 = min(ctx.column_rows)
        end0 = min(ctx.data_end, len(grid) - 1)
        for r in range(start0, end0 + 1):
            for c_idx, val in enumerate(grid[r]):
                if isinstance(val, str) and C.detect_platform_characters(val):
                    coord = f"{C.col_letter(c_idx + 1)}{r + 1}"
                    issues.append(f"{coord}: '{val}'")
    if issues:
        issues.sort(key=C.a1_sort_key)
        details = "\n- ".join(issues)
        return False, f"以下のセルで機種依存文字が含まれています:\n- {details}"
    return True, "機種依存文字は含まれていません"


def check_numeric_columns_only(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame
) -> CheckResult:
    """Numeric-column classifier: a column is numeric iff ≥80% of its
    non-null values are clean numerics; numeric columns with <99% clean
    values list their offending cells (thresholds from the reference,
    ``level1_checker.py:833,837``)."""
    problem_cells: Dict[Any, List[str]] = {}
    ridx = body.index
    profiles = _profiles(body)
    for col_idx, (dtype, vals) in enumerate(_columns(body)):
        col_name = body.columns[col_idx] if col_idx < len(body.columns) else col_idx
        if pd.api.types.is_numeric_dtype(dtype) or pd.api.types.is_bool_dtype(dtype):
            continue  # every non-null value is a real number → all clean
        prof = profiles[col_idx]
        if prof is not None:
            # every value is a present str; a digit run is clean
            rows = np.arange(len(vals))
            clean = prof.flags(C.is_clean_numeric, True)
        else:
            rows = np.array(
                [i for i, v in enumerate(vals) if not (v is None or v != v)], dtype=int
            )
            clean = np.array([C.is_clean_numeric(vals[i]) for i in rows], dtype=bool)
        total, ok = len(rows), int(clean.sum())
        if not total or not 0.8 <= ok / total < 0.99:
            continue
        for i in rows[~clean]:
            coord = f"{C.col_letter(col_idx + 1)}{ridx[i] + 1}"
            problem_cells.setdefault(col_name, []).append(f"{coord}: '{vals[i]}'")
    if problem_cells:
        for cs in problem_cells.values():
            cs.sort(key=C.a1_sort_key)
        msgs = [
            f"{name}:\n  - " + "\n  - ".join(cs)
            for name, cs in problem_cells.items()
        ]
        return False, "数値列に数値以外が含まれています:\n" + "\n".join(msgs)
    return True, "数値列に不正なデータは含まれていません"


def check_separate_other_detail_columns(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame
) -> CheckResult:
    flagged: List[str] = []
    search = C.FREE_TEXT_PATTERN.search
    profiles = _profiles(body)
    for col_idx, (dtype, vals) in enumerate(_columns(body)):
        col_name = body.columns[col_idx] if col_idx < len(body.columns) else col_idx
        if pd.api.types.is_numeric_dtype(dtype):
            continue
        prof = profiles[col_idx]
        if prof is not None:
            # a marker needs one of its keywords; confirm per distinct value
            hit = C.FREE_TEXT_KEYWORDS_RE.search(prof.text) is not None and any(
                search(u) for u in prof.uniques
            )
        else:
            hit = any(isinstance(v, str) and search(v) for v in vals)
        if hit:
            flagged.append(f"{col_name}（列: {C.col_letter(col_idx + 1)}）")
    if flagged:
        return False, f"選択肢列に自由記述が混在している可能性があります: {flagged}"
    return True, "選択肢列と自由記述は適切に分離されています"


def check_no_missing_column_headers(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame
) -> CheckResult:
    columns = list(body.columns) if not body.empty else list(ctx.columns)
    suspect = [c for c in columns if "Unnamed" in str(c) or str(c).strip() == ""]
    for col in columns:
        if col in suspect:
            continue
        if C.is_unclear_header(str(col)):
            suspect.append(col)
    if suspect:
        return False, f"省略・不明な列名が検出されました: {suspect}"
    return True, "全ての列に意味のあるヘッダーが付いています"


def check_handling_of_missing_values(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame
) -> CheckResult:
    problems_by_value: Dict[str, List[str]] = {}
    offset = ctx.data_start
    ridx = body.index
    missing = C.MISSING_VALUE_SET
    is_missing = lambda v: v.strip().lower() in missing  # noqa: E731
    profiles = _profiles(body)
    for col_idx, (dtype, vals) in enumerate(_columns(body)):
        if pd.api.types.is_numeric_dtype(dtype):
            continue  # no string cells possible
        prof = profiles[col_idx]
        if prof is not None:
            hits = np.flatnonzero(prof.flags(is_missing, False))
        else:
            hits = [i for i, v in enumerate(vals) if isinstance(v, str) and is_missing(v)]
        for i in hits:
            coord = f"{C.col_letter(col_idx + 1)}{ridx[i] + offset + 1}"
            problems_by_value.setdefault(vals[i].strip(), []).append(coord)

    if problems_by_value:
        # coordinate lists must be in scan order (column-major, like the
        # reference's per-column loop); within a column they already are.
        parts = ["以下のセルで欠損値を示す表現が見つかりました:"]
        for value, coords in sorted(problems_by_value.items()):
            parts.append(
                f"  - **値『{value}』** が見つかったセル ({len(coords)}件): "
                + ", ".join(coords)
            )
        return False, "\n".join(parts)
    return True, "欠損表現は検出されませんでした"


def check_csv_single_line_per_data(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame
) -> CheckResult:
    if doc.fmt not in ("csv", "tsv"):
        return True, "CSVファイルではないためチェック対象外"
    problem_cells: List[str] = []
    ridx = body.index
    profiles = _profiles(body)
    for col_idx, (dtype, vals) in enumerate(_columns(body)):
        if not (
            pd.api.types.is_string_dtype(dtype)
            or pd.api.types.is_object_dtype(dtype)
        ):
            continue
        prof = profiles[col_idx]
        if prof is not None and "\n" not in prof.text and "\r" not in prof.text:
            continue
        for i, v in enumerate(vals):
            if v is None or v != v:
                continue
            val = str(v)
            if "\n" not in val and "\r" not in val:
                continue
            coord = f"列{C.col_letter(col_idx + 1)} 行{ridx[i] + 1}"
            display = val.replace("\n", "↵").replace("\r", "↵")
            problem_cells.append(f"{coord}: '{display[:20]}...'")
    if problem_cells:
        problem_cells.sort(key=C.a1_sort_key)
        details = "\n- ".join(problem_cells)
        return False, f"以下のセルでデータ内部に改行が含まれています:\n- {details}"
    return True, "データ内部に改行は含まれていません"


def check_csv_fields_quoted(doc: ParsedDoc, ctx, body) -> CheckResult:
    if doc.fmt != "csv":
        return True, "CSVファイルではないためチェック対象外"
    if doc.raw_text is None:
        return False, "ファイル読み込みエラー: no decoded content"
    # Reference quirk preserved: it splits each line on ',' and then asks
    # whether any resulting field still contains ',' — which can never be
    # true — so this check always passes on readable files
    # (``level1_checker.py:1006-1016``); the scan that cannot fail is not run.
    return (
        True,
        "フィールドは適切に囲まれているか、またはカンマを含まないことが推測されます",
    )


def check_code_format_for_choices(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame
) -> CheckResult:
    """Historical L3 check (pyc:level3_checks F13): a choice column
    (<10 distinct non-null values) should be numerically coded — flag
    columns whose small label set mixes digit codes with free labels."""
    flagged: List[str] = []
    profiles = _profiles(body)
    for col_idx, (dtype, vals) in enumerate(_columns(body)):
        col_name = body.columns[col_idx] if col_idx < len(body.columns) else col_idx
        prof = profiles[col_idx]
        if prof is not None:
            if prof.digits:
                continue  # all digit codes: never mixed
            uniques = {u.strip() for u in prof.uniques}
        else:
            present = [v for v in vals if not (v is None or v != v)]
            if not present:
                continue
            uniques = {str(v).strip() for v in present}
        if len(uniques) >= 10:
            continue
        digit_vals = {u for u in uniques if u.isdigit()}
        if digit_vals and digit_vals != uniques:
            flagged.append(f"{col_name}（列: {C.col_letter(col_idx + 1)}）")
    if flagged:
        return (
            False,
            f"選択肢列で数値コードとラベルが混在しています: {flagged}",
        )
    return True, "選択肢列のコード形式に問題はありません"


_CODEBOOK_TITLE_RE = re.compile(r"コード表|コードブック|code\s*book", re.IGNORECASE)
_CODE_MAPPING_RE = re.compile(r"\b1\s*[=：]\s*\w+")


def check_codebook_exists(doc: ParsedDoc, ctx, body) -> CheckResult:
    """Historical L3 sheet classifier (pyc:level3_checks): look for a
    codebook — a sheet whose name matches, or whose top rows contain
    code-mapping lines like '1=男性'.  Regex/keyword lane only (the LLM
    variant is out of scope per the public-knowledge constraint)."""
    for sheet in doc.sheets:
        if _CODEBOOK_TITLE_RE.search(sheet.name):
            return True, f"コード表シートが見つかりました: {sheet.name}"
        for row in sheet.rows[:10]:
            joined = " ".join(
                str(v) for v in row if not is_empty_cell(v)
            )
            if _CODEBOOK_TITLE_RE.search(joined) or _CODE_MAPPING_RE.search(joined):
                return True, f"コード対応の記載が見つかりました: {sheet.name}"
    return False, "コード表（コードブック）が見つかりませんでした"


# question-master vocabulary: the pyc judged sheets with an LLM
# (pyc:utils is_sheet_likely, category '設問マスターや変数定義'; the prompt
# glosses the category as 変数名、設問文、選択肢などの設問一覧表) — this is
# the deterministic keyword lane per the public-knowledge constraint
_QMASTER_RE = re.compile(r"設問マスター|変数定義|設問一覧|変数一覧")
# metadata vocabulary: category '調査概要やメタデータ'; the content terms
# are the pyc prompt's own example list (調査時期、出典、対象、単位、備考、
# 調査方法、問合せ先)
_METADATA_NAME_RE = re.compile(r"調査概要|メタデータ|メタ情報")
_METADATA_TERMS_RE = re.compile(
    r"調査時期|出典|調査対象|単位|備考|調査方法|問合せ先|調査概要"
)
# pyc:level3_checks check_metadata_presence candidate-chunk filter:
# plain-text cells only (letters/digits/space/ideographic space/middots/
# commas), length > 10
_METADATA_CHUNK_RE = re.compile(r"^[\w\s　・･、,]+$")


def _sheet_top_lines(sheet, max_rows: int = 15) -> List[str]:
    """Joined non-empty top rows of a sheet (pyc:utils is_sheet_likely
    samples rows 1..15, space-joined per row)."""
    lines = []
    for row in sheet.rows[:max_rows]:
        line = " ".join(str(v).strip() for v in row if not is_empty_cell(v))
        if line:
            lines.append(line)
    return lines


def check_question_master_exists(doc: ParsedDoc, ctx, body) -> CheckResult:
    """Historical L3 sheet classifier (pyc:level3_checks
    check_question_master_exists): look for a question-master /
    variable-definition sheet.  Message shapes and the workbook-required
    precondition mirror the bytecode; the per-sheet judgment is the
    keyword fallback (the pyc's LLM call is out of scope)."""
    if doc.workbook is None:
        return False, "エラー: 有効な workbook が渡されていません"
    for sheet in doc.sheets:
        likely = _QMASTER_RE.search(sheet.name) or any(
            _QMASTER_RE.search(line)
            or ("変数名" in line and ("設問" in line or "選択肢" in line))
            for line in _sheet_top_lines(sheet)
        )
        if likely:
            return True, f"設問マスターとみられるシート: {sheet.name}"
    return False, "設問マスター（変数定義表）が見つかりません"


def check_metadata_presence(doc: ParsedDoc, ctx, body) -> CheckResult:
    """Historical L3 sheet classifier (pyc:level3_checks
    check_metadata_presence): first a sheet-level pass (name/top-row
    metadata vocabulary), then the content fallback — sample plain-text
    cells (>10 chars, chunk regex) from the top 20 rows and look for the
    pyc prompt's survey-metadata example terms; the first hit is quoted
    in the message exactly as the bytecode quotes its first chunk."""
    if doc.workbook is None:
        return False, "エラー: 有効な workbook が渡されていません"
    for sheet in doc.sheets:
        if _METADATA_NAME_RE.search(sheet.name) or any(
            _METADATA_NAME_RE.search(line) for line in _sheet_top_lines(sheet)
        ):
            return True, f"メタ情報とみられるシート: {sheet.name}"
    for sheet in doc.sheets:
        for row in sheet.rows[:20]:
            for cell in row:
                if isinstance(cell, str):
                    text = cell.strip()
                    if (
                        len(text) > 10
                        and _METADATA_CHUNK_RE.match(text)
                        and _METADATA_TERMS_RE.search(text)
                    ):
                        return (
                            True,
                            f"内容からメタデータが見つかりました（例: {text}）",
                        )
    return False, "調査概要やメタデータが確認できません"


# X-07: the HISTORICAL whitespace-variant check that survives only in
# bytecode (pyc:level1_checks check_no_whitespace_formatting, lines
# 124-148 — disassembled; the shipping level1_checker.py replaced it
# with the full-width-space scan, SURVEY.md §2.3 F9 note).  Semantics
# mirrored exactly: first worksheet only (predates sheet targeting),
# string cells whose trimmed form fullmatches the currency shape are
# EXEMPT, and a cell is flagged when it has leading/trailing space, an
# embedded newline or tab, or an inter-word ideographic space.  The
# failure message interpolates problem[:3] as a Python list (repr),
# bit-for-bit with the bytecode's f-string.
_LEGACY_CURRENCY_RE = re.compile(r"[¥￥]?\d+(,?\d+)*(円|万円)?")
_LEGACY_INTERWORD_RE = re.compile(r"\w　\w")


def check_legacy_whitespace_variants(
    doc: ParsedDoc, ctx: ZoneContext, body: pd.DataFrame
) -> CheckResult:
    if doc.workbook is None:
        return False, "エラー: 有効な workbook が渡されていません"
    problem: List[str] = []
    sheet = doc.sheets[0]
    for row_idx, row in enumerate(sheet.rows, start=1):
        for col_idx, cell in enumerate(row, start=1):
            if not isinstance(cell, str):
                continue
            trimmed = cell.strip()
            if _LEGACY_CURRENCY_RE.fullmatch(trimmed):
                continue
            if (
                cell != trimmed
                or "\n" in cell
                or "\t" in cell
                or _LEGACY_INTERWORD_RE.search(cell)
            ):
                cell_pos = f"{C.col_letter(col_idx)}{row_idx}"
                problem.append(f"{cell_pos}: {cell!r}")
    if problem:
        return (
            False,
            f"余分な空白/改行/体裁スペースが検出されました（例: {problem[:3]}）",
        )
    return True, "スペースや改行による整形はありません"


# ------------------------------------------------------------ rule catalog

# (rule_id, description, check callable) — rules/level1.json order; the
# X-** entries are registry-only functions with no JSON rule binding.
RULES: List[Tuple[str, str, Any]] = [
    ("L1-01", "file format is xlsx/xls/csv", check_valid_file_format),
    ("L1-02", "one table per sheet", check_one_table_per_sheet),
    ("L1-03", "no data split by blank rows", check_one_table_per_sheet),
    ("L1-04", "no notes outside table", check_no_notes_outside_table),
    ("L1-05", "all columns have meaningful headers", check_no_missing_column_headers),
    ("L1-06", "no whitespace formatting", check_no_whitespace_formatting),
    ("L1-07", "single datum per cell", check_single_data_per_cell),
    ("L1-08", "no platform-dependent characters", check_no_platform_dependent_characters),
    ("L1-09", "missing values distinguished from zero", check_handling_of_missing_values),
    ("L1-10", "no images/objects", check_no_images_or_objects),
    ("L1-11", "no format-based semantics", check_no_format_based_semantics),
    ("L1-12", "no merged cells", check_no_merged_cells),
    ("L1-13", "no hidden rows/columns", check_no_hidden_rows_or_columns),
    ("L1-14", "csv: one line per datum", check_csv_single_line_per_data),
    ("L1-15", "csv: fields quoted", check_csv_fields_quoted),
    ("X-01", "numeric columns contain only numerics", check_numeric_columns_only),
    ("X-02", "choice columns free of free text", check_separate_other_detail_columns),
    ("X-03", "choice columns consistently coded", check_code_format_for_choices),
    ("X-04", "codebook sheet present", check_codebook_exists),
    ("X-05", "question master sheet present", check_question_master_exists),
    ("X-06", "survey metadata present", check_metadata_presence),
    ("X-07", "no legacy whitespace variants", check_legacy_whitespace_variants),
]


def run_checks(
    doc: ParsedDoc, ctx: ZoneContext, sheet_idx: int = 0
) -> List[Tuple[str, bool, str]]:
    """Run the full rule catalog over one parsed document.

    Mirrors the bytecode-only router's contract (pyc:router
    ``run_checks_from_rules``): every check runs under a catch-all; a
    raising check records ``passed=False`` with an error message instead of
    failing the document."""
    body = _body_df(ctx)
    out: List[Tuple[str, bool, str]] = []
    cache: Dict[Any, CheckResult] = {}  # L1-02/L1-03 share one check fn
    for rule_id, _desc, fn in RULES:
        if fn in cache:
            passed, msg = cache[fn]
            out.append((rule_id, bool(passed), msg))
            continue
        try:
            if fn in (
                check_one_table_per_sheet,
                check_no_hidden_rows_or_columns,
                check_no_merged_cells,
                check_no_format_based_semantics,
                check_no_whitespace_formatting,
                check_no_platform_dependent_characters,
            ):
                passed, msg = fn(doc, ctx, body, sheet_idx)
            else:
                passed, msg = fn(doc, ctx, body)
        except Exception as e:  # router-style catch-all
            passed, msg = False, f"エラー発生: {e}"
        cache[fn] = (passed, msg)
        out.append((rule_id, bool(passed), msg))
    return out
