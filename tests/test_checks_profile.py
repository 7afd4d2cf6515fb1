"""Parity of the column-profiled rule battery with the per-cell walk.

``core/checks.py`` profiles each all-``str`` body column once (factorized
codes, distinct values, one joined text) and answers most checks per
distinct value or with one search of the joined text.  Only a column the
profile cannot clear falls through to the per-cell walk.  These tests run
``run_checks`` over a deterministic fuzz corpus of adversarial CSV/TSV
grids twice, as shipped and with ``checks._profiles`` patched to profile
nothing (so every column takes the per-cell walk), and assert identical
results.
"""

from __future__ import annotations

import csv
import io
import random
from typing import List, Tuple

import pytest

from machine_readability_checker_spark.core import checks
from machine_readability_checker_spark.core.grid import parse_document
from machine_readability_checker_spark.core.zones import extract_zones

# cells that sit on an edge of some predicate: Unicode whitespace, digits
# and punctuation, free-text markers, missing-value words, separators
ADVERSARIAL = [
    "　", "a　b", "①", "※注", "a,b", "a;b", "x\ny", "x\r\ny", " N/A ",
    "x\ry", "ー", "？", "その他: 自由", "備考：x", "　備考：y", "٣", "²", "１２",
    "1_000", "inf", "1-2", ".", " 12 ",
]
WORDS = ["apple", "東京", "label", "はい", "いいえ", "Ｂ", "x y", "-", "0.5"]
N_DOCS = 1500


def _cell(rng: random.Random, kind: str) -> str:
    if kind == "digits":
        return str(rng.randint(0, 999))
    if kind == "numeric":
        # mostly clean numbers, so the 80-99% X-01 band is reached
        if rng.random() < 0.9:
            return str(rng.choice([rng.randint(0, 99), rng.random() * 100]))
        return rng.choice(ADVERSARIAL)
    if kind == "choice":
        return rng.choice(["1", "2", "3", "はい", "いいえ", rng.choice(ADVERSARIAL)])
    return rng.choice(ADVERSARIAL + WORDS)


def _grid(rng: random.Random) -> List[List[str]]:
    n_cols = rng.randint(1, 6)
    kinds = [rng.choice(["digits", "numeric", "choice", "mixed"]) for _ in range(n_cols)]
    header = [rng.choice([f"col{c}", "備考", "ID", "値", "", "12"]) for c in range(n_cols)]
    rows = [header]
    for _ in range(rng.randint(3, 40)):
        roll = rng.random()
        if roll < 0.05:
            rows.append([""] * n_cols)  # a blank row: NaN cells
        elif roll < 0.08:
            rows.append([rng.choice(["　", " "])] * n_cols)  # a whitespace row
        else:
            rows.append([_cell(rng, k) for k in kinds])
    return rows


def fuzz_corpus(n_docs: int = N_DOCS, seed: int = 6) -> List[Tuple[str, str, bytes]]:
    """``(doc_id, fmt, content)`` for ``n_docs`` deterministic grids."""
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        fmt = "tsv" if i % 3 == 2 else "csv"
        buf = io.StringIO()
        writer = csv.writer(
            buf, delimiter="\t" if fmt == "tsv" else ",", lineterminator="\r\n"
        )
        writer.writerows(_grid(rng))
        docs.append((f"fuzz{i:05d}", fmt, buf.getvalue().encode("utf-8")))
    return docs


def _results(docs) -> List[List[Tuple[str, bool, str]]]:
    out = []
    for _doc_id, fmt, content in docs:
        doc = parse_document(fmt, content)
        if doc.parse_error is not None or not doc.sheets:
            out.append(doc.parse_error)
            continue
        sheet = doc.sheets[0]
        out.append(checks.run_checks(doc, extract_zones(sheet.rows, sheet.name)))
    return out


@pytest.fixture(scope="module")
def corpus():
    return fuzz_corpus()


def test_profiled_battery_matches_per_cell_walk(corpus, monkeypatch):
    shipped = _results(corpus)
    monkeypatch.setattr(checks, "_profiles", lambda body: [None] * body.shape[1])
    walked = _results(corpus)
    diffs = [
        corpus[i][0] for i, (a, b) in enumerate(zip(shipped, walked)) if a != b
    ]
    assert not diffs, f"{len(diffs)} docs differ, first: {diffs[:5]}"
    # the corpus reaches both the passing and the failing side of the checks
    # the profile answers
    failed = {rid for res in shipped if isinstance(res, list) for rid, ok, _ in res if not ok}
    assert {"L1-06", "L1-07", "L1-08", "L1-09", "L1-14", "X-01", "X-02", "X-03"} <= failed


def test_corpus_exercises_the_profile(corpus):
    """The fast path is really taken: profiled columns, digit-only columns
    and profiled columns that still hold a hit all occur."""
    profiled = digit_cols = hit_cols = 0
    for _doc_id, fmt, content in corpus:
        doc = parse_document(fmt, content)
        if doc.parse_error is not None:
            continue
        sheet = doc.sheets[0]
        body = checks._body_df(extract_zones(sheet.rows, sheet.name))
        for prof in checks._profiles(body):
            if prof is None:
                continue
            profiled += 1
            digit_cols += prof.digits
            hit_cols += checks.C._MULTI_VALUE_RE.search(prof.text) is not None
    assert profiled > 1000 and digit_cols > 100 and hit_cols > 100, (
        profiled, digit_cols, hit_cols
    )


def test_a_value_holding_the_separator_is_not_read_as_digits():
    """``"1\\x002"`` joined with ``"3"`` reads as three digit runs; the
    separator count keeps such a column off the digits-only path."""
    import numpy as np

    vals = np.array(["1\x002", "3", "3"], dtype=object)
    prof = checks._profile(vals.dtype, vals)
    assert prof is not None and not prof.digits
    assert list(prof.codes) == [0, 1, 1] and list(prof.uniques) == ["1\x002", "3"]
    assert checks._profile(vals.dtype, np.array(["1", 2], dtype=object)) is None
