"""Text analysis operators for training-data pipelines.

All JVM-side (split / higher-order array functions / regex) — no Python in
the hot path, so these run inside whole-stage codegen and scale linearly
with executors.  Each has an ANSI-SQL twin in ``__spark_entry__.oracle_sql``
so correctness is cross-checked against DuckDB.

Operators: token counting, stopword/quality scoring, language-ID by
stopword voting, document fingerprinting, BPE-ish subword count.
"""

from __future__ import annotations

import re
from typing import Dict, List

from pyspark.sql import Column, DataFrame, functions as F

# small per-language stopword lists (public common words); voting-based
# language ID — deterministic, SQL-expressible, cheap at scale
LANG_STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "los"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "des", "une", "est"],
    "zh": ["的", "是", "了", "在", "有", "和", "不"],
}

QUALITY_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

# BPE-ish subword tokenizer regex: word pieces, digits runs, single
# punctuation — a public GPT-2-style pre-tokenization approximation
BPE_ISH_PATTERN = r"[A-Za-z]+|\d+|[^A-Za-z\d\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens (empty-safe)."""
    return F.filter(F.split(col, " "), lambda x: x != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def subword_count(col: Column) -> Column:
    """BPE-ish token count via regexp extraction (JVM-side)."""
    return F.size(
        F.filter(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0), lambda x: x != "")
    )


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    by: str = "lang",
) -> DataFrame:
    """Tokenizer QA aggregate ("How Good is Your Tokenizer?", Rust et
    al. 2021): per-group fertility = subwords per whitespace word (the
    over-segmentation signal — a tokenizer mismatched to a language
    shatters its words) and bytes per subword (compression — what a
    context-window budget actually buys).  Uses the JVM BPE-ish
    segmenter, so the whole aggregate is ONE map-side-combined scan
    with zero Python; per-tokenizer-artifact fertility comes from
    running the same aggregate over ``bpe_encode``/``wordpiece_encode``
    output instead.

    Returns per-group (n_docs, n_words, n_subwords, fertility,
    bytes_per_subword)."""
    keys = [by] if by else []
    base = df.select(
        *keys,
        token_count(F.col(text_col)).alias("_w"),
        subword_count(F.col(text_col)).alias("_s"),
        F.octet_length(F.col(text_col)).alias("_b"),
    )
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_s").alias("n_subwords"),
        F.round(
            F.try_divide(F.sum("_s"), F.sum("_w")), 6
        ).alias("fertility"),
        F.round(
            F.try_divide(F.sum("_b"), F.sum("_s")), 6
        ).alias("bytes_per_subword"),
    )
    return agg


def stopword_ratio(col: Column, stopwords: List[str] = QUALITY_STOPWORDS) -> Column:
    toks = tokens(col)
    hits = F.filter(toks, lambda x: x.isin(stopwords))
    return F.when(F.size(toks) > 0, F.size(hits) / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    punct = F.length(F.regexp_replace(col, r"[^\p{Punct}]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def quality_flags(col: Column) -> Column:
    """Document quality heuristics → struct of booleans: too short, too
    little alphabetic content, stopword-free (gopher-style filters)."""
    toks = tokens(col)
    alpha_ratio = F.when(
        F.length(col) > 0,
        F.length(F.regexp_replace(col, r"[^A-Za-z]", "")) / F.length(col),
    ).otherwise(F.lit(0.0))
    return F.struct(
        (F.size(toks) < 5).alias("too_short"),
        (alpha_ratio < 0.5).alias("low_alpha"),
        (stopword_ratio(col) <= 0.0).alias("no_stopwords"),
    )


def lang_scores(col: Column) -> Column:
    """Per-language stopword vote counts as a struct column."""
    toks = tokens(F.lower(col))

    def _votes(sw: List[str]) -> Column:
        return F.size(F.filter(toks, lambda x: x.isin(sw)))

    return F.struct(
        *[_votes(sw).alias(lang) for lang, sw in LANG_STOPWORDS.items()]
    )


def lang_id(col: Column) -> Column:
    """Argmax language by stopword votes; ties break in the fixed order
    en > es > de > fr > zh; zero votes everywhere → 'und'."""
    s = lang_scores(col)
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[s[lang] for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when((s[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def doc_fingerprint(col: Column) -> Column:
    r"""Deterministic document fingerprint: md5 of the lowercased text
    with everything outside Unicode letters/digits removed (portable
    across engines — Spark's Java regex and DuckDB's RE2 agree on
    \p{L}\p{N}).  MUST be Unicode classes, not [A-Za-z0-9]: an ASCII
    class normalizes every CJK-only document to the empty string, and a
    fingerprint-dedup stage would then collapse an entire Japanese
    corpus into one "duplicate" group."""
    normalized = F.lower(F.regexp_replace(col, r"[^\p{L}\p{N}]", ""))
    return F.md5(F.encode(normalized, "UTF-8"))


def _bigrams(toks: Column) -> Column:
    """Adjacent token bigrams as "a b" strings (empty for < 2 tokens)."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _max_equal_run_sorted(s: Column) -> Column:
    """Longest run of equal adjacent elements of a *sorted* array column
    (= count of the most frequent element), per row — no explode, no
    shuffle.  Run boundaries, not a fold: indices where ``s[i] ≠ s[i-1]``
    start a new run; run lengths are the diffs between consecutive
    starts.  ``s`` MUST be a materialized plain column — element_at over
    a nested sort expression re-evaluates the sort per element access
    (the interpreted-HOF trap documented in dedup._shingles_from_hashes).
    The i ≥ 2 guard keeps element_at inputs ≥ 1 (ANSI mode throws on
    index 0) and dodges sequence()'s descending-range surprise at n < 2."""
    n = F.size(s)
    boundaries = F.when(
        n >= 2,
        F.filter(
            F.sequence(F.lit(2), n),
            lambda i: F.element_at(s, i) != F.element_at(s, i - 1),
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(1)), boundaries)
    m = F.size(starts)
    ends = F.concat(
        F.slice(starts, 2, F.greatest(m - 1, F.lit(0))), F.array(n + 1)
    )
    runs = F.zip_with(ends, starts, lambda e, st: e - st)
    return F.when(n > 0, F.array_max(runs)).otherwise(F.lit(0))


def _ngrams(toks: Column, n: int) -> Column:
    """Adjacent token n-grams as space-joined strings (empty for < n
    tokens).  ``toks`` MUST be a materialized plain column (HOF trap)."""
    nt = F.size(toks)
    return F.when(
        nt >= n,
        F.transform(
            F.sequence(F.lit(0), nt - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _run_bounds(s: Column):
    """(starts, ends) arrays of the equal-adjacent runs of a *sorted*
    materialized array — shared machinery of the run-based kernels."""
    n = F.size(s)
    boundaries = F.when(
        n >= 2,
        F.filter(
            F.sequence(F.lit(2), n),
            lambda i: F.element_at(s, i) != F.element_at(s, i - 1),
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(1)), boundaries)
    m = F.size(starts)
    ends = F.concat(
        F.slice(starts, 2, F.greatest(m - 1, F.lit(0))), F.array(n + 1)
    )
    return starts, ends


def _max_run_chars_sorted(s: Column, n: int) -> Column:
    """Max characters covered by a single n-gram value of a *sorted*
    space-joined n-gram array: count(value) × token-chars(value), where
    token-chars = length − (n−1) internal spaces.  Tie-robust variant of
    Gopher's "most frequently-occurring n-gram" char fraction (ties on
    count are broken toward more covered chars — deterministic on both
    engines, unlike Counter insertion order)."""
    starts, ends = _run_bounds(s)
    runs = F.zip_with(
        ends,
        starts,
        lambda e, st: (e - st).cast("long")
        * (F.length(F.element_at(s, st)) - F.lit(n - 1)),
    )
    return F.when(F.size(s) > 0, F.array_max(runs)).otherwise(
        F.lit(0).cast("long")
    )


def _dup_value_chars_sorted(s: Column) -> Column:
    """Characters inside NON-FIRST occurrences of duplicated values of a
    *sorted* materialized string array: Σ over values (count−1) × length.
    The Gopher duplicate line / paragraph character numerator."""
    starts, ends = _run_bounds(s)
    per_run = F.zip_with(
        ends,
        starts,
        lambda e, st: (e - st - 1).cast("long")
        * F.length(F.element_at(s, st)),
    )
    return F.when(
        F.size(s) > 0,
        F.aggregate(per_run, F.lit(0).cast("long"), lambda a, x: a + x),
    ).otherwise(F.lit(0).cast("long"))


def _repeat_positions(sa: Column) -> Column:
    """Ascending 1-based positions (in the original n-gram array) whose
    n-gram value already occurred at an earlier position.  ``sa`` is the
    materialized array_sort of struct<g,p> pairs — sorting makes repeat
    detection O(m log m) instead of the O(m²) list_position scan, which
    matters once documents are thousands of tokens."""
    m = F.size(sa)
    reps = F.when(
        m >= 2,
        F.filter(
            F.sequence(F.lit(2), m),
            lambda k: F.element_at(sa, k)["g"] == F.element_at(sa, k - 1)["g"],
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.array_sort(F.transform(reps, lambda k: F.element_at(sa, k)["p"]))


def _covered_chars(positions: Column, tlen: Column, n: int) -> Column:
    """Token characters covered by the UNION of the spans
    [p, p+n−1] over the ascending repeat ``positions`` — one O(|R|)
    fold with a (chars, last-covered) accumulator, so overlapping
    repeats never double-count (the Gopher dup-n-gram numerator).
    ``tlen`` is the materialized per-token length array."""
    nt = F.size(tlen)
    init = F.struct(
        F.lit(0).cast("long").alias("chars"), F.lit(0).alias("last")
    )

    def step(acc, r):
        start = F.greatest(r, acc["last"] + 1)
        end = F.least(r + F.lit(n - 1), nt)
        seg = F.when(
            end >= start,
            F.aggregate(
                F.slice(tlen, start, end - start + 1),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(
            (acc["chars"] + seg).alias("chars"),
            F.greatest(acc["last"], end).alias("last"),
        )

    return F.aggregate(positions, init, step)["chars"]


# Gopher §A1-style default thresholds: drop documents dominated by
# repeated tokens or one looping bigram
MAX_DUP_TOKEN_FRAC = 0.6
MAX_TOP_BIGRAM_FRAC = 0.18

# The full Gopher repetition battery (Rae et al. 2021, table A1):
# fraction-of-characters thresholds per signal
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_PARA_FRAC = 0.30
MAX_DUP_LINE_CHAR_FRAC = 0.20
MAX_DUP_PARA_CHAR_FRAC = 0.20
TOP_NGRAM_CHAR_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_CHAR_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def with_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    max_dup_token_frac: float = MAX_DUP_TOKEN_FRAC,
    max_top_bigram_frac: float = MAX_TOP_BIGRAM_FRAC,
    battery: bool = False,
) -> DataFrame:
    """Attach Gopher-style repetition signals and filter verdicts:

    - ``repetition.dup_token_frac``  : 1 − distinct/total whitespace tokens
    - ``repetition.dup_bigram_frac`` : 1 − distinct/total adjacent bigrams
    - ``repetition.top_bigram_frac`` : occurrences of the most frequent
      bigram ÷ total bigrams
    - ``repetition_flag.too_many_dup_tokens`` / ``.looping_bigram``

    ``battery=True`` adds the FULL Gopher §A1 repetition battery
    (fractions of characters, denominators = total token characters):

    - ``dup_line_frac`` / ``dup_para_frac``: non-distinct lines (split
      on \\n) / paragraphs (split on blank lines) over their totals
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: characters inside
      non-first occurrences of duplicated lines / paragraphs
    - ``top_{2,3,4}gram_char_frac``: characters covered by the single
      most-covering n-gram (count × token-chars; tie-robust variant of
      Gopher's most-frequent — ties break toward more covered chars)
    - ``dup_{5..10}gram_char_frac``: characters in the UNION of the
      spans of non-first occurrences of duplicated n-grams (overlaps
      counted once)
    - one flag per signal at the published thresholds (0.30/0.30/
      0.20/0.20 lines/paras, 0.20/0.18/0.16 top-grams, 0.15→0.10
      dup-grams)

    Each ratio is 0.0 when its denominator is empty (incl. NULL text).
    The classic training-data filter drops documents whose text loops
    (template spam, boilerplate echoes, keyword stuffing).

    Staged as materialized intermediate columns so the token array is
    built once, each n-gram array once, and each sorted copy once per
    row — one nested expression naively re-derives the whole chain per
    element access and per consumer, which measured ~20× slower at
    sf0.1.  Repeat detection sorts (gram, pos) pairs (O(m log m)) and
    the span-union is one O(|repeats|) fold, so the battery survives
    documents thousands of tokens long.  Everything stays a narrow
    per-row map at corpus scale."""
    base = list(df.columns)
    toks, bg, bgsort = F.col("_toks"), F.col("_bg"), F.col("_bgsort")
    nt, nb = F.size(toks), F.size(bg)
    frac = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    dtf = frac(nt - F.size(F.array_distinct(toks)), nt)
    tbf = frac(_max_equal_run_sorted(bgsort), nb)
    out = (
        df.withColumn("_toks", tokens(F.col(text_col)))
        .withColumn("_bg", _bigrams(toks))
        .withColumn("_bgsort", F.array_sort(bg))
    )
    stats = [
        dtf.alias("dup_token_frac"),
        frac(nb - F.size(F.array_distinct(bg)), nb).alias("dup_bigram_frac"),
        tbf.alias("top_bigram_frac"),
    ]
    flags = [
        (dtf > max_dup_token_frac).alias("too_many_dup_tokens"),
        (tbf > max_top_bigram_frac).alias("looping_bigram"),
    ]
    if battery:
        c = F.col(text_col)
        out = (
            out.withColumn("_tlen", F.transform(toks, F.length))
            .withColumn(
                "_tchars",
                F.aggregate(
                    F.col("_tlen"), F.lit(0).cast("long"), lambda a, x: a + x
                ),
            )
            .withColumn(
                "_lsort",
                F.array_sort(F.filter(F.split(c, "\n"), lambda x: x != "")),
            )
            .withColumn(
                "_psort",
                F.array_sort(
                    F.filter(F.split(c, "\n\\s*\n"), lambda x: x != "")
                ),
            )
        )
        tchars = F.col("_tchars")
        for n in TOP_NGRAM_CHAR_THRESHOLDS:
            if n == 2:
                continue  # reuse the bigram array built above
            out = out.withColumn(f"_g{n}s", F.array_sort(_ngrams(toks, n)))
        def _pairer(gcol):
            # closure, not a default-arg lambda: F.transform dispatches
            # on lambda arity, so a 2-parameter lambda would be called
            # with (element, index)
            return lambda i: F.struct(
                F.element_at(gcol, i).alias("g"), i.alias("p")
            )

        for n in DUP_NGRAM_CHAR_THRESHOLDS:
            out = out.withColumn(f"_g{n}", _ngrams(toks, n))
            g = F.col(f"_g{n}")
            out = out.withColumn(
                f"_sa{n}",
                F.when(
                    F.size(g) >= 1,
                    F.array_sort(
                        F.transform(
                            F.sequence(F.lit(1), F.size(g)), _pairer(g)
                        )
                    ),
                ).otherwise(F.array().cast("array<struct<g:string,p:int>>")),
            )
        lsort, psort = F.col("_lsort"), F.col("_psort")
        lchars = F.aggregate(
            F.transform(lsort, F.length), F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        pchars = F.aggregate(
            F.transform(psort, F.length), F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        stats += [
            frac(
                F.size(lsort) - F.size(F.array_distinct(lsort)), F.size(lsort)
            ).alias("dup_line_frac"),
            frac(
                F.size(psort) - F.size(F.array_distinct(psort)), F.size(psort)
            ).alias("dup_para_frac"),
            frac(_dup_value_chars_sorted(lsort), lchars).alias(
                "dup_line_char_frac"
            ),
            frac(_dup_value_chars_sorted(psort), pchars).alias(
                "dup_para_char_frac"
            ),
        ]
        for n in TOP_NGRAM_CHAR_THRESHOLDS:
            s = bgsort if n == 2 else F.col(f"_g{n}s")
            stats.append(
                frac(_max_run_chars_sorted(s, n), tchars).alias(
                    f"top_{n}gram_char_frac"
                )
            )
        for n in DUP_NGRAM_CHAR_THRESHOLDS:
            stats.append(
                frac(
                    _covered_chars(
                        _repeat_positions(F.col(f"_sa{n}")), F.col("_tlen"), n
                    ),
                    tchars,
                ).alias(f"dup_{n}gram_char_frac")
            )
    if not battery:
        return out.select(
            *base,
            F.struct(*stats).alias("repetition"),
            F.struct(*flags).alias("repetition_flag"),
        )
    # materialize the stats struct first so every flag reads the
    # computed column instead of re-embedding its stat expression
    out = out.withColumn("repetition", F.struct(*stats))
    r = lambda f: F.col(f"repetition.{f}")  # noqa: E731
    flags += [
        (r("dup_line_frac") > MAX_DUP_LINE_FRAC).alias("dup_lines"),
        (r("dup_para_frac") > MAX_DUP_PARA_FRAC).alias("dup_paras"),
        (r("dup_line_char_frac") > MAX_DUP_LINE_CHAR_FRAC).alias(
            "dup_line_chars"
        ),
        (r("dup_para_char_frac") > MAX_DUP_PARA_CHAR_FRAC).alias(
            "dup_para_chars"
        ),
    ]
    flags += [
        (r(f"top_{n}gram_char_frac") > t).alias(f"top_{n}gram_chars")
        for n, t in TOP_NGRAM_CHAR_THRESHOLDS.items()
    ]
    flags += [
        (r(f"dup_{n}gram_char_frac") > t).alias(f"dup_{n}gram_chars")
        for n, t in DUP_NGRAM_CHAR_THRESHOLDS.items()
    ]
    return out.select(
        *base, "repetition", F.struct(*flags).alias("repetition_flag")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows — the embedding /
    context-window prep step: (id, chunk_idx, chunk_text, n_tokens).

    Chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the last chunk is the first one
    whose window reaches the end of the document (so short tails merge
    into the final window instead of emitting a fragment).  Documents
    with no tokens produce no chunks.  Pure per-row expressions +
    posexplode — a narrow map at corpus scale, no Python."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = F.col("_toks")
    n = F.size(toks)
    # number of windows: 1 + ceil(max(0, n - chunk) / stride)
    extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    n_chunks = F.lit(1) + F.ceil(extra / F.lit(stride)).cast("int")
    chunk = F.array_join(
        F.slice(toks, F.col("chunk_idx") * stride + 1, chunk_tokens), " "
    )
    return (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(
            id_col,
            "_toks",
            F.posexplode(F.sequence(F.lit(1), n_chunks)).alias(
                "chunk_idx", "_one"
            ),
        )
        .select(
            id_col,
            "chunk_idx",
            chunk.alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens),
                F.size(F.col("_toks")) - F.col("chunk_idx") * stride,
            ).alias("n_tokens"),
        )
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column family."""
    c = F.col(text_col)
    return (
        df.withColumn("token_count", token_count(c))
        .withColumn("subword_count", subword_count(c))
        .withColumn("stopword_ratio", stopword_ratio(c))
        .withColumn("lang_pred", lang_id(c))
        .withColumn("fingerprint", doc_fingerprint(c))
        .withColumn("quality", quality_flags(c))
    )


def blocklist_hit(col: Column, words) -> Column:
    """True when the text contains any blocklist phrase as a whole
    word (case-insensitive) — the C4 §2.2 "bad words" page gate
    (Raffel et al. 2020 filtered pages matching the public LDNOOBW
    list; the list itself is user-supplied, the repo ships none).

    Pure JVM: phrases compile into alternation regexes CHUNKED at 100
    per pattern (a single 400-way alternation blows codegen compile
    time), each anchored to non-letter/digit context on both sides so
    ``notspamword`` never matches ``spamword``.  No lookarounds — the
    same pattern runs verbatim on DuckDB's RE2 in the oracle."""
    import re as _re

    ws = [w.strip().lower() for w in words if w and w.strip()]
    if not ws:
        return F.lit(False)
    hit = F.lit(False)
    for i in range(0, len(ws), 100):
        alt = "|".join(_re.escape(w) for w in ws[i : i + 100])
        pat = (
            "(?is)(^|[^\\p{L}\\p{N}])(" + alt + ")($|[^\\p{L}\\p{N}])"
        )
        hit = hit | col.rlike(pat)
    return hit


def stage_names(
    require_known_lang: bool = True,
    drop_repetitive: bool = False,
    model_quality: bool = False,
    lm_ppl: bool = False,
    compression: bool = False,
    c4_lines: bool = False,
    badwords: bool = False,
    code_filters: bool = False,
) -> List[str]:
    """Cumulative cleaning-stage names, index-aligned with the ``_drop``
    labels produced by ``label_drop_stage`` (index 0 = raw input)."""
    names = ["raw", "exact_dedup", "normalized_dedup", "min_tokens"]
    if c4_lines:
        names.append("c4_lines")
    if badwords:
        names.append("badwords_ok")
    if drop_repetitive:
        names.append("repetition_ok")
    if compression:
        names.append("compression_ok")
    if code_filters:
        names.append("code_ok")
    if model_quality:
        names.append("model_quality")
    if lm_ppl:
        names.append("lm_perplexity")
    if require_known_lang:
        names.append("lang_known")
    return names


def label_drop_stage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    require_known_lang: bool = True,
    drop_repetitive: bool = False,
    quality_model=None,
    quality_threshold: float = 0.5,
    lang_model=None,
    lang_prob_threshold: float = 0.5,
    ppl_model=None,
    ppl_threshold: float = None,
    ppl_scorer: str = "auto",
    min_compression_ratio: float = None,
    c4_lines: bool = False,
    badwords=None,
    code_filters: bool = False,
) -> DataFrame:
    """ONE pass over the corpus: each document gains ``_drop`` = the
    1-based index of the cleaning stage that removes it (NULL =
    survivor).  This is the single definition that both the funnel
    report and the materialized survivors consume, so the stats can
    never drift from the corpus actually built — and, unlike a
    cumulative re-count per stage, the two dedup window shuffles
    execute exactly once regardless of stage count.

      1. exact_dedup      : one keeper per identical text (min id)
      2. normalized_dedup : one keeper per normalized fingerprint
                            (lowercase, alphanumerics only) among
                            stage-1 keepers
      3. min_tokens       : ≥ 5 whitespace tokens
      4. repetition_ok    : Gopher repetition flags clear (opt-in via
                            ``drop_repetitive`` — shifts later stages)
      4b. compression_ok  : zlib ratio ≥ ``min_compression_ratio``
                            (opt-in — RPv2-style long-range repetition
                            signal; Arrow kernel, narrow)
      5. model_quality    : hashed-n-gram logistic quality score ≥
                            ``quality_threshold`` (opt-in: pass a
                            fitted ``quality_model`` PipelineModel —
                            the CCNet-style classifier stage; scoring
                            is a broadcast weight vector, narrow map)
      6. lang_known       : stopword-vote language ID ≠ 'und' — OR,
                            when a fitted ``lang_model`` (char-n-gram
                            multinomial, ``operators.lang_model``) is
                            passed, model confidence ≥
                            ``lang_prob_threshold`` (the heuristic →
                            model dispatch; still one narrow map)

    The stage-2 keeper is the min-id *stage-1 survivor* of each
    fingerprint group; ordering the fingerprint window by
    (_rn1, id) puts every stage-1 keeper ahead of every loser, so
    row 1 of that window is exactly that document (every fingerprint
    group contains at least one stage-1 keeper, because identical
    texts share a fingerprint)."""
    from pyspark.sql import Window

    extra_cols = []
    if c4_lines:
        # C4 is a LINE rewrite, not just a document gate: every later
        # stage (dedup fingerprints, token floor, repetition, models)
        # must see the line-filtered text, so the rewrite happens first
        # and only the page verdict rides along into the labeling pass
        df = with_c4_line_stats(df, text_col).withColumn(
            text_col, F.col("c4_text")
        ).drop("c4_text", "c4_n_lines", "c4_n_kept", "c4_n_sentences")
        extra_cols = extra_cols + ["c4_keep"]
    if drop_repetitive:
        # materialized-stage computation (see with_repetition_stats);
        # only the flag struct rides along into the labeling pass
        df = with_repetition_stats(df, text_col).drop("repetition")
        extra_cols = ["repetition_flag"]
    if min_compression_ratio is not None:
        # RPv2-style zlib signal: templated/keyword-stuffed documents
        # compress far below prose (Arrow kernel, narrow)
        df = with_compression_ratio(df, text_col, id_col)
        extra_cols = extra_cols + ["compression_ratio"]
    if quality_model is not None:
        from .quality_model import score_quality

        df = score_quality(quality_model, df, text_col)
        extra_cols = extra_cols + ["quality_prob"]
    if ppl_model is not None:
        # CCNet-style LM stage.  Mode resolution is the scalable
        # default: models under the broadcast budget score as a
        # broadcast-dict pandas UDF column (narrow map, no join);
        # models past it NEVER reach the driver — the distributed join
        # scorer computes per-doc perplexity and one co-partitioned
        # id join attaches it (both paths pinned exactly equal).
        from .ngram_lm import (
            model_order,
            perplexity_udf,
            resolve_scorer_mode,
            score_stupid_backoff_join,
        )

        mode = resolve_scorer_mode(ppl_model, ppl_scorer)
        if mode == "broadcast":
            df = df.withColumn(
                "lm_ppl", perplexity_udf(ppl_model)(F.col(text_col))
            )
        else:
            scores = score_stupid_backoff_join(
                df.select(F.col(id_col), F.col(text_col)),
                ppl_model,
                text_col,
                id_col,
                order=model_order(ppl_model),
            )
            df = df.join(
                scores.select(
                    F.col(id_col),
                    F.col("perplexity").alias("lm_ppl"),
                ),
                id_col,
                "left",
            )
        extra_cols = extra_cols + ["lm_ppl"]
    if require_known_lang and lang_model is not None:
        from .lang_model import predict_lang

        df = predict_lang(lang_model, df, text_col)
        extra_cols = extra_cols + ["lang_pred", "lang_prob"]

    c = F.col(text_col)
    w1 = Window.partitionBy("_h").orderBy(id_col)
    w2 = Window.partitionBy("_fp").orderBy("_rn1", id_col)
    lab = (
        df.withColumn("_h", F.md5(F.encode(c, "UTF-8")))
        .withColumn("_rn1", F.row_number().over(w1))
        .withColumn("_fp", doc_fingerprint(c))
        .withColumn("_rn2", F.row_number().over(w2))
    )
    # survival predicates are coalesced to False so NULL text (NULL
    # token count) is DROPPED at its stage, exactly like the filter
    # formulation this replaces (`filter(token_count >= 5)` removes
    # NULL-predicate rows; a bare `when(token_count < 5)` would let
    # them fall through as survivors)
    keep_tokens = F.coalesce(token_count(c) >= 5, F.lit(False))
    drop = (
        F.when(F.col("_rn1") > 1, F.lit(1))
        .when(F.col("_rn2") > 1, F.lit(2))
        .when(~keep_tokens, F.lit(3))
    )
    stage = 4
    if c4_lines:
        drop = drop.when(
            ~F.coalesce(F.col("c4_keep"), F.lit(False)), F.lit(stage)
        )
        stage += 1
    if badwords:
        # C4 badwords page gate: the REWRITTEN text is what gets
        # matched when c4_lines is also on (same as the paper's order)
        drop = drop.when(
            F.coalesce(blocklist_hit(c, badwords), F.lit(False)),
            F.lit(stage),
        )
        stage += 1
    if drop_repetitive:
        rep_bad = F.col("repetition_flag.too_many_dup_tokens") | F.col(
            "repetition_flag.looping_bigram"
        )
        drop = drop.when(F.coalesce(rep_bad, F.lit(False)), F.lit(stage))
        stage += 1
    if min_compression_ratio is not None:
        keep_cr = F.coalesce(
            F.col("compression_ratio") >= F.lit(float(min_compression_ratio)),
            F.lit(False),
        )
        drop = drop.when(~keep_cr, F.lit(stage))
        stage += 1
    if code_filters:
        # StarCoder-style geometry/alpha/autogen gate (codestats) as a
        # funnel stage — pure column expression, still one pass
        from .codestats import code_keep_expr

        drop = drop.when(
            ~F.coalesce(code_keep_expr(c), F.lit(False)), F.lit(stage)
        )
        stage += 1
    if quality_model is not None:
        keep_q = F.coalesce(
            F.col("quality_prob") >= quality_threshold, F.lit(False)
        )
        drop = drop.when(~keep_q, F.lit(stage))
        stage += 1
    if ppl_model is not None:
        # keep the head+middle: documents at or below the threshold
        keep_ppl = F.coalesce(
            F.col("lm_ppl") <= F.lit(float(ppl_threshold)), F.lit(False)
        )
        drop = drop.when(~keep_ppl, F.lit(stage))
        stage += 1
    if require_known_lang:
        if lang_model is not None:
            keep_lang = F.coalesce(
                F.col("lang_prob") >= lang_prob_threshold, F.lit(False)
            )
        else:
            keep_lang = F.coalesce(lang_id(c) != "und", F.lit(False))
        drop = drop.when(~keep_lang, F.lit(stage))
    return lab.withColumn("_drop", drop).drop(
        "_h", "_rn1", "_fp", "_rn2", *extra_cols
    )


def apply_cleaning(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    require_known_lang: bool = True,
    drop_repetitive: bool = False,
) -> DataFrame:
    """The cleaned corpus: documents no cleaning stage drops."""
    return (
        label_drop_stage(
            df, text_col, id_col, require_known_lang, drop_repetitive
        )
        .filter(F.col("_drop").isNull())
        .drop("_drop")
    )


def funnel_from_labels(
    lab: DataFrame,
    require_known_lang: bool = True,
    drop_repetitive: bool = False,
    model_quality: bool = False,
    lm_ppl: bool = False,
    compression: bool = False,
    c4_lines: bool = False,
    badwords: bool = False,
    code_filters: bool = False,
) -> DataFrame:
    """(stage_idx, stage, n_docs) funnel from a ``label_drop_stage``
    frame: ONE aggregate over the labels (conditional sums), exploded
    into the per-stage rows — no per-stage recount."""
    names = stage_names(
        require_known_lang, drop_repetitive, model_quality, lm_ppl,
        compression, c4_lines, badwords, code_filters,
    )
    # coalesce: F.sum over an empty corpus is NULL where the old
    # per-stage count() was 0
    aggs = [F.count("*").alias("n_0")] + [
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_drop").isNull() | (F.col("_drop") > k), 1
                ).otherwise(0)
            ),
            F.lit(0).cast("long"),
        ).alias(f"n_{k}")
        for k in range(1, len(names))
    ]
    one = lab.agg(*aggs)
    return (
        one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("stage_idx"),
                            F.lit(nm).alias("stage"),
                            F.col(f"n_{i}").alias("n_docs"),
                        )
                        for i, nm in enumerate(names)
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy("stage_idx")
    )


def cleaning_funnel(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The composed training-data cleaning pipeline as a funnel report:
    ``(stage_idx, stage, n_docs)`` after each cumulative stage (see
    ``label_drop_stage`` for the stage list).  One labeling pass + one
    aggregate — the dedup window shuffles run exactly once."""
    return funnel_from_labels(label_drop_stage(df, text_col, id_col))


# ------------------------------------------------------- C4 line filters

#: C4 (Raffel et al. 2020, "Exploring the Limits of Transfer Learning",
#: §2.2) line battery: a line survives only if it ends in a terminal
#: punctuation mark (period / exclamation / question mark / closing
#: quote), has ≥3 words, and mentions neither "javascript" nor a
#: cookie/policy boilerplate phrase (the phrase list is the
#: RefinedWeb/FineWeb extension of C4's javascript rule).  Pages drop
#: wholesale when they contain "lorem ipsum" or a curly brace, or when
#: fewer than 5 sentences survive the line filter.  Patterns are
#: engine-portable (identical under Java regex and RE2/DuckDB).
C4_TERMINAL_PATTERN = "[.!?\"’”]\\s*$"
C4_BAD_LINE_PATTERN = (
    "javascript|privacy policy|terms of use|cookie policy|"
    "use cookies|uses cookies|use of cookies"
)
C4_SENTENCE_PATTERN = "[.!?]"
C4_MIN_WORDS_PER_LINE = 3
C4_MIN_SENTENCES = 5


def with_c4_line_stats(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = C4_MIN_WORDS_PER_LINE,
    min_sentences: int = C4_MIN_SENTENCES,
) -> DataFrame:
    """C4 line filtering as added columns: ``c4_text`` (the document
    rebuilt from surviving lines), ``c4_n_lines`` / ``c4_n_kept`` /
    ``c4_n_sentences`` counters, and the page verdict ``c4_keep``.

    Pure codegen — one ``split`` + one higher-order ``filter`` whose
    predicates all reference the lambda argument (no re-evaluated
    captured expressions, see SCALE.md), then ``array_join`` and a
    ``regexp_count``.  Zero shuffle, zero Python: at 100 TB this is
    scan-bound like the PII pass."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda x: x.rlike(C4_TERMINAL_PATTERN)
        & (F.size(F.split(F.trim(x), r"\s+")) >= min_words)
        & ~F.lower(x).rlike(C4_BAD_LINE_PATTERN),
    )
    out = (
        df.withColumn("_c4_lines", lines)
        .withColumn("_c4_kept", kept)
        .withColumn("c4_text", F.array_join(F.col("_c4_kept"), "\n"))
        .withColumn("c4_n_lines", F.size("_c4_lines"))
        .withColumn("c4_n_kept", F.size("_c4_kept"))
        .withColumn(
            "c4_n_sentences",
            F.regexp_count(F.col("c4_text"), F.lit(C4_SENTENCE_PATTERN)).cast(
                "int"
            ),
        )
    )
    page_ok = (
        (F.col("c4_n_sentences") >= min_sentences)
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return out.withColumn(
        "c4_keep", F.coalesce(page_ok, F.lit(False))
    ).drop("_c4_lines", "_c4_kept")


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = C4_MIN_WORDS_PER_LINE,
    min_sentences: int = C4_MIN_SENTENCES,
) -> DataFrame:
    """The C4-filtered corpus: pages passing the page gates, with
    ``text_col`` replaced by the surviving lines."""
    return (
        with_c4_line_stats(df, text_col, min_words, min_sentences)
        .filter(F.col("c4_keep"))
        .withColumn(text_col, F.col("c4_text"))
        .drop(
            "c4_text", "c4_n_lines", "c4_n_kept", "c4_n_sentences",
            "c4_keep",
        )
    )


# ----------------------------------------------------------- PII redaction

# Engine-portable patterns (identical semantics under Java regex and
# RE2/DuckDB): training corpora are scrubbed of obvious PII before use.
# Order matters — emails first (an address contains digit runs a phone
# pattern could nibble), then phones, then IPv4.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_PHONE_PATTERN = r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b"
PII_IPV4_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# separator-grouped 16-digit card shapes only (a bare digit run is too
# ambiguous to scrub); SSN is the fixed 3-2-4 dashed shape (the 2-digit
# middle group cannot collide with the phone pattern's 3-4 digits)
PII_CC_PATTERN = r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b"
PII_SSN_PATTERN = r"\b\d{3}-\d{2}-\d{4}\b"
# IPv6: full/near-full form (≥3 colon groups so clock times like
# 12:30:45 never match — they only have 2) OR ::-compressed with at
# least one leading group (misses the bare "::1" loopback — documented
# subset; both Java regex and RE2 compile this identically)
PII_IPV6_PATTERN = (
    r"\b(?:[0-9A-Fa-f]{1,4}:){3,7}[0-9A-Fa-f]{1,4}\b"
    r"|\b(?:[0-9A-Fa-f]{1,4}:)+:(?:[0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{1,4}\b"
)

# replacement order matters only for overlap safety: cards/SSNs go
# before phones so a partially-replaced long digit run can never
# re-match as a phone
PII_RULES = [
    ("email", PII_EMAIL_PATTERN, "<EMAIL>"),
    ("cc", PII_CC_PATTERN, "<CC>"),
    ("ssn", PII_SSN_PATTERN, "<SSN>"),
    ("phone", PII_PHONE_PATTERN, "<PHONE>"),
    ("ip", PII_IPV4_PATTERN, "<IP>"),
    ("ipv6", PII_IPV6_PATTERN, "<IPV6>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace emails / card numbers / SSNs / phone numbers / IPv4 /
    IPv6 addresses with typed placeholder tokens and count each per
    document.

    Pure codegen (one ``regexp_replace`` + one ``regexp_count`` per
    rule over one pass of the column) — zero shuffle, zero Python; at
    100 TB this is scan-bound.  Counts are taken on the ORIGINAL text,
    before any replacement can overlap a later pattern.
    → input columns + ``{text_col}_redacted, n_emails, n_ccs, n_ssns,
    n_phones, n_ips, n_ipv6s``."""
    out = df
    redacted = F.col(text_col)
    for _name, pat, repl in PII_RULES:
        redacted = F.regexp_replace(redacted, pat, repl)
    for name, pat, _repl in PII_RULES:
        col = {"ip": "n_ips", "ipv6": "n_ipv6s"}.get(
            name, f"n_{name}s"
        )
        out = out.withColumn(
            col,
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("int"),
        )
    return out.withColumn(f"{text_col}_redacted", redacted)


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level n-gram frequency statistics (LM/data-quality staple:
    boilerplate discovery, contamination screens, vocabulary audits).
    Explode every document's n-grams, count, return the ``top_k`` most
    frequent with document frequency alongside.

    Scale shape: the explode is narrow; the count is a hash aggregate
    with map-side partial aggregation, so the exchange carries one row
    per DISTINCT n-gram per task — not one per occurrence — and the
    final top-k is TakeOrderedAndProject, never a global sort."""
    toks = tokens(F.col(text_col))
    # sequence(0, stop) DESCENDS when stop < 0 (docs shorter than n
    # grams) — guard with an explicit empty array, not greatest()
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return (
        df.select(F.col("doc_id"), F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "ngram")
        .limit(top_k)
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the standard keyword /
    document-representation primitive (sklearn's smooth-idf formula:
    ``idf = ln((N+1)/(df+1)) + 1``, raw term counts as tf).

    Returns (id, term, tf, score, rn) with ``rn`` the 1-based rank by
    (score DESC, term ASC) — the term tiebreak makes the output fully
    deterministic.

    Scale shape: term frequencies are ONE hash aggregate on
    (doc, term); document frequencies are a SECOND aggregate over that
    (already-deduplicated) table, so the corpus is never re-scanned;
    the idf join is keyed on term (AQE broadcasts it when the
    vocabulary is small); N arrives as a broadcast 1-row cross join,
    never a driver round-trip; the final top-k is a window partitioned
    by document — map-side WindowGroupLimit prunes before the shuffle."""
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log((F.col("_n") + 1.0) / (F.col("df") + 1.0)) + 1.0
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col(id_col),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round("score", 6).alias("score"),
            "rn",
        )
    )


def with_compression_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Attach ``compression_ratio`` = len(zlib(text)) / len(utf8 text)
    — the RedPajama-v2 / Dolma-family quality signal: highly repetitive
    or templated documents compress far below prose (~0.3-0.6 for
    natural text; boilerplate and keyword-stuffed spam dive under it,
    random noise sits near 1.0).  Complements the n-gram repetition
    battery: zlib's LZ77 window catches long-range repetition the
    fixed-n statistics miss.

    zlib is not expressible in SQL, so this signal is pytest-pinned
    rather than DuckDB-oracled.  Arrow-batched kernel (one pass, no
    shuffle); empty documents get ratio NULL."""
    import pyspark.sql.types as T

    out_fields = df.schema.fields + [
        T.StructField("compression_ratio", T.DoubleType(), True)
    ]
    schema = T.StructType(out_fields)

    def kernel(batches):
        import zlib as _zlib

        for pdf in batches:
            ratios = []
            for t in pdf[text_col]:
                raw = (t or "").encode("utf-8")
                ratios.append(
                    len(_zlib.compress(raw, 6)) / len(raw) if raw else None
                )
            pdf = pdf.copy()
            pdf["compression_ratio"] = ratios
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    form: str = "NFKC",
    strip_controls: bool = True,
    collapse_ws: bool = False,
) -> DataFrame:
    """Unicode normalization — the first step of essentially every
    public cleaning recipe (CCNet normalizes before hashing; Gopher
    and fastText pipelines NFKC-fold width/ligature/compatibility
    variants so '１２３' and 'ﬁ' match their ASCII forms).

    ``form`` ∈ NFC/NFKC/NFD/NFKD via ``unicodedata`` in an Arrow
    kernel (narrow, zero shuffles).  ``strip_controls`` removes
    C0/C1 controls except tab/newline; ``collapse_ws`` collapses
    whitespace runs to single spaces and trims.  The NFC path is
    cross-engine-oracled against DuckDB's ``nfc_normalize`` (lane
    ``text_normalize``) — two independent Unicode implementations
    agreeing on the same bytes."""
    import pyspark.sql.types as T

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"normalize_text: unknown form {form!r}")
    schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.StringType(), True)]
    )

    def kernel(batches):
        import re as _re
        import unicodedata as _ud

        ctrl = _re.compile(r"[\x00-\x08\x0b-\x1f\x7f-\x9f]")
        ws = _re.compile(r"\s+")
        for pdf in batches:
            out = []
            for t in pdf[text_col]:
                if t is None:
                    out.append(None)
                    continue
                s = _ud.normalize(form, str(t))
                if strip_controls:
                    s = ctrl.sub("", s)
                if collapse_ws:
                    s = ws.sub(" ", s).strip()
                out.append(s)
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


def readability_scores(col: Column) -> Column:
    """Flesch reading-ease + Flesch-Kincaid grade as a struct — the
    classic shallow readability battery corpus audits report next to
    the Gopher stats.  Entirely JVM regexp/array work (codegen):

    - words: whitespace tokens
    - sentences: runs ending in ``.!?`` (min 1 — headline documents)
    - syllables: vowel-GROUP count per word with a silent-e discount,
      min 1 per word — the standard public approximation (exact
      hyphenation needs a dictionary; every OSS implementation of
      Flesch uses a vowel-group heuristic of this family)

    reading_ease = 206.835 − 1.015·(words/sentences)
                   − 84.6·(syllables/words)
    fk_grade     = 0.39·(words/sentences) + 11.8·(syllables/words)
                   − 15.59
    """
    toks = tokens(col)
    n_words = F.size(toks)
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(col, F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    syl_of = lambda w: F.greatest(  # noqa: E731
        F.size(
            F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)
        )
        - F.when(F.lower(w).rlike("[^aeiouy]e$"), F.lit(1)).otherwise(
            F.lit(0)
        ),
        F.lit(1),
    )
    n_syl = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + syl_of(w)
    )
    wps = n_words.cast("double") / n_sents
    spw = F.when(
        n_words > 0, n_syl.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return F.struct(
        n_words.alias("n_words"),
        n_sents.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        F.when(n_words > 0, ease).alias("reading_ease"),
        F.when(n_words > 0, grade).alias("fk_grade"),
    )


# ------------------------------------------------ mojibake repair

#: cp1252's 0x80-0x9F graphics (the 27 defined slots): the characters a
#: UTF-8 byte stream grows when mis-decoded as Windows-1252 — the
#: dominant real-web double-encoding (ftfy's core case).
_CP1252_SPECIALS = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8a: "Š", 0x8b: "‹", 0x8c: "Œ",
    0x8e: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9a: "š", 0x9b: "›",
    0x9c: "œ", 0x9e: "ž", 0x9f: "Ÿ",
}
_CP1252_FROM = "".join(_CP1252_SPECIALS.values())
_CP1252_TO = "".join(chr(b) for b in _CP1252_SPECIALS)
# a mojibake "tail" char: anything a UTF-8 continuation byte (0x80-BF)
# renders as under latin-1 OR cp1252
_MOJI_TAIL = "[\\x80-\\xbf" + re.escape(_CP1252_FROM) + "]"
#: indicator: a two-byte UTF-8 lead mis-decoded (Â/Ã + tail) or the
#: three-byte punctuation prefix â€ (U+2000-range as cp1252)
MOJIBAKE_INDICATOR = f"(?:Ã{_MOJI_TAIL}|Â{_MOJI_TAIL}|â€)"


def mojibake_count(col: Column) -> Column:
    """Number of mojibake indicator hits in a string (JVM regex)."""
    return F.regexp_count(col, F.lit(MOJIBAKE_INDICATOR))


def fix_mojibake(
    df: DataFrame, text_col: str = "text", out_col: str = None
) -> DataFrame:
    """ftfy-style double-encoding repair, entirely JVM-side: text that
    looks like UTF-8 mis-decoded as Windows-1252/latin-1 ("CafÃ©",
    "â€” quoted â€œtextâ€œ") is re-encoded back to its original bytes
    (cp1252 graphics translated to their 0x80-0x9F code points, then
    latin-1 encode) and re-decoded as UTF-8.

    The repair is GUARDED — it applies only when ALL hold, else the
    text passes through untouched (never destructive):

    - the indicator regex fires at least once on the input;
    - every char is round-trippable to a single byte (≤ U+00FF after
      the cp1252 translation) — so genuinely multilingual text can
      never be squashed through latin-1;
    - the UTF-8 re-decode is clean (no U+FFFD replacement — a legit
      " or stray Â that is NOT mojibake fails this and is kept);
    - the repaired text has strictly fewer indicator hits.

    Adds ``mojibake_fixed`` (boolean).  One narrow map, no Python.
    Double-mojibake (encoded twice) repairs one layer per call;
    compose twice if a corpus is known to carry it."""
    c = F.col(text_col)
    n_before = mojibake_count(c)
    translated = F.translate(c, _CP1252_FROM, _CP1252_TO)
    # Spark 4 encode/decode THROW on unmappable/malformed input (ANSI),
    # so both stay inside conditionals: encode only when every char is
    # single-byte, decode only when the bytes are valid UTF-8
    latin_ok = translated.rlike("^[\\x00-\\xff]*$")
    b = F.when(latin_ok, F.encode(translated, "ISO-8859-1"))
    valid = F.coalesce(
        F.when(latin_ok, F.is_valid_utf8(b)), F.lit(False)
    )
    cand = F.when(valid, F.decode(b, "UTF-8"))
    good = F.coalesce(
        (n_before > 0) & valid & (mojibake_count(cand) < n_before),
        F.lit(False),
    )
    # one withColumns: chaining withColumn would re-resolve ``good``
    # against the already-repaired text and always report False
    return df.withColumns(
        {
            out_col or text_col: F.when(good, cand).otherwise(c),
            "mojibake_fixed": good,
        }
    )


# --------------------------------------- per-line language segmentation


def lang_segments(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-LINE language table ``(id, line_idx, lang, n_chars)`` over
    non-blank lines — the CCNet refinement of document-level langID:
    real web pages interleave languages (navigation vs body, quoted
    sources, code comments), and a whole-document vote mislabels or
    'und's them.  One split + posexplode; the stopword vote runs per
    line inside the same JVM expression family as ``lang_id``."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "line_idx", "line"
        ),
    ).filter(F.trim(F.col("line")) != "")
    return lines.select(
        id_col,
        "line_idx",
        lang_id(F.col("line")).alias("lang"),
        F.length("line").alias("n_chars"),
    )


def doc_lang_profile(
    segs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Roll per-line language rows up to a document profile:
    ``(id, dominant_lang, dominant_frac, n_langs, mixed)`` — dominant
    by character mass (ties to the lexicographically smallest lang),
    ``n_langs`` counting identified (non-'und') languages, ``mixed``
    when ≥ 2.  The corpus-mix gate: route mixed documents to per-line
    filtering instead of dropping them on a single doc-level vote.
    Two aggregates + one per-doc window."""
    from pyspark.sql import Window

    per = segs.groupBy(id_col, "lang").agg(
        F.sum("n_chars").alias("chars")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("chars"), F.asc("lang")
    )
    ranked = per.withColumn("_rn", F.row_number().over(w))
    totals = per.groupBy(id_col).agg(
        F.sum("chars").alias("_total"),
        F.sum(
            F.when(F.col("lang") != "und", 1).otherwise(0)
        ).alias("n_langs"),
    )
    return (
        ranked.filter(F.col("_rn") == 1)
        .join(totals, id_col)
        .select(
            F.col(id_col),
            F.col("lang").alias("dominant_lang"),
            F.round(F.col("chars") / F.col("_total"), 6).alias(
                "dominant_frac"
            ),
            F.col("n_langs").cast("int").alias("n_langs"),
            (F.col("n_langs") >= 2).alias("mixed"),
        )
    )


# --------------------------------------------- writing-script profile

#: Java regex script classes (Spark side) — the DuckDB oracle uses the
#: RE2 spellings (\p{Latin} etc.); results, not patterns, are pinned.
_SCRIPT_CLASSES = {
    "latin": r"\p{IsLatin}",
    "cyrillic": r"\p{IsCyrillic}",
    "han": r"\p{IsHan}",
    "kana": r"\p{IsHiragana}\p{IsKatakana}",
    "arabic": r"\p{IsArabic}",
    "greek": r"\p{IsGreek}",
}


def _class_count(col: Column, cls: str) -> Column:
    return F.length(col) - F.length(
        F.regexp_replace(col, f"[{cls}]", "")
    )


def script_profile(col: Column) -> Column:
    """Writing-script character fractions over the LETTERS of a string
    → struct(latin, cyrillic, han, kana, arabic, greek, other) — the
    script-consistency quality signal (a page claiming to be English
    prose with 30% Cyrillic letters is SEO spam or mojibake; CJK
    corpora route by han/kana mass).  Pure JVM regex counting."""
    letters = _class_count(col, r"\p{L}")
    named = {
        k: _class_count(col, cls) for k, cls in _SCRIPT_CLASSES.items()
    }
    other = letters - sum(named.values(), F.lit(0))

    def frac(c: Column) -> Column:
        return F.round(
            F.when(letters > 0, c / letters).otherwise(F.lit(0.0)), 6
        )

    return F.struct(
        *[frac(c).alias(k) for k, c in named.items()],
        frac(other).alias("other"),
        letters.cast("int").alias("n_letters"),
    )


def mixed_script_word_count(col: Column) -> Column:
    """Number of whitespace words mixing Latin and Cyrillic letters —
    the classic homoglyph-spoofing signal (pаypаl with Cyrillic а):
    legitimate text virtually never mixes the two scripts INSIDE one
    word, so any hit is a strong spam/phishing marker."""
    pat = (
        r"[^\s]*\p{IsLatin}[^\s]*\p{IsCyrillic}[^\s]*"
        r"|[^\s]*\p{IsCyrillic}[^\s]*\p{IsLatin}[^\s]*"
    )
    return F.regexp_count(col, F.lit(pat))
