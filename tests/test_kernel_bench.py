"""Per-rule kernel micro-benchmarks + a host-speed-invariant regression
guard (VERDICT r2 "Next round" #1).

Background: BENCH_r02 showed the flagship extract lane at 1.473 s vs
BENCH_r01's 1.005 s at sf0.1.  Bisecting with interleaved A/B runs of
the r1 kernel (commit 88ae9a9) vs HEAD on the same host showed the two
are statistically identical (best-of-4: 0.877 s vs 0.884 s) — the r2
number was host-load noise on a single timed pass, not a code
regression.  These benches exist so a *real* kernel CPU regression
fails in-round instead of surfacing as an unexplained bench delta:

- ``test_rule_microbench``: pytest-benchmark per rule (informational —
  run ``pytest tests/test_kernel_bench.py --benchmark-enable`` and
  compare against a saved ``--benchmark-autosave`` run).
- ``test_checks_vs_parse_ratio``: asserts the full rule catalog costs
  at most RATIO_CAP× the pandas CSV parse of the same documents.  Both
  sides run in-process back-to-back, so host speed cancels out; the
  measured ratio is ~1.5 (r1 kernel: ~2.1), and the cap of 3.5 trips
  on any ~75%+ rule-side CPU blowup while staying flake-free on
  loaded hosts.
- ``test_whale_checks_vs_parse_ratio``: the same ratio over 2000×20
  all-string CSVs, where a per-cell walk in any profiled check shows
  first; cap 3.0, measured ~1.0.
- ``test_kernel_absolute_floor``: a very generous absolute floor
  (>100 docs/s/core; measured ~500) that catches catastrophic
  regressions (accidental O(n²), per-call regex compiles).
"""

from __future__ import annotations

import time

import pytest

from machine_readability_checker_spark.core.checks import (
    RULES,
    _body_df,
    run_checks,
)
from machine_readability_checker_spark.core.grid import parse_document
from machine_readability_checker_spark.core.zones import extract_zones


def _synth_csv(doc_idx: int, n_rows: int = 24) -> bytes:
    """Deterministic CSV document shaped like the bench corpus
    (5 columns, token-ish cells, a sprinkle of numerics and blanks)."""
    rows = ["c1,c2,c3,c4,c5"]
    for r in range(n_rows):
        cells = []
        for c in range(5):
            v = (doc_idx * 31 + r * 7 + c * 3) % 29
            if v == 0:
                cells.append("")
            elif v < 8:
                cells.append(str(v * 100 + r))
            else:
                cells.append(f"tok{v}w{r}")
        rows.append(",".join(cells))
    return ("\n".join(rows) + "\n").encode("utf-8")


@pytest.fixture(scope="module")
def parsed_docs():
    docs = []
    for i in range(40):
        doc = parse_document("csv", _synth_csv(i))
        sheet = doc.sheets[0]
        ctx = extract_zones(
            sheet.rows,
            sheet.name,
            header_start_row=1,
            header_end_row=1,
            data_start_row=0,
            data_end_row=0,
        )
        docs.append((doc, ctx, _body_df(ctx)))
    return docs


_SHEET_ARG_FNS = {
    "check_one_table_per_sheet",
    "check_no_hidden_rows_or_columns",
    "check_no_merged_cells",
    "check_no_format_based_semantics",
    "check_no_whitespace_formatting",
    "check_no_platform_dependent_characters",
}


@pytest.mark.parametrize(
    "rule_id,fn", [(rid, fn) for rid, _d, fn in RULES], ids=[r[0] for r in RULES]
)
def test_rule_microbench(benchmark, parsed_docs, rule_id, fn):
    """Per-rule cost over the 40-doc fixture set.  Pedantic mode keeps
    the default (benchmark-disabled) suite fast."""

    def run_all():
        for doc, ctx, body in parsed_docs:
            if fn.__name__ in _SHEET_ARG_FNS:
                fn(doc, ctx, body, 0)
            else:
                fn(doc, ctx, body)

    benchmark.pedantic(run_all, rounds=3, iterations=1, warmup_rounds=1)


def test_checks_vs_parse_ratio(parsed_docs):
    """run_checks ≤ 3.5× parse_document on the same docs (ratio is
    host-speed-invariant; measured 1.4-1.5 with the column profile,
    1.6-2.3 before it, ~2.1 on the r1 kernel)."""
    raw = [_synth_csv(i) for i in range(40)]
    # warmup both sides (regex compile caches, pandas import paths)
    for b in raw[:5]:
        parse_document("csv", b)
    for doc, ctx, body in parsed_docs[:5]:
        run_checks(doc, ctx)

    reps = 3
    t0 = time.perf_counter()
    for _ in range(reps):
        for b in raw:
            parse_document("csv", b)
    t_parse = time.perf_counter() - t0

    t0 = time.perf_counter()
    for _ in range(reps):
        for doc, ctx, body in parsed_docs:
            run_checks(doc, ctx)
    t_checks = time.perf_counter() - t0

    ratio = t_checks / t_parse
    assert ratio < 3.5, (
        f"rule catalog costs {ratio:.2f}x the CSV parse (cap 3.5x) — "
        "a kernel CPU regression landed; bisect the checks/cells diff"
    )


def test_whale_checks_vs_parse_ratio():
    """run_checks ≤ 3.0× parse_document CPU over whale-shaped CSVs
    (``fam_whale``: 2000×20, every cell a string).  Nine checks walking
    every cell in Python put this ratio at 8.3-9.2; the column profile
    answers them once per distinct value (measured 0.6-1.1)."""
    import numpy as np

    from machine_readability_checker_spark.sources.fixtures import fam_whale

    raw = [bytes(fam_whale(np.random.RandomState(i), i)["content"]) for i in range(3)]
    parsed = []
    for b in raw:
        doc = parse_document("csv", b)
        sheet = doc.sheets[0]
        parsed.append((doc, extract_zones(sheet.rows, sheet.name)))
    run_checks(*parsed[0])  # warmup

    reps = 2
    t0 = time.process_time()
    for _ in range(reps):
        for b in raw:
            parse_document("csv", b)
    t_parse = time.process_time() - t0

    t0 = time.process_time()
    for _ in range(reps):
        for doc, ctx in parsed:
            run_checks(doc, ctx)
    t_checks = time.process_time() - t0

    ratio = t_checks / t_parse
    assert ratio <= 3.0, (
        f"rule catalog costs {ratio:.2f}x the CSV parse on whale CSVs "
        "(cap 3.0x) — a per-cell walk is back on all-string columns"
    )


def test_kernel_absolute_floor(parsed_docs):
    """Catastrophe guard: full extract path must exceed 100 docs/s/core
    on the fixture docs (measured ~500 on the bench host)."""
    from machine_readability_checker_spark.core.extract import extract_document

    raw = [(f"d{i}", _synth_csv(i)) for i in range(40)]
    for did, b in raw[:5]:
        extract_document(did, "csv", b, 1, 1, 0, 0)
    t0 = time.perf_counter()
    for did, b in raw:
        extract_document(did, "csv", b, 1, 1, 0, 0)
    dt = time.perf_counter() - t0
    rate = len(raw) / dt
    assert rate > 100, f"kernel at {rate:.0f} docs/s/core (floor 100)"


def test_media_hash_kernels_absolute_floor():
    """Catastrophe guards for the session-D perceptual-hash kernels
    (accidental O(n²), per-call regex/FFT-plan rebuilds): generous
    floors far under measured rates so loaded hosts never flake."""
    import numpy as np

    from machine_readability_checker_spark.core.gif import (
        encode_gif_animation,
    )
    from machine_readability_checker_spark.core.png import encode_png
    from machine_readability_checker_spark.core.wav import encode_wav
    from machine_readability_checker_spark.operators.imagehash import (
        dhash_target_image,
    )
    from machine_readability_checker_spark.operators.mediahash import (
        audio_fingerprint,
        video_fold,
    )

    # image: dhash via the full decode path — measured >2000/s/core
    from machine_readability_checker_spark.operators.imagehash import (
        _to_gray,
        dhash_gray,
    )
    from machine_readability_checker_spark.operators.multimodal import (
        decode_image,
    )

    pngs = [
        encode_png(9, 8, 1, dhash_target_image(i * 977).tobytes())
        for i in range(60)
    ]
    t0 = time.perf_counter()
    for b in pngs:
        img = decode_image(b)
        dhash_gray(_to_gray(img.width, img.height, img.channels, img.pixels))
    assert len(pngs) / (time.perf_counter() - t0) > 200

    # audio: 0.5 s clips — measured >300/s/core
    x = (np.sin(np.arange(4000) * 0.3) * 20000).astype("<i2").tobytes()
    wavs = [encode_wav(8000, 1, 16, x) for _ in range(30)]
    for b in wavs[:3]:
        audio_fingerprint(b)
    t0 = time.perf_counter()
    for b in wavs:
        audio_fingerprint(b)
    assert len(wavs) / (time.perf_counter() - t0) > 30

    # video: 3-frame GIFs — measured >300/s/core
    gray = dhash_target_image(12345)
    rgb = np.repeat(gray.reshape(8, 9, 1), 3, axis=2).tobytes()
    f = {"left": 0, "top": 0, "w": 9, "h": 8, "rgb": rgb}
    gifs = [encode_gif_animation(9, 8, [f, f, f]) for _ in range(30)]
    t0 = time.perf_counter()
    for b in gifs:
        video_fold(b)
    assert len(gifs) / (time.perf_counter() - t0) > 30


def test_markdown_kernel_absolute_floor():
    """Markdown block parse + inline cleanup must stay linear: >200
    README-sized docs/s/core (measured well over 1000)."""
    from machine_readability_checker_spark.core.markdown import (
        extract_md_spans,
    )
    from machine_readability_checker_spark.sources.fixtures import (
        FAMILIES,
        gen_doc,
    )

    fam_idx = [n for n, _ in FAMILIES].index("md_docs")
    n_fam = len(FAMILIES)
    docs = [
        bytes(gen_doc(fam_idx + i * n_fam)["content"]) for i in range(40)
    ]
    for b in docs[:5]:
        extract_md_spans(b)
    t0 = time.perf_counter()
    for b in docs:
        extract_md_spans(b)
    assert len(docs) / (time.perf_counter() - t0) > 200


def test_legacy_office_and_wiki_kernel_floors():
    """The session-G parsers must stay linear: generous absolute floors
    per format (measured: doc ~2000/s, ppt ~10000/s, wiki ~1500/s,
    hocr ~1500/s single-core on the fixture shapes)."""
    from machine_readability_checker_spark.core.doc import extract_doc_spans
    from machine_readability_checker_spark.core.hocr import (
        extract_hocr_spans,
    )
    from machine_readability_checker_spark.core.ppt import extract_ppt_spans
    from machine_readability_checker_spark.core.wikitext import (
        extract_wiki_spans,
    )
    from machine_readability_checker_spark.sources.fixtures import (
        FAMILIES,
        gen_doc,
    )

    n_fam = len(FAMILIES)
    names = [n for n, _ in FAMILIES]
    for fam, fn, floor in (
        ("doc_docs", extract_doc_spans, 200),
        ("ppt_docs", extract_ppt_spans, 400),
        ("wiki_docs", extract_wiki_spans, 200),
        ("hocr_docs", extract_hocr_spans, 200),
    ):
        fam_idx = names.index(fam)
        docs = [
            bytes(gen_doc(fam_idx + i * n_fam, whale_every=None)["content"])
            for i in range(30)
        ]
        for b in docs[:5]:
            spans, err = fn(b)
            assert err is None, f"{fam}: warmup parse failed: {err}"
        t0 = time.perf_counter()
        for b in docs:
            fn(b)
        rate = len(docs) / (time.perf_counter() - t0)
        assert rate > floor, f"{fam} kernel at {rate:.0f} docs/s < {floor}"


def test_session_h_kernel_floors():
    """Session-H parsers stay linear: generous absolute floors per
    format (measured single-core on the fixture shapes: org ~4000/s,
    txt ~9000/s, doc-tables ~2500/s, tiff-lzw ~700 decodes/s)."""
    from machine_readability_checker_spark.core.doc import (
        extract_doc_tables,
    )
    from machine_readability_checker_spark.core.fwtext import (
        extract_txt_spans,
    )
    from machine_readability_checker_spark.core.org import extract_org_spans
    from machine_readability_checker_spark.sources.fixtures import (
        FAMILIES,
        gen_doc,
    )

    n_fam = len(FAMILIES)
    names = [n for n, _ in FAMILIES]
    for fam, fn, floor in (
        ("org_docs", extract_org_spans, 400),
        ("txt_docs", extract_txt_spans, 800),
    ):
        fam_idx = names.index(fam)
        docs = [
            bytes(gen_doc(fam_idx + i * n_fam, whale_every=None)["content"])
            for i in range(30)
        ]
        for b in docs[:5]:
            spans, err = fn(b)
            assert err is None, f"{fam}: warmup parse failed: {err}"
        t0 = time.perf_counter()
        for b in docs:
            fn(b)
        rate = len(docs) / (time.perf_counter() - t0)
        assert rate > floor, f"{fam} kernel at {rate:.0f} docs/s < {floor}"

    # TAP grid extraction over the merged-span variant doc
    from machine_readability_checker_spark.operators.webtables import (
        doc_variant_doc,
    )

    blobs = [doc_variant_doc(i, "prose text for the page") for i in range(12)]
    for b in blobs[:3]:
        assert extract_doc_tables(b)
    t0 = time.perf_counter()
    for b in blobs:
        extract_doc_tables(b)
    rate = len(blobs) / (time.perf_counter() - t0)
    assert rate > 100, f"doc TAP grids at {rate:.0f} docs/s < 100"

    # TIFF LZW decode (the slowest pure-Python path of the codec)
    import numpy as np

    from machine_readability_checker_spark.core.tiff import (
        decode_tiff,
        encode_tiff,
    )

    rgb = np.random.RandomState(9).randint(0, 256, (32, 32, 3), np.uint8)
    blob = encode_tiff(32, 32, 3, rgb.tobytes(), "lzw")
    decode_tiff(blob)
    t0 = time.perf_counter()
    for _ in range(20):
        decode_tiff(blob)
    rate = 20 / (time.perf_counter() - t0)
    assert rate > 60, f"tiff lzw decode at {rate:.0f}/s < 60"
