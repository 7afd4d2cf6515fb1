"""Training-data pipeline operators: dedup family, similarity search,
text stats, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from machine_readability_checker_spark.operators import dedup, similarity, textstats
from machine_readability_checker_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    encode_fake_image,
    extract_media_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = [
        ("d1", base),
        ("d2", base),  # exact dup of d1
        ("d3", base + " tail"),  # near dup
        ("d4", "completely different words about spark query engines here"),
        ("d5", "a e i o u " * 10),
        ("d6", base.replace("quick", "slow")),  # near dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert "d1" in ids and "d2" not in ids
    assert len(ids) == 5

    groups = dedup.duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == ["d1", "d2"]


def test_minhash_lsh(docs):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.4, shingle_k=3)
    got = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in pairs.collect()}
    assert got.get(("d1", "d2")) == 1.0  # identical
    assert ("d1", "d4") not in got  # unrelated must not pair
    near = [p for p in got if set(p) & {"d3", "d6"}]
    assert near, "near-duplicates should surface as candidates"


def test_simhash(docs):
    hashed = docs.select("doc_id", dedup.simhash(F.col("text")).alias("sh"))
    vals = {r["doc_id"]: r["sh"] for r in hashed.collect()}
    assert vals["d1"] == vals["d2"]
    assert vals["d1"] != vals["d4"]

    pairs = dedup.simhash_pairs(docs, max_hamming=16)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get(("d1", "d2")) == 0
    assert ("d1", "d4") not in got


def test_ngram_jaccard(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get(("d1", "d2")) == 1.0
    assert ("d1", "d4") not in got


def test_portable_token_hash_and_minhash(docs, spark):
    """The engine-portable (oracle-lane) token hash must equal
    int(md5(token).hexdigest()[:7], 16) — the value a DuckDB oracle
    computes — and the portable MinHash lane must keep the production
    lane's semantics."""
    import hashlib

    row = (
        spark.createDataFrame([("x", "hello world")], ["doc_id", "text"])
        .select(dedup._token_hashes(F.col("text"), portable=True).alias("th"))
        .collect()[0]
    )
    exp = [
        int(hashlib.md5(t.encode()).hexdigest()[:7], 16)
        for t in ["hello", "world"]
    ]
    assert row["th"] == exp

    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.4, shingle_k=3, portable=True
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in pairs.collect()}
    assert got.get(("d1", "d2")) == 1.0
    assert ("d1", "d4") not in got


def test_portable_simhash_banding_recall_complete(docs):
    """The pigeonhole banding must equal the brute-force all-pairs
    Hamming filter exactly — that equivalence is what lets the DuckDB
    oracle skip the band logic."""
    import itertools

    table = dedup.simhash_table(docs, bits=32, portable=True)
    sh = {r["doc_id"]: r["sh"] for r in table.collect()}
    assert all(0 <= v < (1 << 32) for v in sh.values())
    expected = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a, b in itertools.combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 16
    }
    pairs = dedup.simhash_pairs(docs, max_hamming=16, bits=32, portable=True)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got == expected
    assert got.get(("d1", "d2")) == 0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(16)
    rows = []
    for i in range(50):
        v = rng.randn(16)
        rows.append((i, [float(x) for x in v]))
    # vec 100 ≈ vec 101 (near-dup), both near `base`
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in base + 0.001 * rng.randn(16)]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk(vectors):
    q = vectors.filter("vec_id = 100").collect()[0]["embedding"]
    top = similarity.brute_force_topk(vectors, q, k=3).collect()
    assert top[0]["vec_id"] == 100 and top[0]["cosine"] == pytest.approx(1.0)
    assert top[1]["vec_id"] == 101 and top[1]["cosine"] > 0.999


def test_knn_join_matches_brute_force(vectors):
    queries = vectors.filter("vec_id in (100, 5)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    knn = similarity.knn_join(vectors, queries, k=3)
    rows = {(r["query_id"], r["rank"]): r["vec_id"] for r in knn.collect()}
    assert rows[(100, 1)] == 100 and rows[(100, 2)] == 101
    q5 = vectors.filter("vec_id = 5").collect()[0]["embedding"]
    bf = [r["vec_id"] for r in similarity.brute_force_topk(vectors, q5, k=3).collect()]
    assert [rows[(5, i)] for i in (1, 2, 3)] == bf


def test_lsh_bucket_topk_finds_self_and_neardup(vectors):
    queries = vectors.filter("vec_id = 100").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = similarity.lsh_bucket_topk(vectors, queries, k=5, dim=16)
    ids = [r["vec_id"] for r in approx.collect()]
    assert 100 in ids and 101 in ids  # same bucket by construction


def test_embedding_near_dups(vectors):
    pairs = similarity.embedding_near_dups(vectors, threshold=0.999, dim=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (100, 101) in got
    assert all(p == (100, 101) for p in got)


def test_lsh_near_dups_subset_of_exact_pairs(vectors):
    """The LSH near-dup pairs must be a subset of the exact cosine pairs
    (same threshold), and must not lose the planted near-duplicate —
    cosine_pairs is the brute-force verification twin."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs(vectors, threshold=0.9).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dups(
            vectors, threshold=0.9, dim=16
        ).collect()
    }
    assert approx <= exact
    assert (100, 101) in exact and (100, 101) in approx


def test_text_stats(spark):
    df = spark.createDataFrame(
        [("a", "the cat sat on the mat"), ("b", "el la de y que en los x")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textstats.with_text_stats(df).collect()}
    assert out["a"]["token_count"] == 6
    assert out["a"]["stopword_ratio"] == pytest.approx(2 / 6)
    assert out["a"]["lang_pred"] == "en"
    assert out["b"]["lang_pred"] == "es"
    assert len(out["a"]["fingerprint"]) == 32
    assert out["a"]["quality"]["too_short"] is False


def test_media_features(spark):
    rows = [
        ("d1", "img/1.png", "image", bytearray(encode_fake_image(8, 4, bytes(range(32))))),
        ("d2", "img/2.png", "image", bytearray(b"not-a-real-container")),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    ok = out["img/1.png"]
    assert (ok["width"], ok["height"]) == (8, 4)
    assert ok["mean_byte"] == pytest.approx(sum(range(32)) / 32)
    assert ok["decode_error"] is None
    bad = out["img/2.png"]
    assert bad["decode_error"] is not None and bad["width"] is None


def test_bucketed_index_prunes_partitions(spark, vectors, tmp_path):
    """IVF-style index: write corpus partitioned by hyperplane bucket,
    query reads only its bucket partition (PartitionFilters in the scan),
    finds the planted near-dup, and multi-probe widens recall."""
    path = str(tmp_path / "ann_index")
    similarity.write_bucketed_index(vectors, path, n_planes=4, dim=16)

    q = vectors.filter("vec_id = 100").collect()[0]["embedding"]
    top = similarity.query_bucketed_index(spark, path, q, k=5, n_planes=4, dim=16)
    plan = top._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("FileScan")[1]
    part_filters = scan.split("PartitionFilters:")[1].splitlines()[0]
    assert "bucket" in part_filters  # pruned, not a full scan

    ids = [r["vec_id"] for r in top.collect()]
    assert ids[0] == 100 and 101 in ids  # same bucket by construction

    probed = similarity.query_bucketed_index(
        spark, path, q, k=50, n_planes=4, dim=16, probe_hamming=1
    )
    n_exact = top.count()
    assert probed.count() >= n_exact  # multi-probe reads more buckets


def test_near_dup_clusters_and_keep_list(docs, spark):
    """Clustering over a near-dup pair graph: transitive closure via
    min-label propagation, then keep-one-per-cluster."""
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("d5", "d6")], ["id_a", "id_b"]
    )
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.near_dup_clusters(pairs).collect()
    }
    assert clusters == {
        "d1": "d1", "d2": "d1", "d3": "d1",  # chain closes transitively
        "d5": "d5", "d6": "d5",
    }
    kept = {r["doc_id"] for r in dedup.dedup_keep_list(docs, 
        dedup.near_dup_clusters(pairs)).collect()}
    assert kept == {"d1", "d4", "d5"}  # reps survive; d4 untouched


def test_minhash_estimates_true_jaccard(spark):
    """Statistical correctness of the signature math: with 128
    permutations the signature-position estimate must track the true
    shingle-set Jaccard within ~3 standard errors across the range.
    (Computed from signatures directly — banded LSH candidate recall is
    a separate, intentionally lossy property: only the high-similarity
    pair is required to surface as a candidate.)"""
    base_tokens = [f"tok{i}" for i in range(300)]
    rows = [("full", " ".join(base_tokens))]
    for frac in (0.25, 0.5, 0.75):
        n = int(300 * frac)
        mixed = base_tokens[:n] + [f"alt{frac}_{i}" for i in range(300 - n)]
        rows.append((f"frac{frac}", " ".join(mixed)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    num_perm = 128
    sigs = {
        r["doc_id"]: r["signature"]
        for r in dedup.minhash_signatures(df, num_perm=num_perm, shingle_k=3).collect()
    }
    sh = (
        df.select("doc_id", F.explode(F.array_distinct(
            dedup._shingles_from_hashes(dedup._token_hashes(F.col("text")), 3)
        )).alias("s"))
        .groupBy("doc_id").agg(F.collect_set("s").alias("ss"))
    )
    sets = {r["doc_id"]: set(r["ss"]) for r in sh.collect()}
    for frac in (0.25, 0.5, 0.75):
        a, b = sets["full"], sets[f"frac{frac}"]
        true_j = len(a & b) / len(a | b)
        sa, sb = sigs["full"], sigs[f"frac{frac}"]
        est = sum(x == y for x, y in zip(sa, sb)) / num_perm
        se = (true_j * (1 - true_j) / num_perm) ** 0.5
        assert abs(est - true_j) <= max(3 * se, 0.06), (frac, est, true_j)

    # banded LSH must surface the high-similarity pair (detection
    # probability ≈ 1 at j≈0.6 with 32 bands of 4 rows)
    pairs = dedup.minhash_lsh_pairs(
        df, num_perm=num_perm, bands=32, shingle_k=3, threshold=0.0
    )
    got = {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs.collect()}
    assert ("frac0.75", "full") in got


def test_simhash_hamming_tracks_similarity(spark):
    """SimHash property: Hamming distance grows monotonically as token
    overlap falls, and stays near 0/32/64-ish expectations at the
    extremes (identical → 0; unrelated → ≈32 of 64 bits differ)."""
    base = [f"w{i}" for i in range(400)]
    rows = [("same", " ".join(base))]
    for frac in (0.9, 0.5, 0.0):
        n = int(400 * frac)
        rows.append((f"f{frac}", " ".join(base[:n] + [f"z{frac}_{i}" for i in range(400 - n)])))
    df = spark.createDataFrame([("ref", " ".join(base))] + rows, ["doc_id", "text"])
    sh = {r["doc_id"]: r["sh"] for r in dedup.simhash_table(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sh["ref"], sh["same"]) == 0
    d_hi = ham(sh["ref"], sh["f0.9"])
    d_mid = ham(sh["ref"], sh["f0.5"])
    d_lo = ham(sh["ref"], sh["f0.0"])
    assert d_hi <= d_mid <= d_lo
    assert d_hi <= 12          # near-dup stays close
    assert 20 <= d_lo <= 44    # unrelated ≈ half the bits


def test_resize_and_frame_sampling(spark):
    """Multimodal resize + video frame-sample kernels: real Spark-side
    plumbing (schemas, Arrow batches, quarantine rows) over the fake
    codec; a decoded-and-resized image round-trips through the container,
    frame sampling keeps every k-th frame."""
    from machine_readability_checker_spark.operators import multimodal as M

    img = M.encode_fake_image(4, 4, bytes(range(16)))
    rows = [
        ("d1", "img/a", "image", bytearray(img)),
        ("d2", "img/bad", "image", bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    resized = {r["media_ref"]: r for r in M.resize_images(df, 2, 2).collect()}
    ok = resized["img/a"]
    assert (ok["width"], ok["height"]) == (2, 2)
    got = M.decode_image(bytes(ok["content"]))
    assert (got.width, got.height) == (2, 2)
    assert list(got.pixels) == [0, 2, 8, 10]  # nearest-neighbor picks
    assert resized["img/bad"]["decode_error"] is not None

    frames = [M.encode_fake_image(2, 1, bytes([i, i])) for i in range(5)]
    vid = M.encode_fake_video(frames)
    vdf = spark.createDataFrame(
        [("d3", "vid/a", "video", bytearray(vid)),
         ("d4", "vid/bad", "video", bytearray(b"nope"))],
        schema=M.MEDIA_SCHEMA,
    )
    sampled = M.sample_frames(vdf, every_k=2).collect()
    good = sorted(
        (r["frame_idx"] for r in sampled if r["doc_id"] == "d3")
    )
    assert good == [0, 2, 4]
    bad = [r for r in sampled if r["doc_id"] == "d4"]
    assert len(bad) == 1 and bad[0]["decode_error"] is not None


def test_prefix_jaccard_equals_plain(docs):
    """PPJoin prefix filtering must not change results — only shrink the
    candidate set."""
    plain = {(r["id_a"], r["id_b"], r["n_common"])
             for r in dedup.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.3).collect()}
    pref = {(r["id_a"], r["id_b"], r["n_common"])
            for r in dedup.ngram_jaccard_pairs_prefix(docs, shingle_k=3, threshold=0.3).collect()}
    assert plain == pref and plain


def test_prefix_filter_integer_boundary(spark):
    """Float-error regression: at t=0.8 with |A|=5 distinct shingles,
    (1-t)*|A| computes as 0.9999... and a naive floor()+1 prefix misses
    the qualifying 4/5-overlap pair."""
    docs = spark.createDataFrame(
        [("A", "a b c d e"), ("B", "b c d e")], ["doc_id", "text"]
    )
    plain = dedup.ngram_jaccard_pairs(
        docs, shingle_k=1, threshold=0.8, max_df=None
    ).collect()
    pref = dedup.ngram_jaccard_pairs_prefix(
        docs, shingle_k=1, threshold=0.8, max_df=None
    ).collect()
    assert len(plain) == len(pref) == 1


def test_prefix_filter_max_df_parity(spark):
    """max_df semantics match the plain operator: hot shingles removed
    from intersections, sizes stay unfiltered."""
    rows = [
        (f"h{i:02d}", f"hot1 hot2 u{i} v{i} w{i} s{i // 2}") for i in range(30)
    ]
    hd = spark.createDataFrame(rows, ["doc_id", "text"])
    key = lambda r: (r["id_a"], r["id_b"], r["n_common"], round(r["jaccard"], 9))
    p1 = {key(r) for r in dedup.ngram_jaccard_pairs(
        hd, shingle_k=1, threshold=0.05, max_df=10).collect()}
    p2 = {key(r) for r in dedup.ngram_jaccard_pairs_prefix(
        hd, shingle_k=1, threshold=0.05, max_df=10).collect()}
    assert p1 == p2 and len(p1) == 15


def test_minhash_null_and_empty_text(spark):
    """NULL/empty text must be dropped, not crash the Arrow UDF task."""
    nd = spark.createDataFrame(
        [("x", None), ("e", ""), ("y", "hello world hello world")],
        "doc_id string, text string",
    )
    rows = dedup.minhash_signatures(nd, shingle_k=3).collect()
    assert [r["doc_id"] for r in rows] == ["y"]


def test_clusters_raise_on_nonconvergence(spark):
    """A component with diameter above max_iterations must fail loudly,
    never return half-propagated labels."""
    chain = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(24)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.near_dup_clusters(chain, max_iterations=5).collect()
    full = dedup.near_dup_clusters(chain, max_iterations=30)
    assert full.filter(F.col("cluster_id") == "d000").count() == 25


def test_fingerprint_distinguishes_cjk_documents(spark):
    """Regression: an ASCII-only normalization class collapsed every
    CJK-only document to md5('') — distinct Japanese docs must keep
    distinct fingerprints, and the funnel must not dedup them away."""
    rows = [("j1", "品目 数量 単価 合計 備考"), ("j2", "調査 回答 年齢 性別 地域"),
            ("j3", "品目 数量 単価 合計 備考")]  # j3 dups j1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", textstats.doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps["j1"] != fps["j2"]
    assert fps["j1"] == fps["j3"]
    funnel = {r["stage"]: r["n_docs"]
              for r in textstats.cleaning_funnel(df).collect()}
    assert funnel["normalized_dedup"] == 2  # j3 deduped, j2 kept


def test_simhash_pairs_banding_guarantee(spark, docs):
    """Defaults must satisfy the pigeonhole bound; an explicit band_bits
    that cannot is rejected."""
    import pytest

    # hamming-4 pair that the old 4-band default could miss entirely
    rows = [("a", 0x0001000100010001), ("b", 0x0)]
    # (can't inject raw hashes through the public API; assert the
    #  parameter contract instead)
    with pytest.raises(ValueError, match="bands"):
        dedup.simhash_pairs(docs, max_hamming=8, band_bits=16)
    # defaults now derive a compliant banding
    pairs = dedup.simhash_pairs(docs, max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert ("d1", "d2") in got


def test_extension_gate_null_fmt_quarantined(spark):
    from machine_readability_checker_spark.sources.ingest import extension_gate

    df = spark.createDataFrame(
        [("a", "csv"), ("b", None), ("c", "exe"), ("d", "docx")],
        "doc_id string, fmt string",
    )
    ok, rej = extension_gate(df)
    assert {r["doc_id"] for r in ok.collect()} == {"a", "d"}
    assert {r["doc_id"] for r in rej.collect()} == {"b", "c"}


def test_truncated_video_yields_single_quarantine_row(spark):
    from machine_readability_checker_spark.operators import multimodal as M

    frames = [M.encode_fake_image(2, 1, bytes([i, i])) for i in range(5)]
    vid = M.encode_fake_video(frames)
    truncated = vid[: len(vid) - len(frames[-1]) - 10]  # cut mid-frame
    vdf = spark.createDataFrame(
        [("d", "vid/t", "video", bytearray(truncated))], schema=M.MEDIA_SCHEMA
    )
    rows = M.sample_frames(vdf, every_k=1).collect()
    assert len(rows) == 1 and rows[0]["decode_error"] is not None


def test_minhash_index_prunes_partitions(docs, spark, tmp_path):
    """Materialized MinHash band index: queries read only their own
    band/bucket partitions (PartitionFilters in the scan) and find the
    planted near-duplicates — the incremental-dedup query path."""
    path = str(tmp_path / "mh_index")
    dedup.write_minhash_index(docs, path, shingle_k=3)

    queries = docs.filter(F.col("doc_id") == "d2")  # exact dup of d1
    hits = dedup.query_minhash_index(
        spark, path, queries, shingle_k=3, threshold=0.4
    )
    plan = hits._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("FileScan")[1]
    part_filters = scan.split("PartitionFilters:")[1].splitlines()[0]
    assert "band" in part_filters and "bucket" in part_filters

    got = {(r["query_id"], r["doc_id"]): r["jaccard_est"] for r in hits.collect()}
    assert got[("d2", "d1")] == 1.0  # identical text -> estimate 1.0
    assert got[("d2", "d2")] == 1.0  # the query itself is in the index
    assert ("d2", "d4") not in got  # unrelated never pairs

    # results agree with the self-join operator on the same corpus
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.4, shingle_k=3)
    self_join = {
        frozenset((r["id_a"], r["id_b"])) for r in pairs.collect()
    }
    via_index = {
        frozenset(k) for k in got if k[0] != k[1]
    }
    assert {p for p in via_index if "d2" in p} <= self_join | {
        frozenset(("d1", "d2"))
    }


def test_minhash_index_empty_batch_keeps_id_type(docs, spark, tmp_path):
    """An empty query batch must return a frame whose id columns carry
    the QUERIES frame's id type (bigint here), not a hardcoded string —
    so unions/joins with non-empty results stay valid (ADVICE r2)."""
    path = str(tmp_path / "mh_index_bigint")
    big = docs.select(
        F.xxhash64("doc_id").alias("doc_id"), "text"
    )
    dedup.write_minhash_index(big, path, shingle_k=3)
    empty_q = big.limit(0)
    out = dedup.query_minhash_index(
        spark, path, empty_q, shingle_k=3, threshold=0.4
    )
    assert out.count() == 0
    assert dict(out.dtypes) == {
        "query_id": "bigint",
        "doc_id": "bigint",
        "jaccard_est": "double",
    }
    # unions with a non-empty probe result without AnalysisException
    nonempty = dedup.query_minhash_index(
        spark, path, big.limit(2), shingle_k=3, threshold=0.4
    )
    assert out.unionByName(nonempty).count() == nonempty.count()


def test_minhash_index_portable_matches_self_join(docs, spark, tmp_path):
    """Portable-hash index queries (the DuckDB-oracle lane of
    ``minhash_index_query`` in ``__spark_entry__.py``) return exactly the
    query×corpus restriction of the portable self-join operator: same
    pairs, same signature-Jaccard estimates."""
    queries = docs.filter(F.col("doc_id").isin("d2", "d4"))
    corpus = docs.filter(~F.col("doc_id").isin("d2", "d4"))
    path = str(tmp_path / "mh_index_portable")
    dedup.write_minhash_index(corpus, path, shingle_k=3, portable=True)
    hits = dedup.query_minhash_index(
        spark, path, queries, shingle_k=3, threshold=0.4, portable=True
    )
    got = {(r["query_id"], r["doc_id"]): r["jaccard_est"] for r in hits.collect()}

    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.4, shingle_k=3, portable=True
    )
    qids = {"d2", "d4"}
    want = {}
    for r in pairs.collect():
        a, b = r["id_a"], r["id_b"]
        if (a in qids) != (b in qids):  # cross query/corpus pairs only
            q, c = (a, b) if a in qids else (b, a)
            want[(q, c)] = r["jaccard_est"]
    assert got == want and ("d2", "d1") in got


def test_kmeans_ivf_index(spark, vectors, tmp_path):
    """k-means IVF: deterministic distributed Lloyd fit, cell-partitioned
    index, partition-pruned probes; the planted near-dup pair lands in
    one cell and multi-probe monotonically widens coverage."""
    cents = similarity.kmeans_centroids(vectors, k=4, iters=4)
    assert len(cents) == 4 and all(len(c) == 16 for c in cents)
    # deterministic: same input -> same centroids
    assert cents == similarity.kmeans_centroids(vectors, k=4, iters=4)

    path = str(tmp_path / "ivf_index")
    similarity.write_ivf_index(vectors, path, cents)

    q = vectors.filter("vec_id = 100").collect()[0]["embedding"]
    top = similarity.query_ivf_index(spark, path, q, cents, k=5, n_probe=1)
    plan = top._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("FileScan")[1]
    part_filters = scan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters  # pruned, not a full scan

    ids = [r["vec_id"] for r in top.collect()]
    assert ids[0] == 100 and 101 in ids  # same cell: near-identical vectors

    probed = similarity.query_ivf_index(
        spark, path, q, cents, k=100, n_probe=4
    )
    assert probed.count() >= top.count()
    assert probed.count() == vectors.count()  # all cells = whole corpus


def test_repetition_stats_hand_computed(spark):
    """Gopher-style repetition signals against hand-computed values,
    including the degenerate empty/NULL/single-token documents."""
    df = spark.createDataFrame(
        [
            ("a", "x x x x"),          # one token repeated
            ("b", "p q r s"),          # all distinct
            ("c", "x"),                # no bigrams
            ("d", ""),                 # empty
            ("e", None),               # NULL
        ],
        "doc_id string, text string",
    )
    rows = {
        r["doc_id"]: {"s": r["repetition"], "f": r["repetition_flag"]}
        for r in textstats.with_repetition_stats(df).collect()
    }
    a = rows["a"]["s"]
    assert a["dup_token_frac"] == 0.75  # 1 - 1/4
    assert a["dup_bigram_frac"] == 2 / 3  # 3 bigrams, 1 distinct
    assert a["top_bigram_frac"] == 1.0  # "x x" is every bigram
    assert rows["a"]["f"]["too_many_dup_tokens"]
    assert rows["a"]["f"]["looping_bigram"]
    b = rows["b"]["s"]
    assert b["dup_token_frac"] == 0.0 and b["dup_bigram_frac"] == 0.0
    assert b["top_bigram_frac"] == 1 / 3  # 3 distinct bigrams, max count 1
    for degenerate in ("c", "d", "e"):
        s = rows[degenerate]["s"]
        assert s["dup_bigram_frac"] == 0.0 and s["top_bigram_frac"] == 0.0
        f = rows[degenerate]["f"]
        assert not f["too_many_dup_tokens"] and not f["looping_bigram"]
    assert rows["c"]["s"]["dup_token_frac"] == 0.0


def _ref_battery(text):
    """Pure-Python reference of the full Gopher battery (union-of-spans
    dup n-grams, max-covering top n-grams) for the cross-check below."""
    import re
    from collections import Counter

    toks = [t for t in text.split(" ") if t]
    tchars = sum(len(t) for t in toks)
    out = {}
    for n in (2, 3, 4):
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        best = max(
            (c * (len(g) - (n - 1)) for g, c in Counter(grams).items()),
            default=0,
        )
        out[f"top_{n}gram_char_frac"] = best / tchars if tchars else 0.0
    for n in range(5, 11):
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        seen, covered = set(), set()
        for i, g in enumerate(grams, start=1):
            if g in seen:
                covered.update(range(i, min(i + n - 1, len(toks)) + 1))
            else:
                seen.add(g)
        num = sum(len(toks[j - 1]) for j in covered)
        out[f"dup_{n}gram_char_frac"] = num / tchars if tchars else 0.0
    lines = [x for x in text.split("\n") if x]
    paras = [x for x in re.split(r"\n\s*\n", text) if x]
    for name, vals in (("line", lines), ("para", paras)):
        total, dist = len(vals), len(set(vals))
        out[f"dup_{name}_frac"] = (total - dist) / total if total else 0.0
        num = sum((c - 1) * len(v) for v, c in Counter(vals).items())
        den = sum(len(v) for v in vals)
        out[f"dup_{name}_char_frac"] = num / den if den else 0.0
    return out


def test_repetition_battery_matches_reference(spark):
    """The full Gopher §A1 battery (battery=True) against an
    independent pure-Python implementation, covering loops, duplicated
    lines/paragraphs, overlap-heavy repeats, and degenerate docs."""
    docs = [
        ("d1", "a b c a b c a b c d e f"),
        ("d2", "one two three four five six seven eight nine ten"),
        ("d3", "x y x y x y x y x y x y"),  # overlapping repeats
        ("d4", "line1\nline1\nline2\n\npara two\n\npara two"),
        ("d5", ""),
        ("d6", "al be ga de al be ga de ep ze et th io ka"),
        ("d7", " ".join(f"w{i}" for i in range(30))
               + " " + " ".join(f"w{i}" for i in range(30))),
        ("d8", "solo"),
        # realistic-length clean doc: Gopher's char-fraction thresholds
        # assume docs long enough that one bigram can't cover 20% of
        # the characters by construction (a 10-token doc always would)
        ("d9", " ".join(f"tok{i:03d}" for i in range(80))),
    ]
    r = textstats.with_repetition_stats(
        spark.createDataFrame(docs, ["doc_id", "text"]), battery=True
    )
    rows = {x["doc_id"]: x.asDict(recursive=True) for x in r.collect()}
    for did, text in docs:
        expect = _ref_battery(text)
        got = rows[did]["repetition"]
        for k, v in expect.items():
            assert abs(got[k] - v) < 1e-9, (did, k, got[k], v)
    # the published thresholds fire on the loopers, not the clean docs
    f3, f7, f9 = (rows[d]["repetition_flag"] for d in ("d3", "d7", "d9"))
    assert f3["dup_10gram_chars"] and f7["dup_10gram_chars"]
    assert f3["top_4gram_chars"]
    assert not any(v for v in f9.values())
    f4 = rows["d4"]["repetition_flag"]
    assert f4["dup_lines"] and f4["dup_paras"]


def test_contamination_and_decontaminate(spark):
    """A corpus document quoting a benchmark question is flagged (and
    dropped by decontaminate); paraphrases below the shingle-overlap
    threshold and unrelated documents survive."""
    bench_text = "what is the capital city of france and when was it founded"
    corpus = spark.createDataFrame(
        [
            ("c1", "intro words " + bench_text + " trailing answer text"),
            ("c2", "the capital city means nothing here by itself"),
            ("c3", "completely unrelated document about spark physical plans"),
        ],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame(
        [("b1", bench_text)], "doc_id string, text string"
    )
    pairs = dedup.contamination_pairs(
        corpus, bench, shingle_k=3, min_common=5, max_df=None
    )
    got = {(r["corpus_id"], r["bench_id"]): r["n_common"] for r in pairs.collect()}
    assert set(got) == {("c1", "b1")}
    assert got[("c1", "b1")] >= 9  # the full quote shares its shingle run

    kept = dedup.decontaminate(
        corpus, bench, shingle_k=3, min_common=5, max_df=None
    )
    assert {r["doc_id"] for r in kept.collect()} == {"c2", "c3"}


def test_funnel_repetition_stage(spark):
    """Opt-in repetition stage: a looping document is dropped at the
    repetition stage (index 4), later stages shift, and the funnel
    counts stay aligned with stage_names; default funnel is unchanged."""
    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog today"),
            ("b", "spam spam spam spam spam spam spam spam"),  # looping
            ("c", "el la de y que en los otros dias claros"),
        ],
        "doc_id string, text string",
    )
    lab = {
        r["doc_id"]: r["_drop"]
        for r in textstats.label_drop_stage(
            df, require_known_lang=True, drop_repetitive=True
        ).collect()
    }
    assert lab == {"a": None, "b": 4, "c": None}
    names = textstats.stage_names(require_known_lang=True, drop_repetitive=True)
    assert names == [
        "raw", "exact_dedup", "normalized_dedup", "min_tokens",
        "repetition_ok", "lang_known",
    ]
    funnel = {
        r["stage"]: r["n_docs"]
        for r in textstats.funnel_from_labels(
            textstats.label_drop_stage(
                df, require_known_lang=True, drop_repetitive=True
            ),
            require_known_lang=True,
            drop_repetitive=True,
        ).collect()
    }
    assert funnel["min_tokens"] == 3 and funnel["repetition_ok"] == 2
    assert funnel["lang_known"] == 2

    # default path unchanged: no repetition stage, 'b' survives to lang
    lab0 = {
        r["doc_id"]: r["_drop"]
        for r in textstats.label_drop_stage(
            df, require_known_lang=True
        ).collect()
    }
    assert lab0["b"] is None or lab0["b"] == 4  # 4 = lang_known now


def test_funnel_null_text_and_empty_corpus(spark):
    """Regressions from review: NULL-text documents must be DROPPED at
    min_tokens (like the filter formulation labeling replaced), and an
    empty corpus must report 0 — not NULL — for every stage."""
    df = spark.createDataFrame(
        [("a", None), ("b", "the quick brown fox jumps over dogs")],
        "doc_id string, text string",
    )
    kept = textstats.apply_cleaning(df, require_known_lang=False)
    assert [r["doc_id"] for r in kept.collect()] == ["b"]
    lab = {
        r["doc_id"]: r["_drop"]
        for r in textstats.label_drop_stage(
            df, require_known_lang=False
        ).collect()
    }
    assert lab == {"a": 3, "b": None}

    empty = spark.createDataFrame([], "doc_id string, text string")
    rows = {
        r["stage"]: r["n_docs"]
        for r in textstats.cleaning_funnel(empty).collect()
    }
    assert rows == {
        "raw": 0,
        "exact_dedup": 0,
        "normalized_dedup": 0,
        "min_tokens": 0,
        "lang_known": 0,
    }


def test_hash_split_deterministic_and_nested(spark):
    """Hash-bucket splits: reproducible across runs and partitionings,
    assignment depends only on the id (adding documents never moves an
    existing one between splits), and stratified samples are NESTED —
    raising a fraction strictly grows the kept set."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text number "), F.col("id")).alias("text"),
        (F.pmod(F.col("id"), 3)).cast("string").alias("lang"),
    )
    s1 = {
        r["doc_id"]: r["split"]
        for r in sampling.with_split(docs).collect()
    }
    s2 = {
        r["doc_id"]: r["split"]
        for r in sampling.with_split(docs.repartition(16)).collect()
    }
    assert s1 == s2
    # ~90/5/5 at bucket granularity
    from collections import Counter

    c = Counter(s1.values())
    assert 0.85 < c["train"] / 2000 < 0.95
    assert c["valid"] > 0 and c["test"] > 0
    # subset invariance: the first 500 ids keep their assignment
    sub = {
        r["doc_id"]: r["split"]
        for r in sampling.with_split(docs.filter("doc_id < 500")).collect()
    }
    assert all(s1[k] == v for k, v in sub.items())

    small = {
        r["doc_id"]
        for r in sampling.stratified_sample(
            docs, {"0": 0.1, "1": 0.5}, strata_col="lang"
        ).collect()
    }
    big = {
        r["doc_id"]
        for r in sampling.stratified_sample(
            docs, {"0": 0.4, "1": 1.0}, strata_col="lang"
        ).collect()
    }
    assert small < big
    assert not any(s1[k] is None for k in small)  # sanity: ids resolve


def test_chunk_documents_hand_computed(spark):
    """Overlapping windows: boundaries, tail merging, short docs,
    empty/NULL docs, and the overlap validation."""
    df = spark.createDataFrame(
        [
            ("a", " ".join(f"t{i}" for i in range(10))),  # 3 full chunks
            ("b", " ".join(f"t{i}" for i in range(11))),  # + 2-token tail
            ("c", "x y"),                                  # single short chunk
            ("d", ""),
            ("e", None),
        ],
        "doc_id string, text string",
    )
    rows = textstats.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in rows
    }
    assert got[("a", 0)] == ("t0 t1 t2 t3", 4)
    assert got[("a", 1)] == ("t3 t4 t5 t6", 4)
    assert got[("a", 2)] == ("t6 t7 t8 t9", 4)
    assert max(ci for d, ci in got if d == "a") == 2
    assert got[("b", 3)] == ("t9 t10", 2)  # tail window
    assert got[("c", 0)] == ("x y", 2)
    assert not any(d in ("d", "e") for d, _ in got)
    # every token of 'a' appears in some chunk (coverage)
    covered = " ".join(got[("a", i)][0] for i in range(3)).split()
    assert set(covered) == {f"t{i}" for i in range(10)}

    with pytest.raises(ValueError):
        textstats.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_pack_shards_matches_sequential(spark):
    """The two-phase parallel prefix sum must equal the sequential
    running-total definition, independent of num_ranges, and every
    shard except the last must reach the budget."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("w"), (F.pmod(F.col("id"), 37) + 1).cast("int"))
        ).alias("text"),
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["shard"])
        for r in sampling.pack_shards(docs, budget_tokens=300).collect()
    }
    # sequential oracle in plain Python
    cum, want = 0, {}
    for i in range(500):
        tc = i % 37 + 1
        want[i] = (tc, cum // 300)
        cum += tc
    assert out == want
    # partition-count invariance
    out1 = {
        r["doc_id"]: r["shard"]
        for r in sampling.pack_shards(
            docs, budget_tokens=300, num_ranges=1
        ).collect()
    }
    assert out1 == {k: v[1] for k, v in want.items()}
    # all shards but the last fill to within one max-document of the
    # budget (a straddling document starts in the NEXT shard, so a
    # shard can undershoot by at most max_doc_tokens - 1)
    from collections import defaultdict

    per = defaultdict(int)
    for tc, sh in out.values():
        per[sh] += tc
    last = max(per)
    assert all(tot >= 300 - 36 for sh, tot in per.items() if sh != last)
    assert sorted(per) == list(range(last + 1))  # no empty shard gaps


def test_profile_table(spark):
    """One-pass column profiler: nulls, exact cardinality, rendered
    length bounds; all-null columns get NULL length bounds."""
    from machine_readability_checker_spark.operators.profile import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "aa", None), (2, "bbbb", None), (3, None, None), (3, "aa", None)],
        "id bigint, s string, z string",
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert rows["id"]["n_rows"] == 4 and rows["id"]["n_nulls"] == 0
    assert rows["id"]["n_distinct"] == 3
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_len"] == 2 and rows["s"]["max_len"] == 4
    assert rows["z"]["n_distinct"] == 0
    assert rows["z"]["min_len"] is None and rows["z"]["max_len"] is None


def test_chunk_documents_reconstruction_invariant(spark):
    """For every document length 1..120: chunk 0 plus each later
    chunk minus its overlap prefix reconstructs the document exactly —
    full coverage, exact overlap, no token lost or duplicated."""
    chunk_tokens, overlap = 16, 4
    docs = [
        (str(n), " ".join(f"t{i}" for i in range(n))) for n in range(1, 121)
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = textstats.chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=overlap
    ).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
    assert set(by_doc) == {str(n) for n in range(1, 121)}
    for n in range(1, 121):
        chunks = by_doc[str(n)]
        assert sorted(chunks) == list(range(len(chunks)))
        toks = chunks[0].split()
        for i in range(1, len(chunks)):
            ctoks = chunks[i].split()
            assert ctoks[:overlap] == toks[-overlap:]  # exact overlap
            toks += ctoks[overlap:]
        assert toks == [f"t{i}" for i in range(n)]


def test_minhash_index_append_visible_to_probes(docs, spark, tmp_path):
    """Incremental ingest contract: band entries APPENDED to an existing
    index (same parameters) are found by subsequent probes exactly like
    originally-indexed documents."""
    path = str(tmp_path / "mh_index_inc")
    dedup.write_minhash_index(
        docs.filter(F.col("doc_id") == "d4"), path, shingle_k=3
    )
    probe = docs.filter(F.col("doc_id") == "d2")
    before = dedup.query_minhash_index(
        spark, path, probe, shingle_k=3, threshold=0.4
    )
    assert before.count() == 0  # d2 unrelated to d4

    dedup.minhash_index_entries(
        docs.filter(F.col("doc_id") == "d1"), shingle_k=3
    ).repartition("band", "bucket").write.mode("append").partitionBy(
        "band", "bucket"
    ).parquet(path)
    after = dedup.query_minhash_index(
        spark, path, probe, shingle_k=3, threshold=0.4
    )
    got = {(r["query_id"], r["doc_id"]): r["jaccard_est"] for r in after.collect()}
    assert got == {("d2", "d1"): 1.0}  # the appended exact-dup surfaces


def test_quantize_embeddings_roundtrip_and_topk(spark, vectors):
    """int8 quantization: values in [-127, 127], per-vector max hits
    ±127, dequantized error <= scale/2 per element, all-zero vectors
    survive with scale 0, and quantized top-k preserves the exact
    search's planted neighbors."""
    withzero = vectors.union(
        spark.createDataFrame([(999, [0.0] * 16)], ["vec_id", "embedding"])
    )
    qt = similarity.quantize_embeddings(withzero)
    rows = {r["vec_id"]: r for r in qt.collect()}
    orig = {r["vec_id"]: r["embedding"] for r in withzero.collect()}
    for vid, r in rows.items():
        assert all(-127 <= q <= 127 for q in r["qvec"])
        if vid == 999:
            assert r["scale"] == 0.0 and set(r["qvec"]) == {0}
            continue
        assert max(abs(q) for q in r["qvec"]) == 127  # scale saturates
        for q, x in zip(r["qvec"], orig[vid]):
            assert abs(q * r["scale"] - x) <= r["scale"] / 2 + 1e-12

    q = orig[100]
    top = similarity.quantized_cosine_topk(qt, [float(x) for x in q], k=3)
    ids = [r["vec_id"] for r in top.collect()]
    exact = [
        r["vec_id"]
        for r in similarity.brute_force_topk(vectors, q, k=3).collect()
    ]
    assert ids[0] == 100 and 101 in ids  # planted near-dup survives int8
    assert set(ids) == set(exact)


def test_asof_join_last_hand_computed(spark):
    """As-of semantics: greatest right ts <= left ts per key, inclusive
    at equal timestamps, NULLs before any right row, keys isolated."""
    from datetime import datetime

    from machine_readability_checker_spark.operators.temporal import (
        asof_join_last,
    )

    t = lambda s: datetime(2026, 1, 1, 10, s)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, t(0), 7),   # before any purchase -> NULL
            (2, t(5), 7),   # exactly at purchase p1 -> inclusive match
            (3, t(9), 7),   # between p1 and p2 -> p1
            (4, t(20), 7),  # after p2 -> p2
            (5, t(30), 8),  # other user, no purchases -> NULL
        ],
        "event_id bigint, ts timestamp, user_id bigint",
    )
    right = spark.createDataFrame(
        [
            (7, t(5), 10.5, 101),
            (7, t(10), 20.5, 102),
        ],
        "user_id bigint, ts timestamp, purchase_value double,"
        " purchase_event bigint",
    )
    out = {
        r["event_id"]: (r["last_purchase_value"], r["last_purchase_event"])
        for r in asof_join_last(
            left, right, value_cols=["purchase_value", "purchase_event"]
        ).collect()
    }
    assert out == {
        1: (None, None),
        2: (10.5, 101),
        3: (10.5, 101),
        4: (20.5, 102),
        5: (None, None),
    }


def test_asof_join_null_right_values_stay_null(spark):
    """A matched right row whose value is genuinely NULL must yield
    NULL — not silently fall back to a staler non-NULL value — and with
    multiple value_cols every returned column must come from the SAME
    matched right row (atomic struct, not per-column running-last).
    This is the ADVICE-r2 failure mode of the per-column formulation."""
    from datetime import datetime

    from machine_readability_checker_spark.operators.temporal import (
        asof_join_last,
    )

    t = lambda s: datetime(2026, 1, 1, 10, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(6), 7), (2, t(12), 7)],
        "event_id bigint, ts timestamp, user_id bigint",
    )
    # p1 has values, p2 (the later match for event 2) has NULL value and
    # a different event id: per-column last(ignorenulls) would stitch
    # (10.5 from p1, 102 from p2) — wrong on both counts.
    right = spark.createDataFrame(
        [(7, t(5), 10.5, 101), (7, t(10), None, 102)],
        "user_id bigint, ts timestamp, purchase_value double,"
        " purchase_event bigint",
    )
    out = {
        r["event_id"]: (r["last_purchase_value"], r["last_purchase_event"])
        for r in asof_join_last(
            left, right, value_cols=["purchase_value", "purchase_event"]
        ).collect()
    }
    assert out == {1: (10.5, 101), 2: (None, 102)}


def test_near_dup_clusters_star_matches_union_find(spark):
    """Large-star/small-star connected components: equals a plain
    union-find oracle on random graphs AND on a 60-node chain — the
    O(diameter) shape where per-hop min-label propagation needs one
    round per link but star contraction converges in O(log n)."""
    import random

    from machine_readability_checker_spark.operators.dedup import (
        near_dup_clusters_star,
    )

    def uf_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(11)
    cases = []
    for _ in range(3):  # random sparse graphs
        n = 60
        edges = {
            tuple(sorted((f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")))
            for _ in range(50)
        }
        cases.append([e for e in edges if e[0] != e[1]])
    # the adversarial case: one long chain (diameter 59)
    cases.append([(f"c{i:02d}", f"c{i + 1:02d}") for i in range(59)])

    for edges in cases:
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in near_dup_clusters_star(df).collect()
        }
        assert got == uf_components(edges)


def test_near_dup_clusters_star_agrees_with_propagation(docs):
    """Both CC formulations must label the real near-dup pair graph
    identically."""
    from machine_readability_checker_spark.operators.dedup import (
        near_dup_clusters_star,
    )

    pairs = dedup.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.3)
    a = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.near_dup_clusters(pairs).collect()
    }
    b = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters_star(pairs).collect()
    }
    assert a == b and a  # non-empty and identical


def test_repetition_default_threshold_fires_both_verdicts(spark):
    """VERDICT-r2 gap: looping_bigram at the PRODUCTION 0.18 threshold
    must produce both verdicts end-to-end (the fixture corpus alone
    maxes at 0.167 — the synthesized loopy family pushes past it)."""
    import __spark_entry__ as E

    out = E.q_repetition_flags_default(
        spark, "/root/testdata/sf0.001"
    ).collect()
    verdicts = {r["looping_bigram"] for r in out}
    assert verdicts == {True, False}
    loopy = [r for r in out if r["doc_id"].startswith("loop-")]
    assert len(loopy) == 20
    assert all(r["looping_bigram"] for r in loopy)
    assert all(r["top_bigram_frac"] > 0.18 for r in loopy)


def test_duplicate_ngram_spans_hand_computed(spark):
    """ExactSubstr-analog span semantics, hand-computed: a shared
    10-gram marks both documents' ranges, overlapping windows merge to
    one maximal span, a self-repeating doc is fully covered, short and
    unique docs yield nothing."""
    rows = [
        ("a", "one two three four five six seven eight nine ten alpha beta"),
        ("b", "zzz one two three four five six seven eight nine ten yyy"),
        ("c", "totally unrelated words with no repeats at all here ok"),
        ("d", "rep rep rep rep rep rep rep rep rep rep rep rep"),
        ("e", "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = [
        tuple(r)
        for r in dedup.duplicate_ngram_spans(df, window=10, portable=True)
        .orderBy("doc_id", "start_tok")
        .collect()
    ]
    assert spans == [("a", 0, 10), ("b", 1, 11), ("d", 0, 12)]

    out = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_dup_tokens"])
        for r in dedup.strip_duplicate_ngrams(
            df, window=10, portable=True
        ).collect()
    }
    assert out["a"] == ("alpha beta", 12, 10)
    assert out["b"] == ("zzz yyy", 12, 10)
    assert out["c"][2] == 0 and out["c"][0] == rows[2][1]
    assert out["d"] == ("", 12, 12)
    assert out["e"] == ("short doc", 2, 0)

    # production hash path: identical spans (xxhash64 vs raw-string keys)
    prod = [
        tuple(r)
        for r in dedup.duplicate_ngram_spans(df, window=10, portable=False)
        .orderBy("doc_id", "start_tok")
        .collect()
    ]
    assert prod == spans


def test_pii_redaction_hand_computed(spark):
    """Email/phone/IPv4 redaction: typed placeholders, counts on the
    original text, non-PII text untouched, boundary cases (no partial
    phone match without separators, dotted quads only for IP)."""
    rows = [
        ("a", "mail me at jo.doe+x@sub.example.co.uk or 555-123-4567 now"),
        ("b", "server 192.168.1.254 and 10.0.0.1 no phones 5551234567"),
        ("c", "plain text with nothing sensitive at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.redact_pii(df).collect()}
    a = out["a"]
    assert (a["n_emails"], a["n_phones"], a["n_ips"]) == (1, 1, 0)
    assert a["text_redacted"] == "mail me at <EMAIL> or <PHONE> now"
    b = out["b"]
    assert (b["n_emails"], b["n_phones"], b["n_ips"]) == (0, 0, 2)
    assert b["text_redacted"] == "server <IP> and <IP> no phones 5551234567"
    c = out["c"]
    assert (c["n_emails"], c["n_phones"], c["n_ips"]) == (0, 0, 0)
    assert c["text_redacted"] == c["text"]


def test_pii_redaction_cc_ssn_ipv6(spark):
    """Extended PII family: separator-grouped card shapes, 3-2-4 SSNs,
    IPv6 (full and ::-compressed) — and the non-matches that keep the
    patterns honest (bare 16-digit runs, clock times, MAC-ish pairs)."""
    rows = [
        ("cc", "pay 4111-1111-2222-3333 or 4111 1111 2222 3333 today"),
        ("ccno", "order 4111111122223333 is a bare digit run"),
        ("ssn", "ssn 123-45-6789 on file"),
        ("v6", "host 2001:0db8:85a3:0000:0000:8a2e:0370:7334 up"),
        ("v6c", "link fe80::1 and 2001:db8::8a2e:370:7334 both up"),
        ("time", "meeting at 12:30:45 tomorrow"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.redact_pii(df).collect()}
    assert out["cc"]["n_ccs"] == 2
    assert out["cc"]["text_redacted"] == "pay <CC> or <CC> today"
    assert out["ccno"]["n_ccs"] == 0
    assert out["ssn"]["n_ssns"] == 1 and out["ssn"]["n_phones"] == 0
    assert out["ssn"]["text_redacted"] == "ssn <SSN> on file"
    assert out["v6"]["n_ipv6s"] == 1
    assert out["v6"]["text_redacted"] == "host <IPV6> up"
    assert out["v6c"]["n_ipv6s"] == 2
    assert out["v6c"]["text_redacted"] == "link <IPV6> and <IPV6> both up"
    assert out["time"]["n_ipv6s"] == 0
    assert out["time"]["text_redacted"] == out["time"]["text"]


# --- Product quantization (similarity.pq_*) ------------------------------


def test_pq_train_shapes_and_determinism(vectors):
    cbs = similarity.pq_train(vectors, m=4, k=4, iters=2)
    assert len(cbs) == 4 and all(len(cb) == 4 for cb in cbs)
    assert all(len(cw) == 4 for cb in cbs for cw in cb)
    assert cbs == similarity.pq_train(vectors, m=4, k=4, iters=2)
    enc = similarity.pq_encode(vectors, cbs).collect()
    assert len(enc) == vectors.count()
    for r in enc:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 4 for c in r["codes"])


def test_pq_seed_vectors_reconstruct_exactly(vectors):
    """With iters=0 the codebooks ARE the k lowest-id vectors sliced, so
    each seed vector encodes to itself and its ADC distance from a seed
    query equals the exact squared L2 distance between the two seeds."""
    cbs = similarity.pq_train(vectors, m=4, k=4, iters=0)
    enc = similarity.pq_encode(vectors, cbs)
    rows = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    q = rows[1]
    top = {
        r["vec_id"]: r["adc"]
        for r in similarity.pq_topk(enc, q, cbs, k=vectors.count()).collect()
    }
    assert top[1] == pytest.approx(0.0, abs=1e-9)
    for seed in (0, 2, 3):
        exact = float(np.sum((np.asarray(q) - np.asarray(rows[seed])) ** 2))
        assert top[seed] == pytest.approx(exact, rel=1e-9)


def test_pq_adc_matches_numpy_for_all_rows(vectors):
    """The Spark ADC expression (literal LUTs + element_at sums) must
    reproduce the numpy-computed ADC for every row — validates the
    expression plumbing independent of recall quality."""
    cbs = similarity.pq_train(vectors, m=4, k=8, iters=3)
    enc = similarity.pq_encode(vectors, cbs)
    rows = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    q = np.asarray(rows[100], dtype=float)
    luts = [
        [float(np.sum((q[i * 4 : (i + 1) * 4] - np.asarray(cw)) ** 2)) for cw in cbs[i]]
        for i in range(4)
    ]
    got = {
        r["vec_id"]: r["adc"]
        for r in similarity.pq_topk(enc, list(q), cbs, k=vectors.count()).collect()
    }
    codes = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    assert len(got) == len(codes)
    for vid, cs in codes.items():
        want = sum(luts[i][cs[i]] for i in range(4))
        assert got[vid] == pytest.approx(want, rel=1e-12)


def test_pq_lloyd_reduces_distortion(vectors):
    """Lloyd iterations never increase total quantization distortion
    (sum over vectors of squared L2 to their reconstruction)."""
    data = {r["vec_id"]: np.asarray(r["embedding"]) for r in vectors.collect()}

    def distortion(cbs):
        enc = {
            r["vec_id"]: list(r["codes"])
            for r in similarity.pq_encode(vectors, cbs).collect()
        }
        total = 0.0
        for vid, cs in enc.items():
            recon = np.concatenate([np.asarray(cbs[i][cs[i]]) for i in range(4)])
            total += float(np.sum((data[vid] - recon) ** 2))
        return total

    d0 = distortion(similarity.pq_train(vectors, m=4, k=4, iters=0))
    d3 = distortion(similarity.pq_train(vectors, m=4, k=4, iters=3))
    assert d3 <= d0 + 1e-9


def test_pq_topk_plan_is_take_ordered(vectors):
    cbs = similarity.pq_train(vectors, m=4, k=4, iters=0)
    enc = similarity.pq_encode(vectors, cbs)
    plan = similarity.pq_topk(enc, [0.0] * 16, cbs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_media_context_pairs_hand_computed(spark):
    """Interleaved caption mining: media spans skipped inside contexts,
    alt text carried through, document and array boundaries clipped."""
    from machine_readability_checker_spark.operators.multimodal import (
        media_context_pairs,
    )

    def sp(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref, "offset": off}

    rows = [
        (
            "a",
            [
                sp("text", "alpha", "", 0),
                sp("text", "beta", "", 1),
                sp("media", "logo", "imgA", 2),
                sp("text", "gamma", "", 3),
                sp("media", "", "imgB", 4),
                sp("text", "delta", "", 5),
            ],
        ),
        ("b", [sp("media", "", "imgC", 0), sp("text", "solo", "", 1)]),
    ]
    df = spark.createDataFrame(
        rows,
        schema="doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {
        r["media_ref"]: r
        for r in media_context_pairs(df, window=2).collect()
    }
    a = out["imgA"]
    assert (a["context_before"], a["context_after"]) == ("alpha beta", "gamma")
    assert a["alt_text"] == "logo"
    b = out["imgB"]
    # the media span at offset 2 inside the frame is skipped, not joined
    assert (b["context_before"], b["context_after"]) == ("gamma", "delta")
    c = out["imgC"]
    assert (c["context_before"], c["context_after"]) == ("", "solo")
    assert len(out) == 3


def test_cap_per_key_semantics_and_skew_plan(spark):
    """Per-domain cap: every key ends at ≤ cap rows, under-cap keys are
    untouched, the kept set is deterministic and NESTED in the cap, and
    both plan variants (broadcast-hot and plain window) agree."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 300, F.lit("whale.com"))
        .when(F.col("id") < 350, F.lit("mid.org"))
        .otherwise(F.concat(F.lit("tiny"), F.col("id") % 25))
        .alias("source"),
    )
    kept = sampling.cap_per_key(docs, key_col="source", cap=40).collect()
    by_key: dict = {}
    for r in kept:
        by_key.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_key["whale.com"]) == 40
    assert len(by_key["mid.org"]) == 40
    for k, v in by_key.items():
        if k.startswith("tiny"):
            assert len(v) == 2  # 50 ids over 25 keys, all under cap

    plain = sampling.cap_per_key(
        docs, key_col="source", cap=40, broadcast_hot=False
    ).collect()
    assert {(r["doc_id"], r["source"]) for r in kept} == {
        (r["doc_id"], r["source"]) for r in plain
    }

    smaller = sampling.cap_per_key(docs, key_col="source", cap=10).collect()
    small_ids = {r["doc_id"] for r in smaller}
    assert small_ids <= {r["doc_id"] for r in kept}  # nested in cap

    # skew-aware plan: under-cap rows avoid the window sort entirely —
    # the cold branch is a broadcast anti join with no window exchange
    plan = (
        sampling.cap_per_key(docs, key_col="source", cap=40)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_temperature_mix_directions(spark):
    """Temperature mixing: α=1 keeps everything, α=0 caps every group
    near the rarest group's size, intermediate α is monotone (higher α
    keeps strictly more), rarest group always survives whole."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 800, F.lit("en"))
        .when(F.col("id") < 950, F.lit("de"))
        .otherwise(F.lit("rarelang"))
        .alias("lang"),
    )

    def counts(alpha):
        rows = (
            sampling.temperature_mix(docs, group_col="lang", alpha=alpha)
            .groupBy("lang")
            .count()
            .collect()
        )
        return {r["lang"]: r["count"] for r in rows}

    c1 = counts(1.0)
    assert c1 == {"en": 800, "de": 150, "rarelang": 50}
    c0 = counts(0.0)
    assert c0["rarelang"] == 50
    # md5 buckets are uniform-ish, not exact: n_min-sized target ±20%
    assert 35 <= c0["en"] <= 65 and 35 <= c0["de"] <= 65
    c_half = counts(0.5)
    for lang in c1:
        assert c0.get(lang, 0) <= c_half.get(lang, 0) <= c1[lang]
    ids_half = {
        r["doc_id"]
        for r in sampling.temperature_mix(
            docs, group_col="lang", alpha=0.5
        ).collect()
    }
    ids_zero = {
        r["doc_id"]
        for r in sampling.temperature_mix(
            docs, group_col="lang", alpha=0.0
        ).collect()
    }
    assert ids_zero <= ids_half  # nested in α


def test_score_buckets_window_terciles_and_ties(spark):
    """CCNet head/middle/tail: exact window mode cuts each group into
    thirds by percent_rank, lower scores land in head, and tied scores
    always share a bucket."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 90).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 60, F.lit("en")).otherwise(F.lit("de")).alias(
            "lang"
        ),
        F.col("id").cast("double").alias("ppl"),
    )
    out = sampling.score_buckets(
        docs, score_col="ppl", by="lang", mode="window"
    ).collect()
    en = {r.doc_id: r.bucket for r in out if r.lang == "en"}
    # 60 distinct scores: pr = rank/59 → head is ids 0..19 (pr<1/3)
    assert all(en[i] == "head" for i in range(20))
    assert all(en[i] == "middle" for i in range(20, 40))
    assert all(en[i] == "tail" for i in range(40, 60))
    # ties share a rank, therefore a bucket
    tied = spark.range(0, 30).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        (F.col("id") / 10).cast("int").cast("double").alias("ppl"),
    )
    tb = sampling.score_buckets(
        tied, score_col="ppl", by="lang", mode="window"
    ).collect()
    by_score: dict = {}
    for r in tb:
        by_score.setdefault(r.ppl, set()).add(r.bucket)
    assert all(len(v) == 1 for v in by_score.values())


def test_score_buckets_thresholds_matches_window_without_shuffling(spark):
    """The 100 TB thresholds plan (percentile_approx + broadcast)
    agrees with the exact window mode away from the cut rows, and its
    corpus side never enters a window exchange."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 600).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        # distinct, deterministically scrambled scores
        ((F.col("id") * 37) % 601).cast("double").alias("ppl"),
    )
    exact = {
        r.doc_id: r.bucket
        for r in sampling.score_buckets(
            docs, score_col="ppl", by="lang", mode="window"
        ).collect()
    }
    approx = {
        r.doc_id: r.bucket
        for r in sampling.score_buckets(
            docs, score_col="ppl", by="lang", mode="thresholds"
        ).collect()
    }
    agree = sum(exact[k] == approx[k] for k in exact) / len(exact)
    assert agree >= 0.97  # only cut-adjacent rows may differ
    # bucket sizes stay near-terciles per group
    sizes: dict = {}
    for k, b in approx.items():
        sizes[b] = sizes.get(b, 0) + 1
    assert all(abs(v - 200) <= 12 for v in sizes.values())
    plan = (
        sampling.score_buckets(docs, score_col="ppl", by="lang")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan  # scale path: no per-group sort
    assert "BroadcastHashJoin" in plan


def test_pq_encode_join_equals_literal_path(vectors):
    """The broadcast-join encode (large-k path) must be code-for-code
    identical to the literal-CASE encode, including argmin ties (both
    resolve to the lowest code), and its plan must carry exactly one
    exchange (the id aggregate) plus a broadcast join."""
    for k in (4, 8):
        cbs = similarity.pq_train(vectors, m=4, k=k, iters=2)
        lit = {
            r["vec_id"]: list(r["codes"])
            for r in similarity.pq_encode(vectors, cbs).collect()
        }
        jn = {
            r["vec_id"]: list(r["codes"])
            for r in similarity.pq_encode_join(vectors, cbs).collect()
        }
        assert jn == lit
    plan = (
        similarity.pq_encode_join(vectors, cbs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_pq_train_join_assignment_equals_literal(vectors):
    """pq_train with the broadcast-join Lloyd assignment must produce
    the identical codebooks as the literal-CASE assignment (same argmin
    tie rule), and k=64 (m*k=256, beyond the literal ceiling) must
    train and encode without error."""
    lit = similarity.pq_train(vectors, m=4, k=4, iters=3, assign="literal")
    jn = similarity.pq_train(vectors, m=4, k=4, iters=3, assign="join")
    # the join path's exchange changes float-summation order inside avg,
    # so centroids agree to ~1 ulp, not bit-for-bit
    for cb_l, cb_j in zip(lit, jn):
        for cw_l, cw_j in zip(cb_l, cb_j):
            assert cw_j == pytest.approx(cw_l, rel=1e-12, abs=1e-12)
    enc_l = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(vectors, lit).collect()
    }
    enc_j = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(vectors, jn).collect()
    }
    assert enc_l == enc_j

    # m*k = 104 > 64: auto must take the join path (fixture has 52
    # vectors, so 26 seeds per subspace is the largest honest k here)
    big = similarity.pq_train(vectors, m=4, k=26, iters=1, assign="auto")
    assert len(big) == 4 and all(len(cb) == 26 for cb in big)
    enc = similarity.pq_encode_join(vectors, big).collect()
    assert all(0 <= c < 26 for r in enc for c in r["codes"])


def test_ivfpq_index_roundtrip(spark, vectors, tmp_path):
    """IVF-PQ: residual-trained codebooks, cell-partitioned code lists,
    partition-pruned ADC queries.  The query's own vector and its planted
    near-dup rank first (their residuals quantize to the same codes), the
    Spark ADC matches the numpy LUT computation for every probed row, and
    multi-probe widens coverage to the whole corpus."""
    cents, cbs = similarity.train_ivfpq(
        vectors, n_cells=4, m=4, k=8, cell_iters=2, pq_iters=2
    )
    assert len(cents) == 4 and len(cbs) == 4 and all(len(cb) == 8 for cb in cbs)

    path = str(tmp_path / "ivfpq_index")
    similarity.write_ivfpq_index(vectors, path, cents, cbs)

    q = vectors.filter("vec_id = 100").collect()[0]["embedding"]
    top = similarity.query_ivfpq_index(
        spark, path, q, cents, cbs, k=5, n_probe=1
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("FileScan")[1]
    part_filters = scan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters  # pruned, not a full scan

    rows = top.collect()
    ids = [r["vec_id"] for r in rows]
    assert set(ids[:2]) == {100, 101}  # identical codes -> adc tie -> id order

    # Spark ADC == numpy ADC for every row of the probed cells
    import numpy as _np

    qa = _np.asarray(q, dtype=float)
    order = sorted(
        range(len(cents)),
        key=lambda i: float(_np.sum((qa - _np.asarray(cents[i])) ** 2)),
    )
    probe_cells = order[:1]
    idx = {
        (r["vec_id"]): (r["cell"], list(r["codes"]))
        for r in spark.read.parquet(path).collect()
    }
    full = similarity.query_ivfpq_index(
        spark, path, q, cents, cbs, k=10_000, n_probe=1
    ).collect()
    assert len(full) == sum(1 for c, _ in idx.values() if c in probe_cells)
    for r in full:
        cell, codes = idx[r["vec_id"]]
        qr = qa - _np.asarray(cents[cell])
        want = sum(
            float(
                _np.sum(
                    (qr[i * 4 : (i + 1) * 4] - _np.asarray(cbs[i][codes[i]])) ** 2
                )
            )
            for i in range(4)
        )
        assert r["adc"] == pytest.approx(want, rel=1e-9)

    everything = similarity.query_ivfpq_index(
        spark, path, q, cents, cbs, k=10_000, n_probe=4
    )
    assert everything.count() == vectors.count()


def test_training_order_deterministic_and_partition_invariant(spark):
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    a = {
        r["doc_id"]: (r["shard"], r["position"])
        for r in sampling.training_order(docs, n_shards=8).collect()
    }
    b = {
        r["doc_id"]: (r["shard"], r["position"])
        for r in sampling.training_order(
            docs.repartition(16), n_shards=8
        ).collect()
    }
    assert a == b  # input partitioning never changes the order
    # positions are contiguous 1..len per shard
    by_shard: dict = {}
    for s, p in a.values():
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) == set(range(8))
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # the order is a real shuffle, not id order
    shard0 = [d for d, (s, _) in a.items() if s == 0]
    in_pos = sorted(shard0, key=lambda d: a[d][1])
    assert in_pos != sorted(in_pos)


def test_ngram_counts_hand_computed(spark):
    from machine_readability_checker_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            ("a", "to be or not to be"),
            ("b", "to be is to do"),
            ("c", "single"),
            ("d", ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["ngram"]: (r["n_occurrences"], r["n_docs"])
        for r in textstats.ngram_counts(docs, n=2, top_k=100).collect()
    }
    assert out["to be"] == (3, 2)
    assert out["be or"] == (1, 1)
    assert "single" not in out  # 1-token and empty docs yield no bigram
    assert sum(c for c, _ in out.values()) == 5 + 4  # total bigrams


# --- Distributed BPE training (operators.bpe) ----------------------------


def _seq_bpe(word_freq, n_merges):
    """Sequential reference trainer with the same tie rule (count desc,
    'a b' string asc) — the single-node oracle for bpe_train."""
    from machine_readability_checker_spark.operators.bpe import apply_merges

    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, f in word_freq.items():
            s = apply_merges(w, merges)
            for i in range(len(s) - 1):
                k = (s[i], s[i + 1])
                counts[k] = counts.get(k, 0) + f
        if not counts:
            break
        best = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        if best[1] < 2:
            break
        merges.append(best[0])
    return merges


def test_bpe_train_matches_sequential_reference(spark):
    from machine_readability_checker_spark.operators import bpe

    wf = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    text = " ".join(w for w, f in sorted(wf.items()) for _ in range(f))
    docs = spark.createDataFrame(
        [("a", text), ("b", "")], ["doc_id", "text"]
    )
    got = bpe.bpe_train(docs, n_merges=12)
    want = _seq_bpe(wf, 12)
    assert got == want
    # the classic corpus learns 'es' then 'est' early
    assert ("e", "s") in got and ("es", "t") in got
    assert got.index(("e", "s")) < got.index(("es", "t"))


def test_bpe_encode_reconstructs_and_matches_reference(spark):
    from machine_readability_checker_spark.operators import bpe

    docs = spark.createDataFrame(
        [
            ("a", "newest widest lowest low low"),
            ("b", "the newest of the new"),
            ("c", ""),
        ],
        ["doc_id", "text"],
    )
    merges = bpe.bpe_train(docs, n_merges=8)
    out = {r["doc_id"]: r for r in bpe.bpe_encode(docs, merges).collect()}
    for doc_id, text in [
        ("a", "newest widest lowest low low"),
        ("b", "the newest of the new"),
        ("c", ""),
    ]:
        expect = [
            s for w in text.split() for s in bpe.apply_merges(w, merges)
        ]
        assert list(out[doc_id]["subwords"]) == expect
        assert out[doc_id]["n_subwords"] == len(expect)
        assert "".join(out[doc_id]["subwords"]) == text.replace(" ", "")


def test_bpe_pair_counts_hand_computed(spark):
    from machine_readability_checker_spark.operators import bpe

    docs = spark.createDataFrame(
        [("a", "ab ab abc"), ("b", "x")], ["doc_id", "text"]
    )
    got = {
        r["pair"]: r["count"] for r in bpe.bpe_pair_counts(docs, 10).collect()
    }
    # words: ab(2) abc(1) x(1) -> 'a b' from both (freq 2+1), 'b c' once
    assert got == {"a b": 3, "b c": 1}


# --- WAV codec + audio features ------------------------------------------


def test_wav_codec_roundtrip_and_chunk_walking():
    """RIFF parser: encode→decode round-trips every supported depth,
    sign-extension is exact (24-bit), extra chunks and odd-size padding
    are walked correctly, malformed bytes raise."""
    import struct

    import numpy as np

    from machine_readability_checker_spark.core import wav

    sr = 8000
    t = np.arange(64) / sr
    mono16 = (np.sin(2 * np.pi * 440 * t) * 20000).astype("<i2").tobytes()
    for bits, frames, ch in [
        (16, mono16, 1),
        (8, bytes(range(128, 192)), 1),
        (32, (np.arange(-32, 32, dtype="<i4") << 20).tobytes(), 1),
        (24, b"".join(struct.pack("<i", v << 8)[:3] for v in range(-20, 20)), 1),
    ]:
        blob = wav.encode_wav(sr, ch, bits, frames)
        a = wav.decode_wav(blob)
        assert (a.sample_rate, a.channels, a.bits_per_sample) == (sr, ch, bits)
        assert a.frames == frames
        x = wav.samples_float(a)
        assert x.shape == (a.n_frames, ch)
        assert float(np.max(np.abs(x))) <= 1.0
    # 24-bit sign extension exact: -1 << 8 encoded in 3 bytes → -1/2^23
    a24 = wav.decode_wav(
        wav.encode_wav(sr, 1, 24, struct.pack("<i", -256)[:3])
    )
    assert wav.samples_float(a24)[0, 0] == -256 / float(1 << 23)

    # a LIST chunk with odd size before data must be skipped with padding
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body = (
        b"WAVE"
        + odd
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x01\x00\x02\x00"
    )
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    a = wav.decode_wav(blob)
    assert a.n_frames == 2

    for bad in [b"", b"RIFFxxxx", b"RIFF\x04\x00\x00\x00WAVE"]:
        with pytest.raises(ValueError):
            wav.decode_wav(bad)
    # float PCM (format 3) rejected, not misparsed
    fmt3 = struct.pack("<HHIIHH", 3, 1, sr, sr * 4, 4, 32)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt3)) + fmt3
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError):
        wav.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_audio_features_kernel(spark):
    """Real WAV decode through the Arrow kernel: hand-computable RMS and
    peak for a square wave, silence at zero, corrupt bytes quarantined."""
    import numpy as np

    from machine_readability_checker_spark.core.wav import encode_wav
    from machine_readability_checker_spark.operators.multimodal import (
        extract_audio_features,
    )

    square = np.tile([16384, -16384], 100).astype("<i2").tobytes()
    silence = bytes(400)
    rows = [
        ("d1", "a/sq.wav", "audio", bytearray(encode_wav(8000, 1, 16, square))),
        ("d2", "a/sil.wav", "audio", bytearray(encode_wav(16000, 2, 16, silence))),
        ("d3", "a/bad.wav", "audio", bytearray(b"ID3\x03not-wav-at-all")),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {r["media_ref"]: r for r in extract_audio_features(df).collect()}
    sq = out["a/sq.wav"]
    assert (sq["sample_rate"], sq["channels"], sq["n_frames"]) == (8000, 1, 200)
    assert sq["duration_sec"] == pytest.approx(0.025)
    assert sq["rms"] == pytest.approx(0.5, rel=1e-6)
    assert sq["peak"] == pytest.approx(0.5, rel=1e-6)
    sil = out["a/sil.wav"]
    assert (sil["rms"], sil["peak"]) == (0.0, 0.0)
    assert sil["n_frames"] == 100  # 400 bytes / (2ch * 2B)
    assert out["a/bad.wav"]["decode_error"] is not None
    assert out["a/bad.wav"]["sample_rate"] is None


def test_webdataset_shards_roundtrip(spark, tmp_path):
    """Tar-shard export: every document lands in exactly one shard as a
    <doc_id>.txt member, member order within a shard follows
    training_order position, bytes are deterministic across writes, and
    the manifest totals match."""
    import tarfile

    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 300).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("text of document "), F.col("id")).alias("text"),
    )
    out = str(tmp_path / "wds")
    manifest = {
        r["shard"]: r
        for r in sampling.write_webdataset_shards(
            docs, out, n_shards=4
        ).collect()
    }
    assert set(manifest) == {0, 1, 2, 3}
    assert sum(m["n_docs"] for m in manifest.values()) == 300

    order = {
        (r["shard"], r["position"]): (r["doc_id"])
        for r in sampling.training_order(docs, n_shards=4).collect()
    }
    seen = set()
    for shard, m in manifest.items():
        with tarfile.open(m["path"]) as tf:
            names = tf.getnames()
            # member order == training order within the shard
            expect = [
                f"{order[(shard, p)]}.txt" for p in range(1, len(names) + 1)
            ]
            assert names == expect
            first = names[0]
            body = tf.extractfile(first).read().decode()
            assert body == f"text of document {first[:-4]}"
            seen.update(names)
    assert len(seen) == 300

    # deterministic bytes: a second write produces identical tars
    import hashlib
    import os

    h1 = {
        s: hashlib.md5(open(m["path"], "rb").read()).hexdigest()
        for s, m in manifest.items()
    }
    out2 = str(tmp_path / "wds2")
    m2 = {
        r["shard"]: r
        for r in sampling.write_webdataset_shards(
            docs, out2, n_shards=4
        ).collect()
    }
    for s in h1:
        h2 = hashlib.md5(open(m2[s]["path"], "rb").read()).hexdigest()
        assert h2 == h1[s]
    assert not [f for f in os.listdir(out) if ".attempt-" in f]


def test_ivfpq_batch_query_matches_single(spark, vectors, tmp_path):
    """Batch ADC (LUT-as-broadcast-data) must return exactly the single
    query path's (id, adc) sets per query, and its scan must still be
    partition-pruned to the union of probed cells."""
    cents, cbs = similarity.train_ivfpq(
        vectors, n_cells=4, m=4, k=8, cell_iters=2, pq_iters=2
    )
    path = str(tmp_path / "ivfpq_b")
    similarity.write_ivfpq_index(vectors, path, cents, cbs)

    qids = [100, 5, 17]
    queries = vectors.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = similarity.query_ivfpq_batch(
        spark, path, queries, cents, cbs, k=5, n_probe=2
    )
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], {})[r["vec_id"]] = r["adc"]
    assert set(got) == set(qids)
    for qid in qids:
        qvec = [
            float(x)
            for x in vectors.filter(F.col("vec_id") == qid).collect()[0][
                "embedding"
            ]
        ]
        single = {
            r["vec_id"]: r["adc"]
            for r in similarity.query_ivfpq_index(
                spark, path, qvec, cents, cbs, k=5, n_probe=2
            ).collect()
        }
        assert set(got[qid]) == set(single)
        for vid, adc in single.items():
            assert got[qid][vid] == pytest.approx(adc, rel=1e-9)

    plan = batch._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("FileScan")[1]
    part_filters = scan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters


def test_ann_family_recall_floors(spark, tmp_path):
    """Recall@10 of every ANN path vs exact brute force on a clustered
    corpus (8 gaussian clusters x 50 vectors, dim 16) — deterministic,
    so the floors are hard regression gates, and the measured numbers
    document the accuracy/cost trade-off of each index."""
    rng = np.random.RandomState(11)
    centers = rng.randn(8, 16) * 4
    rows = []
    for i in range(400):
        v = centers[i % 8] + rng.randn(16) * 0.6
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qids = [0, 7, 42, 113, 250]

    mat = np.array([v for _, v in rows])

    def cosine_truth(qid):
        qv = rows[qid][1]
        return {
            r["vec_id"]
            for r in similarity.brute_force_topk(corpus, qv, k=10).collect()
        }

    def l2_truth(qid):
        d = np.sum((mat - mat[qid]) ** 2, axis=1)
        return set(np.argsort(d, kind="stable")[:10].tolist())

    def recall(result_ids_by_q, truth):
        hits = sum(len(result_ids_by_q[q] & truth(q)) for q in qids)
        return hits / (10 * len(qids))

    # PQ ADC full scan — m=8 subspaces of 2 dims: coarse codes cannot
    # separate within-cluster neighbors (m=4 measured ~0.44 recall, a
    # real PQ property), finer subspaces restore resolution
    cbs = similarity.pq_train(corpus, m=8, k=16, iters=3, assign="join")
    enc = similarity.pq_encode_join(corpus, cbs)
    pq_ids = {
        q: {
            r["vec_id"]
            for r in similarity.pq_topk(enc, rows[q][1], cbs, k=10).collect()
        }
        for q in qids
    }

    # IVF (n_probe=2 of 8 cells)
    cents = similarity.kmeans_centroids(corpus, k=8, iters=4)
    ivf_path = str(tmp_path / "ivf")
    similarity.write_ivf_index(corpus, ivf_path, cents)
    ivf_ids = {
        q: {
            r["vec_id"]
            for r in similarity.query_ivf_index(
                spark, ivf_path, rows[q][1], cents, k=10, n_probe=2
            ).collect()
        }
        for q in qids
    }

    # PQ + exact refine: ADC shortlist of 60 re-ranked with exact L2 on
    # the raw vectors — the FAISS IndexRefineFlat recipe
    pq_ref_ids = {
        q: {
            r["vec_id"]
            for r in similarity.pq_topk_refined(
                enc, corpus, rows[q][1], cbs, k=10, shortlist=60
            ).collect()
        }
        for q in qids
    }

    # IVF-PQ (residual codes, n_probe=2); index stores raw vectors so
    # the refined query can re-rank without a second scan
    c2, cb2 = similarity.train_ivfpq(
        corpus, n_cells=8, m=4, k=16, cell_iters=3, pq_iters=3
    )
    ivfpq_path = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(
        corpus, ivfpq_path, c2, cb2, store_vectors=True
    )
    ivfpq_ids = {
        q: {
            r["vec_id"]
            for r in similarity.query_ivfpq_index(
                spark, ivfpq_path, rows[q][1], c2, cb2, k=10, n_probe=2
            ).collect()
        }
        for q in qids
    }
    ivfpq_ref_ids = {
        q: {
            r["vec_id"]
            for r in similarity.query_ivfpq_index_refined(
                spark,
                ivfpq_path,
                rows[q][1],
                c2,
                cb2,
                k=10,
                n_probe=2,
                shortlist=60,
            ).collect()
        }
        for q in qids
    }

    # hyperplane LSH (bucketed)
    queries = corpus.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = similarity.lsh_bucket_topk(
        corpus, queries, k=10, n_planes=4, dim=16
    )
    lsh_ids: dict = {q: set() for q in qids}
    for r in lsh.collect():
        lsh_ids[r["query_id"]].add(r["vec_id"])

    # each method scored against ITS metric's exact ground truth:
    # cosine for IVF/LSH (they rank by cosine), squared L2 for the PQ
    # family (ADC approximates L2)
    recalls = {
        "pq": recall(pq_ids, l2_truth),
        "pq_refined": recall(pq_ref_ids, l2_truth),
        "ivf": recall(ivf_ids, cosine_truth),
        "ivfpq": recall(ivfpq_ids, l2_truth),
        "ivfpq_refined": recall(ivfpq_ref_ids, l2_truth),
        "lsh": recall(lsh_ids, cosine_truth),
    }
    # measured on this fixture: pq 0.52, ivf 1.0, ivfpq 0.66, lsh 0.84;
    # with the exact refine stage (shortlist=60): pq_refined and
    # ivfpq_refined both 1.00.  Raw-vector PQ trails residual IVF-PQ
    # even with twice the subspaces — the classic empirical reason
    # FAISS quantizes residuals — and re-ranking the ADC shortlist with
    # exact distances recovers production-quality answers (the
    # IndexRefineFlat recipe).  Floors sit under the deterministic
    # measurements as regression gates.
    print("ANN recall@10:", recalls)
    assert recalls["pq"] >= 0.45
    assert recalls["pq_refined"] >= 0.85
    assert recalls["ivf"] >= 0.80
    assert recalls["ivfpq"] >= 0.60
    assert recalls["ivfpq_refined"] >= 0.90
    assert recalls["lsh"] >= 0.50
    # the refine stage must never hurt its own family
    assert recalls["pq_refined"] >= recalls["pq"]
    assert recalls["ivfpq_refined"] >= recalls["ivfpq"]


def test_quality_model_separates_prose_from_junk(spark):
    """The hashed-n-gram logistic quality model must separate held-out
    prose from held-out junk (AUC floor + hard margin on means), and
    quality_filter must keep prose while dropping junk at 0.5."""
    import itertools

    from machine_readability_checker_spark.operators import quality_model as QM

    words = (
        "the quick analysis shows that spark pipelines scale when the "
        "data is partitioned well and the query plans stay narrow "
        "results indicate careful measurement matters for every claim"
    ).split()
    rng = np.random.RandomState(3)

    def prose(i):
        k = rng.randint(20, 40)
        return " ".join(words[int(rng.randint(0, len(words)))] for _ in range(k))

    # junk vocabulary SHARED between train and test (like real spam):
    # tokens the model never trains on would score at the prior
    symbol_toks = [
        "".join(chr(33 + int(rng.randint(0, 14))) for _ in range(6))
        for _ in range(20)
    ]

    def junk(i):
        style = i % 3
        if style == 0:
            return " ".join(["buy now click here"] * 10)
        if style == 1:
            tok = symbol_toks[int(rng.randint(0, len(symbol_toks)))]
            return " ".join([tok] * 25)
        return " ".join(str(int(rng.randint(0, 9))) for _ in range(40))

    rows = [(prose(i), 1.0) for i in range(60)] + [
        (junk(i), 0.0) for i in range(60)
    ]
    train = spark.createDataFrame(rows[:45] + rows[60:105], ["text", "label"])
    test = spark.createDataFrame(rows[45:60] + rows[105:], ["text", "label"])

    # 10 L-BFGS iterations separate this fixture fully; the default 30
    # only adds wall time (each iteration is a Spark job)
    model = QM.train_quality_model(train, max_iter=10)
    scored = QM.score_quality(model, test).collect()
    pos = sorted(r["quality_prob"] for r in scored if r["label"] == 1.0)
    neg = sorted(r["quality_prob"] for r in scored if r["label"] == 0.0)
    # exact AUC over the held-out set
    auc = sum(
        (1.0 if p > n else 0.5 if p == n else 0.0)
        for p, n in itertools.product(pos, neg)
    ) / (len(pos) * len(neg))
    assert auc >= 0.95
    assert sum(pos) / len(pos) > 0.8 and sum(neg) / len(neg) < 0.2

    kept = QM.quality_filter(model, test, threshold=0.5).collect()
    kept_labels = [r["label"] for r in kept]
    assert kept_labels.count(1.0) == len(pos)  # no prose lost
    assert kept_labels.count(0.0) <= 1  # ≥93% junk rejected at 0.5


def test_lang_model_holdout_accuracy(spark, tmp_path):
    """Char-n-gram multinomial language-ID (the fastText-style scale
    path past the 5-language stopword heuristic): ≥0.95 holdout
    accuracy across all 16 languages, degenerate inputs survive, and
    the persisted model round-trips to identical predictions."""
    from machine_readability_checker_spark.operators import lang_model as LM

    corpus = LM.seeded_lang_corpus(spark, n_per_lang=100).cache()
    train = corpus.filter("crc32(doc_id) % 5 != 0")
    hold = corpus.filter("crc32(doc_id) % 5 = 0")
    model = LM.train_lang_model(train)
    pred = LM.predict_lang(model, hold).cache()
    acc = pred.selectExpr(
        "avg(CASE WHEN lang_pred = lang THEN 1.0 ELSE 0.0 END) AS acc"
    ).collect()[0]["acc"]
    assert acc >= 0.95, f"holdout accuracy {acc}"
    # every language is represented in the holdout and predicted
    assert pred.select("lang").distinct().count() == len(LM.LANG_WORDS)
    assert set(
        r["lang_pred"] for r in pred.select("lang_pred").distinct().collect()
    ) <= set(LM.LANG_WORDS)
    # confidence is a probability and is high on in-domain text
    stats = pred.selectExpr(
        "min(lang_prob) AS lo", "max(lang_prob) AS hi", "avg(lang_prob) AS mean"
    ).collect()[0]
    assert 0.0 <= stats["lo"] and stats["hi"] <= 1.0 and stats["mean"] > 0.8
    # degenerate inputs: empty / one-char / whitespace docs score without
    # crashing (the char-gram SQL guards the sequence() bounds)
    weird = spark.createDataFrame(
        [("w1", ""), ("w2", "a"), ("w3", "   "), ("w4", "んで 的 the")],
        ["doc_id", "text"],
    )
    assert LM.predict_lang(model, weird).count() == 4
    # persistence round-trip (the SQLTransformer featurizer must travel
    # with the weights): identical predictions after save/load
    path = str(tmp_path / "lang_model")
    model.write().overwrite().save(path)
    from pyspark.ml import PipelineModel

    reloaded = PipelineModel.load(path)
    a = {r["doc_id"]: r["lang_pred"]
         for r in LM.predict_lang(model, hold).collect()}
    b = {r["doc_id"]: r["lang_pred"]
         for r in LM.predict_lang(reloaded, hold).collect()}
    assert a == b


def test_model_quality_funnel_stage(spark):
    """The CCNet-style model stage wired into the cleaning funnel
    (jobs/clean.py --quality-model): label_drop_stage with a fitted
    model must (a) add the model_quality stage row at the right index,
    (b) drop EXACTLY the stage-4 survivors that score_quality scores
    below threshold (pytest equality pin — the stage is not
    SQL-oracle-expressible), and (c) leave the non-model stages'
    labels untouched vs the model-free run."""
    from machine_readability_checker_spark.operators import quality_model as QM
    from machine_readability_checker_spark.operators import textstats as TS

    model = QM.train_quality_model(
        QM.seeded_training_frame(spark, n_per_class=120), max_iter=10
    )
    prose = [
        (
            f"p{i}",
            "the analysis shows that careful measurement matters for "
            f"every claim and the results indicate scale {i}",
        )
        for i in range(8)
    ]
    # distinct texts: identical junk would be eaten by exact-dedup
    # (stage 1) before the model stage ever sees it
    junk = [
        (f"j{i}", " ".join([f"$$$ buy now click here {i}"] * 8))
        for i in range(4)
    ]
    dupe = [("dup1", prose[0][1]), ("tiny", "too short")]
    docs = spark.createDataFrame(prose + junk + dupe, ["doc_id", "text"])

    lab = TS.label_drop_stage(
        docs, require_known_lang=True, quality_model=model
    )
    funnel = TS.funnel_from_labels(
        lab, require_known_lang=True, model_quality=True
    ).collect()
    stages = {r["stage"]: (r["stage_idx"], r["n_docs"]) for r in funnel}
    assert "model_quality" in stages
    assert stages["model_quality"][0] == 4  # after min_tokens, before lang
    assert stages["lang_known"][0] == 5

    # equality pin: the model stage's drops == stage-1..3 survivors
    # whose standalone score is below threshold
    lab_rows = lab.collect()
    model_dropped = {r["doc_id"] for r in lab_rows if r["_drop"] == 4}
    pre_survivors = docs.join(
        spark.createDataFrame(
            [(r["doc_id"],) for r in lab_rows if r["_drop"] is None or r["_drop"] >= 4],
            ["doc_id"],
        ),
        "doc_id",
    )
    scored = QM.score_quality(model, pre_survivors).collect()
    expect_dropped = {r["doc_id"] for r in scored if r["quality_prob"] < 0.5}
    assert model_dropped == expect_dropped
    assert {f"j{i}" for i in range(4)} <= model_dropped  # junk caught
    assert not any(d.startswith("p") for d in model_dropped)  # prose kept

    # non-model stages unchanged vs the model-free labeling
    base = {
        r["doc_id"]: r["_drop"]
        for r in TS.label_drop_stage(docs, require_known_lang=True).collect()
    }
    for r in lab_rows:
        if r["_drop"] in (1, 2, 3):
            assert base[r["doc_id"]] == r["_drop"]


def test_semantic_dedup_keep_rule(spark):
    """SemDeDup invariants on a hand-built geometry: three copies of a
    direction plus an atypical (far-from-centroid) member form one
    cluster; exactly one member is kept and it is the one with the
    LOWEST cosine to the cluster centroid (the paper's diversity rule);
    vectors outside the graph survive semantic_dedup_keep untouched."""
    import numpy as np

    rng = np.random.RandomState(3)
    a = rng.randn(8)
    a /= np.linalg.norm(a)
    # orthogonal helper for the "atypical" member
    b = rng.randn(8)
    b -= (b @ a) * a
    b /= np.linalg.norm(b)
    rows = [
        (0, [float(x) for x in a]),                      # seed centroid 0
        (1, [float(x) for x in -a + 0.01 * b]),          # seed centroid 1
        (2, [float(x) for x in a * 2.0]),                # dup of 0-direction
        (3, [float(x) for x in a + 0.001 * b]),          # dup of 0-direction
        (4, [float(x) for x in (a + 0.9 * b) * 0.6]),    # atypical, still ≥ tau
        (5, [float(x) for x in b]),                      # lone member, no pair
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = similarity.kmeans_centroids(df, k=2, iters=0)
    verdict = similarity.semantic_dedup(df, cents, tau=0.55).collect()
    by_id = {r["vec_id"]: r for r in verdict}
    # 5 pairs nothing at tau=0.55 → not in the graph at all
    assert 5 not in by_id and 1 not in by_id
    cluster = {r["vec_id"] for r in verdict}
    assert cluster == {0, 2, 3, 4}
    kept = [r["vec_id"] for r in verdict if r["kept"]]
    # the atypical member has the lowest cos-to-centroid → survives
    assert kept == [4]
    # exactly one survivor per cluster_id
    ids = {r["cluster_id"] for r in verdict}
    assert len(ids) == 1
    survivors = similarity.semantic_dedup_keep(df, cents, tau=0.55)
    assert sorted(r["vec_id"] for r in survivors.collect()) == [1, 4, 5]


def test_dsir_selects_target_like_docs(spark):
    """DSIR invariants: (1) docs from the target distribution get higher
    weights than off-target docs; (2) Gumbel top-k is deterministic and
    exactly k; (3) the hashed-feature variant preserves the same
    target-vs-raw ordering; (4) empty docs score n_feats=0, log_w=0."""
    from machine_readability_checker_spark.operators import dsir

    tgt_rows = [(1000 + i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
    raw_rows = [(i, "zzz qqq vvv kkk www yyy xxx") for i in range(20)] + [
        (50 + i, "the quick brown fox likes the lazy dog") for i in range(4)
    ] + [(99, "")]
    raw = spark.createDataFrame(raw_rows, ["doc_id", "text"])
    target = spark.createDataFrame(tgt_rows, ["doc_id", "text"])

    lr = dsir.dsir_log_ratios(dsir.feature_counts(raw), dsir.feature_counts(target))
    w = dsir.dsir_weights(raw, lr)
    by_id = {r["doc_id"]: r for r in w.collect()}
    assert by_id[99]["n_feats"] == 0 and by_id[99]["log_w"] == 0.0
    assert min(by_id[50 + i]["log_w"] for i in range(4)) > max(
        by_id[i]["log_w"] for i in range(20)
    )

    sel = dsir.dsir_select(w, k=4)
    ids = sorted(r["doc_id"] for r in sel.collect())
    assert len(ids) == 4
    sel2 = sorted(r["doc_id"] for r in dsir.dsir_select(w, k=4).collect())
    assert ids == sel2  # md5-Gumbel: same seed, same sample
    flag = dsir.dsir_selected_flag(w, k=4)
    assert sorted(
        r["doc_id"] for r in flag.filter("selected").collect()
    ) == ids

    lr_h = dsir.dsir_log_ratios(
        dsir.feature_counts(raw, hash_buckets=512),
        dsir.feature_counts(target, hash_buckets=512),
    )
    w_h = dsir.dsir_weights(
        raw, lr_h, hash_buckets=512, broadcast_model=True
    )
    by_id_h = {r["doc_id"]: r["log_w"] for r in w_h.collect()}
    assert min(by_id_h[50 + i] for i in range(4)) > max(
        by_id_h[i] for i in range(20)
    )


def test_pack_sequences_tiles_exactly(spark):
    """Packing invariants at a hand-checkable scale: every sequence but
    the last holds exactly seq_len tokens; each document's segments tile
    it (doc_start runs 0..tc contiguously); empty docs are absent; the
    layout is invariant to input partitioning."""
    from machine_readability_checker_spark.operators.sampling import (
        pack_sequences,
    )

    rows = [(i, " ".join(f"w{j}" for j in range(7 + (i * 13) % 30))) for i in range(40)]
    rows.append((99, ""))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(docs, seq_len=32).collect()
    assert all(r["doc_id"] != 99 for r in out)
    by_seq: dict = {}
    for r in out:
        by_seq.setdefault(r["seq_id"], 0)
        by_seq[r["seq_id"]] += r["n_tokens"]
    seqs = sorted(by_seq)
    assert seqs == list(range(len(seqs)))
    assert all(by_seq[s] == 32 for s in seqs[:-1])
    assert 0 < by_seq[seqs[-1]] <= 32
    by_doc: dict = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["doc_start"])):
        nxt = by_doc.setdefault(r["doc_id"], 0)
        assert r["doc_start"] == nxt
        by_doc[r["doc_id"]] = nxt + r["n_tokens"]
    assert by_doc[0] == 7
    repart = pack_sequences(docs.repartition(7), seq_len=32).collect()
    key = lambda rs: sorted((r["seq_id"], r["doc_id"], r["n_tokens"], r["doc_start"], r["seq_start"]) for r in rs)
    assert key(repart) == key(out)


def test_jsonl_shards_roundtrip_and_determinism(spark, tmp_path):
    """jsonl.gz shard export: every document lands in exactly one shard
    as one compact JSON line, line order follows training_order, shard
    BYTES are identical across writes (gzip mtime=0 + sort_keys), and
    extra payload columns survive."""
    import gzip
    import json

    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 200).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("body "), F.col("id")).alias("text"),
        (F.col("id") % 3).alias("lang_id"),
    )
    out = str(tmp_path / "jsonl")
    manifest = {
        r["shard"]: r
        for r in sampling.write_jsonl_shards(
            docs, out, n_shards=4
        ).collect()
    }
    assert set(manifest) == {0, 1, 2, 3}
    assert sum(m["n_docs"] for m in manifest.values()) == 200

    order = {
        (r["shard"], r["position"]): r["doc_id"]
        for r in sampling.training_order(docs, n_shards=4).collect()
    }
    for shard, m in manifest.items():
        with gzip.open(m["path"], "rt", encoding="utf-8") as f:
            lines = [json.loads(ln) for ln in f]
        assert [o["doc_id"] for o in lines] == [
            order[(shard, p)] for p in range(1, len(lines) + 1)
        ]
        for o in lines:
            assert o["text"] == f"body {o['doc_id']}"
            assert o["lang_id"] == int(o["doc_id"]) % 3

    # byte determinism across a full rewrite
    first_bytes = {
        s: open(m["path"], "rb").read() for s, m in manifest.items()
    }
    sampling.write_jsonl_shards(docs, out, n_shards=4).collect()
    for s, m in manifest.items():
        assert open(m["path"], "rb").read() == first_bytes[s]


def test_arrow_shards_roundtrip_and_determinism(spark, tmp_path):
    """Arrow IPC shard export: pyarrow reads every shard back with the
    explicit schema, row order follows training_order, the multi-batch
    flush path chunks at batch_rows, shard BYTES are identical across
    writes, and nested columns are rejected up front."""
    import pyarrow as pa
    import pytest as _pytest

    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 200).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("body "), F.col("id")).alias("text"),
        (F.col("id") % 3).alias("lang_id"),
    )
    out = str(tmp_path / "arrow")
    manifest = {
        r["shard"]: r
        for r in sampling.write_arrow_shards(
            docs, out, n_shards=4, batch_rows=16
        ).collect()
    }
    assert set(manifest) == {0, 1, 2, 3}
    assert sum(m["n_docs"] for m in manifest.values()) == 200

    order = {
        (r["shard"], r["position"]): r["doc_id"]
        for r in sampling.training_order(docs, n_shards=4).collect()
    }
    for shard, m in manifest.items():
        rd = pa.ipc.open_file(m["path"])
        tbl = rd.read_all()
        assert tbl.schema.names == ["doc_id", "text", "lang_id"]
        assert tbl.schema.field("lang_id").type == pa.int64()
        ids = tbl.column("doc_id").to_pylist()
        assert ids == [order[(shard, p)] for p in range(1, len(ids) + 1)]
        texts = tbl.column("text").to_pylist()
        assert texts == [f"body {i}" for i in ids]
        # batch_rows=16 → multi-batch files, fixed boundaries
        assert rd.num_record_batches == -(-m["n_docs"] // 16)

    first_bytes = {
        s: open(m["path"], "rb").read() for s, m in manifest.items()
    }
    sampling.write_arrow_shards(
        docs, out, n_shards=4, batch_rows=16
    ).collect()
    for s, m in manifest.items():
        assert open(m["path"], "rb").read() == first_bytes[s]

    nested = docs.withColumn("arr", F.array(F.lit(1)))
    with _pytest.raises(ValueError, match="flat exportable"):
        sampling.write_arrow_shards(nested, out)


def test_pack_documents_ffd_invariants(spark):
    """Doc-boundary packing: every doc lands whole in exactly one
    sequence, sequences never exceed seq_len (overflow docs flagged and
    isolated), the result is invariant to input partitioning, and FFD
    fill beats 85% on mixed lengths."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 400).select(
        F.col("id").cast("string").alias("doc_id"),
        (100 + (F.col("id") * 37) % 400).alias("n_tok"),
    )
    # plant one overflow doc
    docs = docs.union(
        spark.createDataFrame([("big", 5000)], "doc_id string, n_tok long")
    )
    out = sampling.pack_documents(
        docs, seq_len=2048, count_col="n_tok", n_shards=8
    ).collect()
    assert len(out) == 401  # one row per doc, none split
    assert len({r.doc_id for r in out}) == 401
    by_seq: dict = {}
    for r in out:
        by_seq.setdefault(r.seq_id, []).append(r)
    for rows in by_seq.values():
        total = sum(r.n_tokens for r in rows)
        assert all(r.seq_fill == total for r in rows)
        if any(r.overflow for r in rows):
            assert len(rows) == 1  # overflow docs sit alone
        else:
            assert total <= 2048
    big = next(r for r in out if r.doc_id == "big")
    assert big.overflow and big.seq_fill == 5000
    # fill quality: FFD over mixed lengths
    fills = [
        sum(r.n_tokens for r in rows)
        for rows in by_seq.values()
        if not any(r.overflow for r in rows)
    ]
    full_bins = sorted(fills, reverse=True)[: len(fills) - 8]
    assert sum(full_bins) / (2048 * len(full_bins)) > 0.85
    # partition invariance
    again = sampling.pack_documents(
        docs.repartition(17), seq_len=2048, count_col="n_tok", n_shards=8
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pack_documents_long_tail_fill(spark):
    """Realistic web-corpus length regime (heavy-tailed: many short
    docs, few near-cap ones): FFD should fill ≥0.9 — the regime the
    whale-heavy job fixture understates (round-5 note #6)."""
    from machine_readability_checker_spark.operators import sampling

    # deterministic heavy tail: ~87% short (40-200), 10% medium
    # (600-1200), 3% long (1500-1900), cap 2048
    docs = spark.range(0, 3000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 30 < 26, 40 + (F.col("id") * 13) % 160)
        .when(F.col("id") % 30 < 29, 600 + (F.col("id") * 29) % 600)
        .otherwise(1500 + (F.col("id") * 7) % 400)
        .cast("long")
        .alias("n_tok"),
    )
    out = sampling.pack_documents(
        docs, seq_len=2048, count_col="n_tok", n_shards=8
    ).collect()
    assert len(out) == 3000
    fills: dict = {}
    for r in out:
        fills[r.seq_id] = r.seq_fill
    # drop the per-shard residual bins (8 shards → ≤8 underfull tails)
    full = sorted(fills.values(), reverse=True)[: len(fills) - 8]
    assert sum(full) / (2048 * len(full)) > 0.9


def test_tokenizer_fertility_hand_computed(spark):
    from machine_readability_checker_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            ("0", "hello world3 ,", "en"),   # 3 words, 4 subwords
            ("1", "日本語 テキスト", "ja"),    # 2 words, 8 subwords (per char)
        ],
        "doc_id string, text string, lang string",
    )
    rows = {
        r.lang: r
        for r in textstats.tokenizer_fertility(docs).collect()
    }
    en, ja = rows["en"], rows["ja"]
    assert (en.n_words, en.n_subwords) == (3, 4)
    assert en.fertility == pytest.approx(4 / 3, abs=1e-6)
    assert en.bytes_per_subword == pytest.approx(
        len("hello world3 ,".encode()) / 4, abs=1e-6
    )
    # CJK: every char is its own BPE-ish subword → high fertility,
    # multibyte bytes-per-subword
    assert (ja.n_words, ja.n_subwords) == (2, 7)
    assert ja.fertility == pytest.approx(3.5)
    assert ja.bytes_per_subword > 3.0


def test_mine_hard_negatives_excludes_self_and_positives(spark):
    from machine_readability_checker_spark.operators import similarity

    # corpus on a circle: vec 1 is an exact duplicate of the anchor
    # (labeled positive), vec 2 nearly parallel, others decreasing
    import math

    vecs = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),            # positive (same direction)
        (2, [math.cos(0.1), math.sin(0.1)]),
        (3, [math.cos(0.5), math.sin(0.5)]),
        (4, [math.cos(1.2), math.sin(1.2)]),
        (5, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    anchors = spark.createDataFrame(
        [(0, [1.0, 0.0])], "anchor_id long, embedding array<double>"
    )
    positives = spark.createDataFrame(
        [(0, 1)], "anchor_id long, vec_id long"
    )
    got = similarity.mine_hard_negatives(
        emb, anchors, positives, k=3
    ).collect()
    ids = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]
    assert ids == [2, 3, 4]  # self (0) and positive (1) never appear
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [1, 2, 3]
    cos = [r.cosine for r in sorted(got, key=lambda r: r.rank)]
    assert cos == sorted(cos, reverse=True)
    # k negatives survive even though a positive outranked them all
    assert len(got) == 3


def test_curriculum_order_score_primary_hash_shards(spark):
    """Curriculum order: shard membership identical to training_order
    (score never moves a doc between shards), positions within each
    shard ascend with the score, ties break by md5 then id, and
    ascending=False reverses the difficulty direction."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.range(0, 300).select(
        F.col("id").cast("string").alias("doc_id"),
        ((F.col("id") * 17) % 50).cast("double").alias("ppl"),  # ties
    )
    cur = sampling.curriculum_order(docs, "ppl", n_shards=4).collect()
    base = {
        r.doc_id: r.shard
        for r in sampling.training_order(docs, n_shards=4).collect()
    }
    assert {r.doc_id: r.shard for r in cur} == base
    by_shard: dict = {}
    for r in cur:
        by_shard.setdefault(r.shard, []).append(r)
    import hashlib

    for rows in by_shard.values():
        rows.sort(key=lambda r: r.position)
        scores = [r.ppl for r in rows]
        assert scores == sorted(scores)
        keys = [
            (r.ppl, hashlib.md5(r.doc_id.encode()).hexdigest(), r.doc_id)
            for r in rows
        ]
        assert keys == sorted(keys)  # tie rule: md5 then id
    anti = sampling.curriculum_order(
        docs, "ppl", n_shards=4, ascending=False
    ).collect()
    for shard, rows in by_shard.items():
        a = sorted(
            (r for r in anti if r.shard == shard),
            key=lambda r: r.position,
        )
        assert [r.ppl for r in a] == sorted(
            (r.ppl for r in a), reverse=True
        )


def test_bpe_artifacts_round_trip(spark, tmp_path):
    """merges.txt + vocab.json interchange: write → read → encode
    equality, vocab covers every emitted token, ids are stable."""
    from machine_readability_checker_spark.operators import bpe

    docs = spark.createDataFrame(
        [("a", "newest widest lowest low low"), ("b", "the new west")],
        ["doc_id", "text"],
    )
    merges = bpe.bpe_train(docs, n_merges=8)
    alphabet = sorted(
        {c for r in docs.collect() for c in (r["text"] or "") if c != " "}
    )
    path = str(tmp_path / "tok")
    vocab = bpe.write_bpe_artifacts(path, merges, alphabet)
    merges2, vocab2 = bpe.read_bpe_artifacts(path)
    assert merges2 == merges
    assert vocab2 == vocab
    # base alphabet occupies the low ids, merged symbols follow in order
    assert all(vocab[c] < len(alphabet) for c in alphabet)
    a0, b0 = merges[0]
    assert vocab[a0 + b0] == len(set(alphabet))
    # encoding with the read-back merges is identical, and every
    # emitted subword has a vocab id
    out = bpe.bpe_encode(docs, merges2).collect()
    for r in out:
        assert list(r["subwords"]) == [
            s
            for w in {"a": "newest widest lowest low low",
                      "b": "the new west"}[r["doc_id"]].split()
            for s in bpe.apply_merges(w, merges)
        ]
        assert all(s in vocab for s in r["subwords"])
    # merges.txt is the conventional shape: header + "a b" lines
    lines = open(f"{path}/merges.txt", encoding="utf-8").read().splitlines()
    assert lines[0].startswith("#version")
    assert lines[1:] == [f"{a} {b}" for a, b in merges]


def test_unigram_artifacts_round_trip(spark, tmp_path):
    """SentencePiece-shape vocab TSV: write → read → identical model
    (repr round-trips floats exactly) → identical Viterbi encodings."""
    from machine_readability_checker_spark.operators import unigram

    docs = spark.createDataFrame(
        [("a", "hello hello world held low"), ("b", "lower lowest")],
        ["doc_id", "text"],
    )
    model = unigram.unigram_train(docs, vocab_size=40, em_iters=2)
    path = str(tmp_path / "sp")
    unigram.write_unigram_artifacts(path, model)
    model2 = unigram.read_unigram_artifacts(path)
    assert model2 == model  # exact float round trip via repr
    got1 = {
        r["doc_id"]: list(r["pieces"])
        for r in unigram.unigram_encode(docs, model).collect()
    }
    got2 = {
        r["doc_id"]: list(r["pieces"])
        for r in unigram.unigram_encode(docs, model2).collect()
    }
    assert got1 == got2
    # file shape: descending logp, piece<TAB>logp
    lines = open(
        f"{path}/unigram.vocab", encoding="utf-8"
    ).read().splitlines()
    lps = [float(ln.rpartition("\t")[2]) for ln in lines]
    assert lps == sorted(lps, reverse=True)
    assert len(lines) == len(model)


def test_pack_sequences_count_col_matches_text_path(spark):
    """count_col packs a pre-tokenized corpus: with counts equal to
    the text tokenization, the layout is identical to the text path."""
    from machine_readability_checker_spark.operators import sampling
    from machine_readability_checker_spark.operators.textstats import (
        token_count,
    )

    docs = spark.createDataFrame(
        [(str(i), " ".join(["w"] * (3 + i % 5))) for i in range(40)],
        ["doc_id", "text"],
    )
    via_text = sampling.pack_sequences(docs, seq_len=7).collect()
    pre = docs.withColumn("n", token_count(F.col("text")))
    via_count = sampling.pack_sequences(
        pre, seq_len=7, count_col="n"
    ).collect()
    key = lambda r: (r["seq_id"], r["doc_id"])  # noqa: E731
    assert sorted(map(tuple, via_text), key=lambda t: (t[0], t[1])) == \
        sorted(map(tuple, via_count), key=lambda t: (t[0], t[1]))


def test_opq_rotation_lifts_pq_recall_on_anisotropic_data(spark):
    """OPQ (Ge et al. 2013): on data whose variance concentrates in
    correlated dimensions, rotating before PQ must (a) produce an
    orthogonal matrix, (b) cut the sample quantization error vs
    identity, and (c) lift ADC recall@10 — the whole PQ family
    composes unchanged in the rotated space."""
    rng = np.random.RandomState(5)
    # anisotropic corpus: clustered in a latent space, then mixed
    # through a harsh low-rank spectrum between two UNRELATED dense
    # rotations — the signal lives in 4 arbitrarily-oriented
    # directions, so axis-aligned subspaces each see signal+noise
    # soup (the regime OPQ exists for)
    centers = rng.randn(8, 16) * 4
    Z = np.vstack([
        centers[i % 8] + rng.randn(16) * 0.5 for i in range(400)
    ])
    Q1, _ = np.linalg.qr(rng.randn(16, 16))
    Q2, _ = np.linalg.qr(rng.randn(16, 16))
    A = Q1 @ np.diag(np.array([8, 6, 5, 4] + [0.1] * 12, float)) @ Q2
    Xm = Z @ A
    rows = [(i, [float(x) for x in Xm[i]]) for i in range(400)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qids = [0, 7, 42, 113, 250]

    def l2_truth(qid):
        d = np.sum((Xm - Xm[qid]) ** 2, axis=1)
        return set(np.argsort(d, kind="stable")[:10].tolist())

    def run_pq(df, qvec_by_q, cbs_df):
        cbs = similarity.pq_train(cbs_df, m=4, k=16, iters=6)
        enc = similarity.pq_encode(df, cbs)
        return {
            q: {
                r["vec_id"]
                for r in similarity.pq_topk(
                    enc, qvec_by_q[q], cbs, k=10
                ).collect()
            }
            for q in qids
        }

    def recall(ids_by_q):
        return sum(
            len(ids_by_q[q] & l2_truth(q)) for q in qids
        ) / (10 * len(qids))

    plain = recall(run_pq(corpus, {q: rows[q][1] for q in qids}, corpus))

    R = similarity.opq_train(corpus, m=4, k=16, opq_iters=10)
    Rm = np.array(R)
    # (a) orthogonal
    assert np.allclose(Rm.T @ Rm, np.eye(16), atol=1e-8)
    # rotation is an isometry → L2 neighbors are unchanged, so the
    # rotated pipeline is scored against the SAME ground truth
    rot = similarity.rotate_vectors(corpus, R)
    opq = recall(
        run_pq(
            rot,
            {q: similarity.rotate_query(rows[q][1], R) for q in qids},
            rot,
        )
    )
    # (b) sample quantization error drops vs identity
    X = similarity.sample_vectors(corpus, n=400)
    def qerr(Rm_):
        Xr = X @ Rm_
        books = similarity._local_pq(Xr, 4, 16, 4)
        return float(((Xr - similarity._pq_reconstruct(Xr, books)) ** 2).sum())
    assert qerr(Rm) < qerr(np.eye(16))
    # (c) recall floors: measured plain 0.60 / opq 0.68 on this
    # fixture (deterministic data + trainers, so these are hard gates)
    assert opq > plain
    assert opq >= 0.62
    print("OPQ recall:", {"pq": plain, "opq": opq})


def test_chunked_topk_max_pool_semantics(spark):
    """Doc score = MAX over its chunk cosines: a document with one
    perfect chunk outranks one with many mediocre chunks, n_chunks
    counts the doc's chunks, and ranks are per-query contiguous."""
    from machine_readability_checker_spark.operators import similarity

    chunks = spark.createDataFrame(
        [
            ("docA", [1.0, 0.0]),   # perfect match chunk
            ("docA", [0.0, 1.0]),   # orthogonal chunk
            ("docB", [0.8, 0.6]),   # two decent chunks
            ("docB", [0.6, 0.8]),
            ("docC", [-1.0, 0.0]),  # anti-match
        ],
        "doc_id string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    got = sorted(
        similarity.chunked_topk(chunks, queries, k=3).collect(),
        key=lambda r: r.rank,
    )
    assert [r.doc_id for r in got] == ["docA", "docB", "docC"]
    assert got[0].score == pytest.approx(1.0)      # max, not mean
    assert got[0].n_chunks == 2
    assert got[1].score == pytest.approx(0.8)
    assert [r.rank for r in got] == [1, 2, 3]


def test_fix_mojibake_guarded_repair(spark):
    """ftfy-style double-encoding repair: cp1252 and latin-1 flavored
    mojibake repairs to the original text; clean text, standalone
    non-mojibake accents, >1-byte scripts (emoji/CJK) and NULLs pass
    through untouched (the guard chain is never destructive); repair
    is idempotent."""
    from machine_readability_checker_spark.operators.textstats import (
        fix_mojibake,
        mojibake_count,
    )

    rows = [
        ("cp1252", "CafÃ© â€” â€œquotedâ€¦ Â© naÃ¯ve", 
         "Café — “quoted… © naïve", True),
        ("latin1", "dÃ©jÃ\xa0 vu Ã±oÃ±o", "déjà vu ñoño", True),
        ("clean", "perfectly clean ascii text",
         "perfectly clean ascii text", False),
        ("accent", "déjà vu stays as is", "déjà vu stays as is", False),
        ("solo", "Ã is a standalone letter", "Ã is a standalone letter",
         False),
        ("emoji", "emoji 😀 with CafÃ© untouched",
         "emoji 😀 with CafÃ© untouched", False),
        ("null", None, None, False),
    ]
    df = spark.createDataFrame(
        [(a, b) for a, b, _, _ in rows], "doc_id string, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["mojibake_fixed"])
        for r in fix_mojibake(df).collect()
    }
    for doc_id, _, want_text, want_flag in rows:
        assert got[doc_id] == (want_text, want_flag), doc_id
    # idempotent: a second pass changes nothing
    again = {
        r["doc_id"]: (r["text"], r["mojibake_fixed"])
        for r in fix_mojibake(
            fix_mojibake(df).drop("mojibake_fixed")
        ).collect()
    }
    assert {k: v[0] for k, v in again.items()} == {
        k: v[0] for k, v in got.items()
    }
    # the indicator never fires on repaired text
    from pyspark.sql import functions as F

    fixed = fix_mojibake(df).filter("mojibake_fixed")
    assert fixed.filter(
        mojibake_count(F.col("text")) > 0
    ).count() == 0
    # plan stays JVM-side (narrow map, no Python)
    plan = (
        fix_mojibake(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_lang_segments_and_profile(spark):
    """Per-line language segmentation on a hand-built bilingual doc:
    line votes, char-mass dominance with the lexicographic tie rule,
    the mixed flag, blank-line skipping, and 'und' exclusion from
    n_langs."""
    from machine_readability_checker_spark.operators.textstats import (
        doc_lang_profile,
        lang_segments,
    )

    en = "the cat sat on the mat and the dog is here"      # en votes
    es = "el perro y la casa que en los campos"            # es votes
    num = "12345 67890"                                    # und
    rows = [
        ("mix", f"{en}\n\n{es}\n{num}"),
        ("mono", f"{en}\n{en}"),
        ("und", num),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    segs = {
        (r["doc_id"], r["line_idx"]): (r["lang"], r["n_chars"])
        for r in lang_segments(df).collect()
    }
    # blank line (idx 1) skipped; langs as constructed
    assert segs[("mix", 0)] == ("en", len(en))
    assert ("mix", 1) not in segs
    assert segs[("mix", 2)] == ("es", len(es))
    assert segs[("mix", 3)] == ("und", len(num))

    prof = {
        r["doc_id"]: (
            r["dominant_lang"], r["dominant_frac"], r["n_langs"], r["mixed"]
        )
        for r in doc_lang_profile(lang_segments(df)).collect()
    }
    total = len(en) + len(es) + len(num)
    assert prof["mix"] == ("en", round(len(en) / total, 6), 2, True)
    assert prof["mono"] == ("en", 1.0, 1, False)
    assert prof["und"] == ("und", 1.0, 0, False)


def test_script_profile_and_homoglyphs(spark):
    """Writing-script fractions and Latin/Cyrillic homoglyph word
    detection, hand-computed (incl. the pаypаl spoof and a
    letter-free string)."""
    from pyspark.sql import functions as F

    from machine_readability_checker_spark.operators.textstats import (
        mixed_script_word_count,
        script_profile,
    )

    rows = [
        ("en", "plain english words"),
        ("spoof", "login to pаypаl now"),       # Cyrillic а twice
        ("cjk", "日本語テキスト abc"),
        ("none", "123 !!! 456"),
        ("nul", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {
        r["doc_id"]: (r["p"].asDict() if r["p"] else None, r["mx"])
        for r in df.select(
            "doc_id",
            script_profile(F.col("text")).alias("p"),
            mixed_script_word_count(F.col("text")).alias("mx"),
        ).collect()
    }
    assert out["en"][0]["latin"] == 1.0 and out["en"][1] == 0
    sp = out["spoof"][0]
    assert sp["n_letters"] == 16  # login to pаypаl now
    assert sp["cyrillic"] == round(2 / 16, 6)
    assert sp["latin"] == round(14 / 16, 6)
    assert out["spoof"][1] == 1
    cj = out["cjk"][0]
    assert cj["han"] == round(3 / 10, 6)   # 日本語
    assert cj["kana"] == round(4 / 10, 6)  # テキスト
    assert cj["latin"] == round(3 / 10, 6)
    assert out["none"][0]["n_letters"] == 0
    assert out["none"][0]["latin"] == 0.0


def test_interval_join_bucketized(spark):
    """Bucketized interval join == brute-force BETWEEN semantics
    (inclusive ends, intervals spanning many buckets, degenerate
    point intervals, empty matches), with the plan pinned to an EQUI
    join — no BroadcastNestedLoopJoin, no cartesian."""
    import itertools

    from pyspark.sql import functions as F

    from machine_readability_checker_spark.operators.temporal import (
        interval_join,
    )

    events = [(f"e{i}", 100 * i + 7) for i in range(60)]
    intervals = [
        ("iv0", 0, 250),          # several events
        ("iv1", 307, 307),        # point interval, exact hit
        ("iv2", 290, 320),        # single event
        ("iv3", 5000, 5999),      # multi-bucket span
        ("iv4", 9000, 9001),      # no matches
        ("iv5", 150, 4000),       # wide span, many buckets
    ]
    ev = spark.createDataFrame(events, "event_id string, ts long")
    iv = spark.createDataFrame(
        intervals, "iv_id string, start_ts long, end_ts long"
    )
    got = {
        (r["event_id"], r["iv_id"])
        for r in interval_join(ev, iv, bucket_width=256).collect()
    }
    want = {
        (e, i)
        for (e, ts), (i, s, t) in itertools.product(events, intervals)
        if s <= ts <= t
    }
    assert got == want and ("e3", "iv1") in got and len(want) > 40

    # each pair exactly once (no cross-bucket duplicates)
    dup = (
        interval_join(ev, iv, bucket_width=256)
        .groupBy("event_id", "iv_id").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0

    # bucket-width invariance
    for w in (64, 1000, 10_000):
        alt = {
            (r["event_id"], r["iv_id"])
            for r in interval_join(ev, iv, bucket_width=w).collect()
        }
        assert alt == want, w

    # explode guard: a pathological interval is dropped, others kept
    iv_bad = spark.createDataFrame(
        intervals + [("huge", 0, 10**12)],
        "iv_id string, start_ts long, end_ts long",
    )
    guarded = {
        (r["event_id"], r["iv_id"])
        for r in interval_join(
            ev, iv_bad, bucket_width=256, max_buckets_per_interval=1000
        ).collect()
    }
    assert guarded == want

    # plan: equi join on the bucket, never a nested-loop/cartesian
    plan = (
        interval_join(ev, iv, bucket_width=256)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
