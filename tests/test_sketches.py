"""KMV sketches: determinism, estimator accuracy, union closure,
overlap semantics."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from machine_readability_checker_spark.operators import sketches as SK


def _corpus(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "text string")


def test_kmv_sketch_is_k_smallest_md5(spark):
    vals = [f"doc {i}" for i in range(100)]
    got = [r.h for r in SK.kmv_sketch(_corpus(spark, vals), k=16).collect()]
    want = sorted(
        hashlib.md5(v.encode()).hexdigest() for v in set(vals)
    )[:16]
    assert got == want
    # partitioning never changes a sketch
    got7 = [
        r.h
        for r in SK.kmv_sketch(
            _corpus(spark, vals).repartition(7), k=16
        ).collect()
    ]
    assert got7 == want


def test_kmv_distinct_estimate_exact_below_k(spark):
    df = _corpus(spark, ["a", "b", "c", "b", "a"])
    row = SK.kmv_distinct_estimate(SK.kmv_sketch(df, k=16), k=16).first()
    assert row.exact is True
    assert row.n_distinct_est == 3.0


def test_kmv_distinct_estimate_accuracy(spark):
    n = 2000
    df = _corpus(spark, [f"value {i}" for i in range(n)])
    row = SK.kmv_distinct_estimate(SK.kmv_sketch(df, k=128), k=128).first()
    assert row.exact is False
    # (k-1)/h_k has relative std ~ 1/sqrt(k-2) ≈ 9%; allow 3 sigma
    assert abs(row.n_distinct_est - n) / n < 0.27


def test_kmv_merge_equals_sketch_of_union(spark):
    a_vals = [f"a {i}" for i in range(80)]
    b_vals = [f"b {i}" for i in range(80)] + a_vals[:20]
    sa = SK.kmv_sketch(_corpus(spark, a_vals), k=24)
    sb = SK.kmv_sketch(_corpus(spark, b_vals), k=24)
    merged = [r.h for r in SK.kmv_merge(sa, sb, k=24).collect()]
    direct = [
        r.h
        for r in SK.kmv_sketch(
            _corpus(spark, a_vals + b_vals), k=24
        ).collect()
    ]
    assert merged == direct


def test_kmv_overlap_identical_and_disjoint(spark):
    vals = [f"v {i}" for i in range(60)]
    s = SK.kmv_sketch(_corpus(spark, vals), k=16)
    row = SK.kmv_overlap(s, s, k=16).first()
    assert row.jaccard_est == 1.0
    assert row.containment_b_in_a == 1.0
    assert row.containment_a_in_b == 1.0
    assert row.k_used == 16
    other = SK.kmv_sketch(
        _corpus(spark, [f"w {i}" for i in range(60)]), k=16
    )
    row = SK.kmv_overlap(s, other, k=16).first()
    assert row.jaccard_est == 0.0
    assert row.containment_b_in_a == 0.0


def test_kmv_overlap_estimates_known_jaccard(spark):
    # |A| = |B| = 1500, |A ∩ B| = 1000 → J = 1000/2000 = 0.5,
    # containment = 1000/1500 ≈ 0.667
    shared = [f"s {i}" for i in range(1000)]
    a = shared + [f"a {i}" for i in range(500)]
    b = shared + [f"b {i}" for i in range(500)]
    k = 256
    sa = SK.kmv_sketch(_corpus(spark, a), k=k)
    sb = SK.kmv_sketch(_corpus(spark, b), k=k)
    row = SK.kmv_overlap(sa, sb, k=k).first()
    assert row.jaccard_est == pytest.approx(0.5, abs=0.12)
    assert row.containment_b_in_a == pytest.approx(2 / 3, abs=0.12)
    assert row.containment_a_in_b == pytest.approx(2 / 3, abs=0.12)


def test_kmv_sketch_plan_is_jvm_takeordered(spark):
    df = _corpus(spark, [f"v {i}" for i in range(50)])
    plan = (
        SK.kmv_sketch(df, k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ----------------------------------------------------- count-min sketch


def test_cms_never_undercounts_and_exact_when_sparse(spark):
    from pyspark.sql import functions as F

    vals = (["hot"] * 50) + (["warm"] * 7) + [f"cold{i}" for i in range(20)]
    df = spark.createDataFrame([(v,) for v in vals], "token string")
    cms = SK.cms_build(df, depth=4, width=256)
    q = spark.createDataFrame(
        [("hot",), ("warm",), ("cold3",), ("absent",)], "token string"
    )
    got = {r.item: r.est for r in SK.cms_query(cms, q, width=256).collect()}
    # 27 distinct keys into 256 buckets × 4 rows: min-over-rows is
    # exact with overwhelming margin, and never undercounts by theorem
    assert got["hot"] == 50
    assert got["warm"] == 7
    assert got["cold3"] == 1
    assert got["absent"] == 0


def test_cms_overcount_only_under_heavy_collisions(spark):
    vals = [f"key{i}" for i in range(500) for _ in (0, 1)]  # each ×2
    df = spark.createDataFrame([(v,) for v in vals], "token string")
    cms = SK.cms_build(df, depth=3, width=16)  # forced collisions
    q = df.distinct()
    rows = SK.cms_query(cms, q, width=16).collect()
    assert all(r.est >= 2 for r in rows)  # never undercounts
    assert sum(r.est > 2 for r in rows) > 0  # collisions visible


def test_cms_merge_linearity(spark):
    a = spark.createDataFrame([(f"t{i%13}",) for i in range(100)],
                              "token string")
    b = spark.createDataFrame([(f"t{i%7}",) for i in range(60)],
                              "token string")
    both = a.union(b)
    merged = SK.cms_merge(
        SK.cms_build(a, depth=4, width=64),
        SK.cms_build(b, depth=4, width=64),
    )
    direct = SK.cms_build(both, depth=4, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_cms_size_bounded_by_depth_width(spark):
    df = spark.createDataFrame(
        [(f"unique{i}",) for i in range(5000)], "token string"
    )
    cms = SK.cms_build(df, depth=4, width=32)
    assert cms.count() <= 4 * 32


# -------------------------------------------------------- HyperLogLog


def test_hll_registers_match_python_reference(spark):
    # independent per-item reference: 52-bit md5 prefix, idx = low p
    # bits, rank = leading-zero count of the remaining bits + 1
    p, vals = 5, [f"doc {i}" for i in range(200)]
    want = {}
    for v in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:13], 16)
        idx, w = h % (1 << p), h >> p
        rank = (52 - p) + 1 - w.bit_length()
        want[idx] = max(want.get(idx, 0), rank)
    got = {
        r.idx: r["rank"]
        for r in SK.hll_sketch(_corpus(spark, vals), p=p).collect()
    }
    assert got == want
    # duplicates and partitioning never change a register table
    got7 = {
        r.idx: r["rank"]
        for r in SK.hll_sketch(
            _corpus(spark, vals * 3).repartition(7), p=p
        ).collect()
    }
    assert got7 == want


def test_hll_estimate_accuracy(spark):
    n, p = 5000, 9  # m=512 → rel std ≈ 1.04/sqrt(512) ≈ 4.6%
    df = _corpus(spark, [f"value {i}" for i in range(n)])
    row = SK.hll_estimate(SK.hll_sketch(df, p=p), p=p).first()
    assert row.linear_counting is False
    assert abs(row.n_distinct_est - n) / n < 0.15  # 3+ sigma


def test_hll_linear_counting_small_range(spark):
    # 20 distincts into m=256 registers → raw ≤ 2.5m with empties →
    # linear-counting branch, which is near-exact down here
    df = _corpus(spark, [f"v {i}" for i in range(20)] * 4)
    row = SK.hll_estimate(SK.hll_sketch(df, p=8), p=8).first()
    assert row.linear_counting is True
    assert row.n_empty >= 236
    # LC corrects collisions only in expectation (E[filled] ≈ 19.2
    # here; this fixture draws 17) — ±4 covers the sampling band
    assert abs(row.n_distinct_est - 20) < 4


def test_hll_merge_equals_sketch_of_union(spark):
    a_vals = [f"a {i}" for i in range(300)]
    b_vals = [f"b {i}" for i in range(300)] + a_vals[:100]
    sa = SK.hll_sketch(_corpus(spark, a_vals), p=6)
    sb = SK.hll_sketch(_corpus(spark, b_vals), p=6)
    merged = sorted(map(tuple, SK.hll_merge(sa, sb).collect()))
    direct = sorted(
        map(
            tuple,
            SK.hll_sketch(_corpus(spark, a_vals + b_vals), p=6).collect(),
        )
    )
    assert merged == direct


def test_hll_overlap_inclusion_exclusion(spark):
    # |A| = |B| = 1500, |A ∩ B| = 1000 → J = 0.5 (same fixture as the
    # KMV twin test); intersection inherits union error → wide bands
    shared = [f"s {i}" for i in range(1000)]
    a = shared + [f"a {i}" for i in range(500)]
    b = shared + [f"b {i}" for i in range(500)]
    p = 9
    sa = SK.hll_sketch(_corpus(spark, a), p=p)
    sb = SK.hll_sketch(_corpus(spark, b), p=p)
    row = SK.hll_overlap(sa, sb, p=p).first()
    assert row.a_est == pytest.approx(1500, rel=0.15)
    assert row.union_est == pytest.approx(2000, rel=0.15)
    assert row.intersect_est == pytest.approx(1000, rel=0.35)
    assert row.jaccard_est == pytest.approx(0.5, abs=0.17)
    # identical sketches: union == both, jaccard == 1 exactly
    same = SK.hll_overlap(sa, sa, p=p).first()
    assert same.a_est == same.union_est
    assert same.jaccard_est == pytest.approx(1.0, abs=1e-9)


def test_hll_sketch_plan_is_one_jvm_aggregate(spark):
    df = _corpus(spark, [f"v {i}" for i in range(50)])
    plan = (
        SK.hll_sketch(df, p=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1  # one shuffle for the final agg


def test_hll_p_bounds():
    with pytest.raises(ValueError):
        SK.hll_sketch(None, p=3)


def test_hll_by_key_matches_per_group_sketches(spark):
    """The grouped sketch must equal running hll_sketch per group, and
    per-key estimates track true distincts (linear-counting branch for
    the small group, raw for the big one)."""
    vals = [("big", f"v {i}") for i in range(3000)] + [
        ("small", f"s {i}") for i in range(30)
    ] * 2
    df = spark.createDataFrame(vals, "domain string, text string")
    p = 7
    grouped = SK.hll_sketch_by_key(df, "domain", p=p)
    for key in ("big", "small"):
        got = sorted(
            (r.idx, r["rank"])
            for r in grouped.filter(F.col("key") == key).collect()
        )
        want = sorted(
            map(
                tuple,
                SK.hll_sketch(
                    df.filter(F.col("domain") == key), p=p
                ).collect(),
            )
        )
        assert got == want
    est = {
        r.key: r
        for r in SK.hll_estimate_by_key(grouped, p=p).collect()
    }
    assert est["big"].linear_counting is False
    assert abs(est["big"].n_distinct_est - 3000) / 3000 < 0.3
    assert est["small"].linear_counting is True
    assert abs(est["small"].n_distinct_est - 30) < 8
    # single shuffle for the grouped sketch
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_hll_merge_by_key_union_closure(spark):
    df = spark.createDataFrame(
        [("d1", f"x {i}") for i in range(150)]
        + [("d2", f"y {i}") for i in range(80)],
        "domain string, text string",
    )
    half1 = df.limit(100)
    half2 = df.subtract(half1)
    merged = sorted(
        map(
            tuple,
            SK.hll_merge_by_key(
                SK.hll_sketch_by_key(half1, "domain", p=6),
                SK.hll_sketch_by_key(half2, "domain", p=6),
            ).collect(),
        )
    )
    direct = sorted(
        map(tuple, SK.hll_sketch_by_key(df, "domain", p=6).collect())
    )
    assert merged == direct


def test_quantile_sketch_bottom_k_semantics(spark):
    """Bottom-k hash sampling: the sketch is EXACTLY the k rows with
    the smallest md5(id) (deterministic — rebuildable cross-engine),
    merge is EXACTLY the direct sketch of the union (closure), and
    estimates hit exact quantiles within the O(1/sqrt(k)) rank-error
    band (floored at 0.05 for k=512)."""
    import numpy as np
    from pyspark.sql import functions as F

    from machine_readability_checker_spark.operators import sketches as SK

    rng = np.random.RandomState(7)
    vals = rng.lognormal(3.0, 1.0, size=8000)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "doc_id long, v double"
    )
    k = 512
    sk = SK.quantile_sketch(df, "v", k=k)
    rows = sk.collect()
    assert len(rows) == k
    # exact bottom-k by hash (construction pin)
    import hashlib

    want = sorted(
        (hashlib.md5(str(i).encode()).hexdigest(), float(v))
        for i, v in enumerate(vals)
    )[:k]
    assert sorted((r["h"], r["v"]) for r in rows) == want

    # merge closure: shard sketches roll up to the direct sketch
    h1 = SK.quantile_sketch(df.filter("doc_id % 3 = 0"), "v", k=k)
    h2 = SK.quantile_sketch(df.filter("doc_id % 3 != 0"), "v", k=k)
    merged = SK.quantile_sketch_merge(h1, h2, k)
    assert sorted(
        (r["h"], r["v"]) for r in merged.collect()
    ) == sorted((r["h"], r["v"]) for r in rows)

    # rank-error floor vs exact quantiles
    qs = [0.1, 0.5, 0.9, 0.99]
    est = SK.quantile_estimate(sk, qs).collect()[0]["qs"]
    s = np.sort(vals)
    for q, e in zip(qs, est):
        rank = np.searchsorted(s, e) / len(s)
        assert abs(rank - q) <= 0.05, (q, e, rank)

    # scale shape: one TakeOrderedAndProject, no full sort
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_quantile_sketch_merge_commutes_on_conflicting_values(spark):
    """Two shards that disagree on one id's value merge to the same
    sketch in either order (the smaller value is kept)."""
    schema = "doc_id long, v double"
    a = SK.quantile_sketch(
        spark.createDataFrame([(1, 5.0), (2, 7.0)], schema), "v", k=8
    )
    b = SK.quantile_sketch(
        spark.createDataFrame([(2, 3.0), (3, 9.0)], schema), "v", k=8
    )

    def rows(df):
        return sorted((r["h"], r["v"]) for r in df.collect())

    ab = rows(SK.quantile_sketch_merge(a, b, 8))
    assert ab == rows(SK.quantile_sketch_merge(b, a, 8))
    h2 = hashlib.md5(b"2").hexdigest()
    assert (h2, 3.0) in ab and len(ab) == 3
