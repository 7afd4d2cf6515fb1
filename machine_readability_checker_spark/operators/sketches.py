"""KMV (k-minimum-values) sketches: distinct counts, corpus overlap.

Before mixing a new crawl snapshot into a training corpus, the
pipeline questions are set-level: how many DISTINCT documents does
each corpus hold, how much do two corpora overlap (Jaccard), and what
fraction of the candidate corpus is already contained in what we have
(containment — the "is this crawl worth deduping in" signal)?  At
100 TB none of these can be answered with exact distincts against each
other — but a k-minimum-values sketch (Bar-Yossef et al. 2002;
Beyer et al. 2007 for the unbiased estimator) answers all three from
k hashes per corpus:

- sketch  = the k smallest md5 values over the column's distinct set
  (ONE hash aggregate with map-side partial combine + a
  TakeOrderedAndProject of k rows — the only driver traffic is k
  hex strings);
- distinct estimate = (k-1) / h_(k) with h_(k) the k-th smallest hash
  mapped into [0,1);
- Jaccard / containment: merge two sketches, keep the k smallest of
  the union, and count memberships — the union's k-minima are a
  uniform sample of the union, so |sample ∩ A ∩ B| / k estimates
  J(A,B) (Beyer et al. §4).

Everything is DETERMINISTIC (md5, no RNG): the same corpus always
produces the same sketch, so estimates are reproducible and
cross-engine checkable.  Hash fractions use the first 13 hex digits
(52 bits < 2^53), so the double arithmetic is EXACT and two engines
computing the estimate from the same hashes agree bit-for-bit.

Scale shape: sketches are k-row tables; every merge/join below is
broadcast-sized.  Building a sketch touches the corpus exactly once.

Reference parity note: no analog in the reference repo; this is the
training-pipeline extension family (corpus curation at mix time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: hex digits of the hash used for the [0,1) fraction — 13 × 4 = 52
#: bits keeps every value exactly representable as a double, so the
#: estimator arithmetic is engine-independent
_FRAC_HEX_DIGITS = 13
_FRAC_DENOM = float(16 ** _FRAC_HEX_DIGITS)


def kmv_sketch(df: DataFrame, col: str = "text", k: int = 256) -> DataFrame:
    """The k smallest md5 hex values over the column's DISTINCT set:
    one distinct aggregate (map-side combined) + TakeOrderedAndProject.
    Returns (h string) with ≤ k rows — a corpus fingerprint small
    enough to persist next to the corpus manifest."""
    return (
        df.select(F.md5(F.col(col).cast("binary")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def _frac(h_col):
    """Hash → exact double in [0, 1)."""
    return F.conv(F.substring(h_col, 1, _FRAC_HEX_DIGITS), 16, 10).cast(
        "double"
    ) / F.lit(_FRAC_DENOM)


def kmv_distinct_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """(k-1)/h_(k) when the sketch is full; the sketch IS the distinct
    set when fewer than k values exist, so the count is exact then.
    One row: (n_distinct_est double, exact boolean)."""
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("hk")
    )
    return agg.select(
        F.when(F.col("n") < k, F.col("n").cast("double"))
        .otherwise(F.lit(float(k - 1)) / _frac(F.col("hk")))
        .alias("n_distinct_est"),
        (F.col("n") < k).alias("exact"),
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Union sketch: the k smallest over both sketches' hashes — the
    sketch of the UNION of the two corpora (closure under union is the
    KMV property that makes corpus-level algebra possible)."""
    return a.union(b).distinct().orderBy("h").limit(k)


def kmv_overlap(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Jaccard + containment estimates from two KMV sketches.

    The union's k minima are a uniform distinct-set sample of A ∪ B;
    counting which of those fall in A, in B, and in both yields
    J ≈ n_both/k′ and containment(B in A) ≈ n_both/n_b (fraction of
    B's mass already in A).  k′ = |union sketch| ≤ k handles small
    corpora exactly.  One row: (jaccard_est, containment_b_in_a,
    containment_a_in_b, k_used) — all arithmetic over ≤ 2k rows."""
    u = kmv_merge(a, b, k)
    tagged = (
        u.join(a.withColumn("_in_a", F.lit(1)), "h", "left")
        .join(b.withColumn("_in_b", F.lit(1)), "h", "left")
        .select(
            F.coalesce(F.col("_in_a"), F.lit(0)).alias("in_a"),
            F.coalesce(F.col("_in_b"), F.lit(0)).alias("in_b"),
        )
    )
    agg = tagged.agg(
        F.count(F.lit(1)).alias("kk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        F.sum("in_a").alias("n_a"),
        F.sum("in_b").alias("n_b"),
    )
    return agg.select(
        F.try_divide(F.col("n_both"), F.col("kk")).alias("jaccard_est"),
        F.try_divide(F.col("n_both"), F.col("n_b")).alias(
            "containment_b_in_a"
        ),
        F.try_divide(F.col("n_both"), F.col("n_a")).alias(
            "containment_a_in_b"
        ),
        F.col("kk").cast("long").alias("k_used"),
    )


# ------------------------------------------------------ count-min sketch


def _cms_bucket(width: int):
    """Row-seeded md5 bucket over (row, item) columns — deterministic
    and engine-independent (the KMV 52-bit prefix trick)."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("row").cast("string"),
                    F.lit(":"),
                    F.col("_x").cast("string"),
                ).cast("binary")
            ),
            1,
            _FRAC_HEX_DIGITS,
        ),
        16,
        10,
    ).cast("long") % F.lit(width)


def cms_build(
    df: DataFrame,
    col: str = "token",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of a column's
    frequency distribution: ``depth`` md5-seeded hash rows × ``width``
    buckets.  ONE explode (×depth) + ONE hash aggregate; the result is
    at most depth×width rows regardless of key cardinality — the
    fixed-memory answer to "how often does X occur" when the key space
    (n-grams, URLs) is too large to count exactly.  Point estimates
    only ever OVER-count (collisions add, never subtract): error
    ≤ e/width · N with probability 1 − e^−depth.

    Sketches with equal (depth, width) merge by bucket-wise sum
    (``cms_merge``) — per-shard sketches roll up without touching the
    data again.  Returns (row, bucket, count)."""
    items = df.select(F.col(col).alias("_x"))
    rows = items.select(
        "_x", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    )
    return (
        rows.select("row", _cms_bucket(width).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bucket-wise sum of two same-shaped sketches (the CMS linearity
    property: sketch(A ⊎ B) = sketch(A) + sketch(B))."""
    return (
        a.union(b)
        .groupBy("row", "bucket")
        .agg(F.sum("count").alias("count"))
    )


def cms_query(
    cms: DataFrame,
    queries: DataFrame,
    col: str = "token",
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for the query items: hash each item
    into its ``depth`` buckets, join the (tiny, ≤ depth×width rows —
    broadcast) sketch, take the MIN count across rows; items hitting
    an absent bucket estimate 0.  Returns (item, est)."""
    q = queries.select(F.col(col).alias("_x")).distinct()
    depth_rows = q.select(
        "_x",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(_cms_depth(cms)) - 1))
        ).alias("row"),
    )
    keyed = depth_rows.select(
        F.col("_x").alias("item"), "row", _cms_bucket(width).alias("bucket")
    )
    joined = keyed.join(F.broadcast(cms), ["row", "bucket"], "left")
    return joined.groupBy("item").agg(
        F.min(F.coalesce(F.col("count"), F.lit(0))).alias("est")
    )


def _cms_depth(cms: DataFrame) -> int:
    """Depth recovered from the sketch itself (max row + 1) — one
    aggregate over ≤ depth×width rows."""
    return int(cms.agg(F.max("row")).first()[0]) + 1


# ------------------------------------------------------- HyperLogLog


#: hash width shared with the KMV fraction trick: 13 hex digits = 52
#: bits, so every register computation is exact 64-bit integer math
#: and two engines reproduce the sketch bit-for-bit
_HLL_HASH_BITS = _FRAC_HEX_DIGITS * 4


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias-correction constants."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1.0 + 1.079 / m)
    )


def hll_sketch(df: DataFrame, col: str = "text", p: int = 9) -> DataFrame:
    """HyperLogLog register table (Flajolet, Fusy, Gandouet, Meunier
    2007): m = 2**p registers; register index = low p bits of the
    52-bit md5 prefix, register value = max over items of the leading-
    zero rank of the remaining 52-p bits.  ONE hash aggregate with
    map-side partial combine (max is algebraic); the result is ≤ m
    rows of (idx, rank) — the fixed-memory complement to the KMV
    sketch above: KMV supports overlap algebra from k sampled hashes,
    HLL gives tighter distinct estimates (rel. err ≈ 1.04/√m) and
    union-closure merges from 2**p 6-bit registers.

    Duplicates need no pre-distinct: max(rank) is insensitive to
    multiplicity, which is the whole point of the estimator.
    Deterministic (md5, no RNG) and engine-portable: rank uses integer
    shifts and binary-string length only, so DuckDB rebuilding the
    same registers agrees bit-for-bit."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    wbits = _HLL_HASH_BITS - p
    h = F.conv(
        F.substring(
            F.md5(F.col(col).cast("binary")), 1, _FRAC_HEX_DIGITS
        ),
        16,
        10,
    ).cast("long")
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        df.select((h % F.lit(m)).alias("idx"), rho.alias("rank"))
        .groupBy("idx")
        .agg(F.max("rank").alias("rank"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Register-wise max — sketch(A ∪ B) from sketch(A) and sketch(B),
    the closure that lets per-shard sketches roll up without touching
    the data again (and the basis for intersection estimates below)."""
    return a.union(b).groupBy("idx").agg(F.max("rank").alias("rank"))


def hll_estimate(sketch: DataFrame, p: int) -> DataFrame:
    """One-row distinct estimate from a register table.

    Raw estimator E = α_m · m² / Σ_j 2^(−M_j) with empty registers
    contributing 2^0; below 2.5·m with empty registers present the
    linear-counting fallback m·ln(m/V) applies (Flajolet §4 practical
    variant).  The harmonic sum is computed as an EXACT BIGINT —
    Σ 2^(R−M_j) with R the max rank, so Σ 2^(−M_j) = S/2^R with no
    float-accumulation order dependence — and the numerator α_m·m²·2^R
    is a single Python-side literal; the only engine-library op left
    is ln() in the linear-counting branch.  (No 32-bit large-range
    correction: 52-bit hashes make collisions negligible below ~10^12
    distincts — exactly the documented corpus scale.)

    Returns (n_distinct_est double, linear_counting boolean,
    n_empty long)."""
    m = 1 << p
    r_max = _HLL_HASH_BITS - p + 1
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_reg"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {r_max} - rank)")),
            F.lit(0).cast("long"),
        ).alias("s_ne"),
    )
    numerator = _hll_alpha(m) * float(m * m * (1 << r_max))
    n_empty = (F.lit(m) - F.col("n_reg")).cast("long")
    s_total = (
        F.col("s_ne")
        + n_empty * F.lit(1 << r_max).cast("long")
    ).cast("double")
    raw = F.lit(numerator) / s_total
    lc = (raw <= F.lit(2.5 * m)) & (n_empty > 0)
    est = F.when(
        lc, F.lit(float(m)) * F.log(F.lit(float(m)) / n_empty.cast("double"))
    ).otherwise(raw)
    return agg.select(
        est.alias("n_distinct_est"),
        lc.alias("linear_counting"),
        n_empty.alias("n_empty"),
    )


def hll_sketch_by_key(
    df: DataFrame, key_col: str, col: str = "text", p: int = 9
) -> DataFrame:
    """Per-key register tables in ONE aggregate: (key, idx, rank) with
    ≤ m rows per key — the grouped form of ``hll_sketch`` for
    questions like "distinct URLs per domain" where exact per-key
    distincts would shuffle the full value set.  Same determinism and
    merge algebra; ``hll_estimate_by_key`` folds it to answers."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    wbits = _HLL_HASH_BITS - p
    h = F.conv(
        F.substring(
            F.md5(F.col(col).cast("binary")), 1, _FRAC_HEX_DIGITS
        ),
        16,
        10,
    ).cast("long")
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        df.select(
            F.col(key_col).alias("key"),
            (h % F.lit(m)).alias("idx"),
            rho.alias("rank"),
        )
        .groupBy("key", "idx")
        .agg(F.max("rank").alias("rank"))
    )


def hll_merge_by_key(a: DataFrame, b: DataFrame) -> DataFrame:
    """Grouped register-wise max — per-key sketches from two corpus
    shards roll up without touching the data again (the same union
    closure as ``hll_merge``, keyed)."""
    return (
        a.union(b)
        .groupBy("key", "idx")
        .agg(F.max("rank").alias("rank"))
    )


def hll_estimate_by_key(sketch: DataFrame, p: int) -> DataFrame:
    """Per-key distinct estimates from a grouped register table —
    identical estimator arithmetic to ``hll_estimate`` (exact-BIGINT
    harmonic sums, linear-counting fallback), one aggregate over
    ≤ m rows per key.  Returns (key, n_distinct_est,
    linear_counting)."""
    m = 1 << p
    r_max = _HLL_HASH_BITS - p + 1
    agg = sketch.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_reg"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {r_max} - rank)")
        ).alias("s_ne"),
    )
    numerator = _hll_alpha(m) * float(m * m * (1 << r_max))
    n_empty = (F.lit(m) - F.col("n_reg")).cast("long")
    s_total = (
        F.col("s_ne") + n_empty * F.lit(1 << r_max).cast("long")
    ).cast("double")
    raw = F.lit(numerator) / s_total
    lc = (raw <= F.lit(2.5 * m)) & (n_empty > 0)
    est = F.when(
        lc,
        F.lit(float(m)) * F.log(F.lit(float(m)) / n_empty.cast("double")),
    ).otherwise(raw)
    return agg.select(
        "key",
        est.alias("n_distinct_est"),
        lc.alias("linear_counting"),
    )


def hll_overlap(a: DataFrame, b: DataFrame, p: int) -> DataFrame:
    """Inclusion–exclusion overlap from two HLL sketches: |A∩B| ≈
    max(0, E(A) + E(B) − E(A∪B)) and Jaccard = inter/union — the
    standard HLL set-algebra (union is exact-by-merge; intersection
    inherits the union's error, so KMV's direct Jaccard sample is the
    better tool for SMALL overlaps — both are offered for that
    reason).  One row over ≤ 3m register rows:
    (a_est, b_est, union_est, intersect_est, jaccard_est)."""
    ea = hll_estimate(a, p).select(
        F.col("n_distinct_est").alias("a_est")
    )
    eb = hll_estimate(b, p).select(
        F.col("n_distinct_est").alias("b_est")
    )
    eu = hll_estimate(hll_merge(a, b), p).select(
        F.col("n_distinct_est").alias("union_est")
    )
    row = ea.crossJoin(eb).crossJoin(eu)
    inter = F.greatest(
        F.lit(0.0), F.col("a_est") + F.col("b_est") - F.col("union_est")
    )
    return row.select(
        "a_est",
        "b_est",
        "union_est",
        inter.alias("intersect_est"),
        F.try_divide(inter, F.col("union_est")).alias("jaccard_est"),
    )


# ------------------------------------------- bottom-k quantile sketch


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    k: int = 1024,
) -> DataFrame:
    """Mergeable quantile sketch by bottom-k hash sampling (Cohen &
    Kaplan 2007): keep the value of every row whose md5(id) is among
    the k smallest — a deterministic uniform sample of the id space,
    so the sample's value distribution estimates the corpus's with
    O(1/√k) rank error.  Completes the sketch algebra (KMV:
    cardinality, HLL: keyed cardinality, CMS: frequency, Bloom:
    membership — QUANTILES were the missing axis: per-corpus length /
    score / perplexity distributions tracked as persistable, mergeable
    k-row artifacts instead of re-scanning raw corpora).

    One hash aggregate shape: TakeOrderedAndProject of k (h, value)
    rows; the only driver traffic is the sketch itself.  Everything is
    md5-deterministic — same corpus, same sketch, cross-engine
    reproducible (the DuckDB oracle rebuilds it row-for-row), unlike
    KLL/GK whose compactions are RNG- or order-dependent."""
    return (
        df.select(
            F.md5(F.col(id_col).cast("string").cast("binary")).alias("h"),
            F.col(value_col).cast("double").alias("v"),
        )
        .orderBy("h")
        .limit(k)
    )


def quantile_sketch_merge(
    a: DataFrame, b: DataFrame, k: int
) -> DataFrame:
    """Union → bottom-k: EXACTLY the sketch of the concatenated
    corpora (the bottom-k of a union is the bottom-k of the union of
    bottom-ks — closure is exact, not approximate; duplicate ids
    across shards keep one row via the group on h).  Each id is
    assumed to map to one value; where two shards disagree, the
    smaller value wins, so the merge is associative and commutative
    and shard sketches roll up in any tree order."""
    return (
        a.unionByName(b)
        .groupBy("h")
        .agg(F.min("v").alias("v"))
        .orderBy("h")
        .limit(k)
    )


def quantile_estimate(
    sketch: DataFrame, quantiles: list
) -> DataFrame:
    """→ one row with a ``qs`` array: linear-interpolated quantiles
    (percentile_cont semantics) of the sampled values — a broadcast-
    sized aggregate over ≤ k rows."""
    return sketch.agg(
        F.percentile(
            F.col("v"), F.array(*[F.lit(float(q)) for q in quantiles])
        ).alias("qs")
    )
