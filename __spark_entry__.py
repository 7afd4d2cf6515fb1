"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end extraction on sf0.001;
``queries()`` exposes one callable per implemented operator family
(SURVEY.md §2 + the training-data pipeline lane); ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for every SQL-expressible query.  Column
names/aliases match exactly between the Spark and SQL sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from machine_readability_checker_spark.operators import (  # noqa: E402
    dedup as D,
    sampling as SP,
    similarity as S,
    textstats as TS,
    weburl as WU,
    webtables as WT,
)
from machine_readability_checker_spark.operators.extract import (  # noqa: E402
    extract,
    results_table,
)
from machine_readability_checker_spark.functions import native as N  # noqa: E402

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a small control table across the cluster before per-row
    Python kernel work.  The sf* ``documents`` parquet is ONE ~600 KB
    file → Spark scans it as ONE partition, which serializes every
    downstream Arrow kernel onto a single core (measured: the
    table-rule lanes ran 25× below their kernel throughput).  One
    round-robin exchange of tiny rows buys full parallelism — the
    same reason jobs/extract.py salts docs_raw before its kernel.  At
    real corpus scale inputs arrive in many files and this exchange
    stays proportionally free (rows are ids/text, never media
    bytes)."""
    return df.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    )


# ----------------------------------------------------------------------
# documents.text → deterministic per-document CSV bytes (5 columns of
# whitespace tokens, last row padded with 'pad'), entirely in native
# expressions; the extraction kernel then parses them like any ingest.
# ----------------------------------------------------------------------

def _docs_as_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(toks)
    pad = (F.lit(5) - F.pmod(n, F.lit(5))) % F.lit(5)
    padded = F.concat(toks, F.array_repeat(F.lit("pad"), pad.cast("int")))
    rows = F.transform(
        F.sequence(F.lit(0), (F.size(padded) / 5).cast("int") - 1),
        lambda i: F.concat_ws(",", F.slice(padded, i * F.lit(5) + 1, 5)),
    )
    # token-less documents: F.sequence(0, -1) would yield [0, -1] and
    # fabricate two phantom blank rows — emit a header-only CSV instead
    # (0 data rows, matching the (n+pad)/5 = 0 the DuckDB oracles compute)
    csv = F.concat(
        F.lit("c1,c2,c3,c4,c5\n"),
        F.when(
            F.size(padded) > 0,
            F.concat(F.array_join(rows, "\n"), F.lit("\n")),
        ).otherwise(F.lit("")),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("csv").alias("fmt"),
        F.encode(csv, "UTF-8").alias("content"),
        F.length(csv).cast("long").alias("n_bytes"),
        F.lit(1).alias("header_start_row"),
        F.lit(1).alias("header_end_row"),
        F.lit(0).alias("data_start_row"),
        F.lit(0).alias("data_end_row"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full distributed extraction over the sf0.001 documents
    corpus (converted to CSV documents), spans exploded and counted by
    kind."""
    raw = _docs_as_csv(spark, "/root/testdata/sf0.001")
    extracted = extract(raw)
    return (
        extracted.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(F.count("*").alias("n_spans"))
        .orderBy("kind")
    )


# ----------------------------------------------------------------- queries


def q_extract_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    extracted = extract(_docs_as_csv(spark, sf_dir))
    return (
        extracted.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.length("s.text")).alias("total_text_len"),
        )
        .orderBy("kind")
    )


def q_extract_rule_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    extracted = extract(_docs_as_csv(spark, sf_dir))
    return (
        results_table(extracted)
        .groupBy("rule_id", "passed")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("rule_id", "passed")
    )


def q_main_content_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate strip over the canonical spans table: keep only the
    data-body (`cell`) spans — headers/annotations are the boilerplate —
    and report per-document main-content size."""
    extracted = extract(_docs_as_csv(spark, sf_dir))
    cells = (
        extracted.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "cell")
    )
    return (
        cells.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.length("s.text")).alias("content_len"),
        )
        .withColumn("doc_id", F.col("doc_id").cast("bigint"))
        .orderBy("doc_id")
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join star query: orders ⋈ customer ⋈ nation."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("n_name")
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation (batch twin of the streaming
    pipeline in streaming/stream_extract.py)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour_start", "event_type")
    )


def q_event_hop_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 2-hour width, 1-hour slide — every
    event lands in exactly two windows (`F.window(ts, w, s)`; the batch
    twin of a sliding streaming aggregation).  The DuckDB oracle
    re-derives the epoch-aligned hop starts with an unnest over the
    w/s offsets."""
    ev = _t(spark, sf_dir, "events")
    w = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30 min gap."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (orderpriority → orderstatus) with
    subtotal and grand-total rows."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority", "o_orderstatus")
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority query (TPC-H Q3 shape): 3-way join with date
    filters, revenue aggregate, top-10.  The customer dimension is
    broadcast; lineitem⋈orders shuffles on the order key."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti-join: customers with no high-value order (> 400k),
    counted per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000.0
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_nationkey")
    )


def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderpriority, orderstatus): every grouping-set
    combination with count + rounded revenue."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority", "o_orderstatus")
    )


def q_summary_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 summary analog: per event_type pass/total/pass-rate."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("value") > 50.0, 1).otherwise(0)).alias("passed"),
        )
        .withColumn(
            "pass_rate_pct", F.round(F.col("passed") * 100.0 / F.col("total"), 1)
        )
        .orderBy("event_type")
    )


def q_props_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-numeric test (F5 analog) over values extracted from the JSON
    props string."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1)
    return (
        ev.select(N.is_clean_numeric(k).alias("is_clean"), k.cast("int").alias("kv"))
        .groupBy("is_clean")
        .agg(
            F.count("*").alias("n"),
            F.sum("kv").alias("sum_k"),
        )
        .orderBy("is_clean")
    )


def q_rule_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native rule-predicate scan over documents: multi-value cells,
    platform chars, full-width space, missing-value tokens."""
    docs = _t(spark, sf_dir, "documents")
    toks = TS.tokens(F.col("text"))
    missing_hits = F.size(
        F.filter(toks, lambda x: N.is_missing_expression(x))
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(N.has_multiple_values(F.col("text")).cast("int")).alias(
                "n_multivalue"
            ),
            F.sum(N.has_platform_chars(F.col("text")).cast("int")).alias(
                "n_platform_chars"
            ),
            F.sum(N.has_fullwidth_space(F.col("text")).cast("int")).alias(
                "n_fw_space"
            ),
            F.sum(missing_hits).alias("n_missing_tokens"),
        )
        .orderBy("source")
    )


def q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", TS.token_count(F.col("text")).alias("tc"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tc").alias("total_tokens"),
            F.max("tc").cast("long").alias("max_tokens"),
            F.round(F.avg("tc"), 4).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def q_stopword_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = F.floor(TS.stopword_ratio(F.col("text")) * 20).cast("int")
    return (
        docs.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket")
    )


def q_lang_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", TS.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", TS.doc_fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct_fp"),
        )
        .orderBy("source")
    )


def q_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q = TS.quality_flags(F.col("text"))
    return (
        docs.select("lang", q.alias("q"))
        .groupBy("lang")
        .agg(
            F.sum(F.col("q.too_short").cast("int")).alias("n_too_short"),
            F.sum(F.col("q.low_alpha").cast("int")).alias("n_low_alpha"),
            F.sum(F.col("q.no_stopwords").cast("int")).alias("n_no_stopwords"),
        )
        .orderBy("lang")
    )


def q_exact_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    kept = D.exact_dedup(docs, "text", "doc_id")
    return kept.agg(
        F.count("*").alias("n_after_dedup"),
        F.countDistinct("text").alias("n_distinct_texts"),
    )


def q_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate group report: (content_hash, n_dups, doc_ids)
    for every text occurring more than once — md5 is computed
    identically by both engines, so the oracle is direct."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    # doc_ids joined to one string: Arrow list types carry engine-
    # specific element field names (Spark `element` vs DuckDB `l`) that
    # fail the driver's strict type compare even when values match
    return (
        D.duplicate_groups(docs)
        .select(
            "content_hash",
            "n_dups",
            F.array_join("doc_ids", ",").alias("doc_ids_csv"),
        )
        .orderBy("content_hash")
    )


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs.  The engine-portable
    md5-derived token hash lets a DuckDB oracle rebuild the 64-perm
    signatures and the banded bucket join bit-for-bit; the production
    default (xxhash64 tokens, hashed band keys) is the same algorithm
    with a faster hash."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return D.minhash_lsh_pairs(
        docs, threshold=0.2, shingle_k=3, portable=True
    ).orderBy("id_a", "id_b")


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded Hamming near-dup pairs (portable 32-bit md5-derived
    hash for the oracle lane).  The pigeonhole banding is recall-complete,
    so the DuckDB oracle is the plain all-pairs Hamming ≤ max filter."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return D.simhash_pairs(
        docs, max_hamming=4, bits=32, portable=True
    ).orderBy("id_a", "id_b")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.8 (DuckDB-oracled: the set-similarity
    join is re-expressed with list comprehensions on the SQL side)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return (
        D.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.8, max_df=None)
        .select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = S.brute_force_topk(emb, [float(x) for x in qvec], k=10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_pair_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style pair gating over real embedding vectors: candidate
    pairs put vec_id's embedding on the text tower and the
    (7·vec_id+13) mod n embedding on the media tower, attach both
    through the production join path (one broadcast, one shuffle-hash),
    score with the shared JVM cosine kernel, and gate at 0.2.  The
    oracle recomputes both joins and the cosine with DuckDB's own
    list kernel — a true cross-engine check of the scoring machinery
    (the model towers themselves are pluggable; see
    operators/pairscore.py)."""
    from machine_readability_checker_spark.operators import pairscore as PS

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    pairs = emb.select(
        F.col("vec_id").alias("pair_id"),
        F.col("vec_id").alias("text_id"),
        ((F.col("vec_id") * 7 + 13) % n).alias("media_id"),
    )
    pairs = PS.attach_vectors(
        pairs, emb, "text_id", "vec_id", out_col="text_vec"
    )
    pairs = PS.attach_vectors(
        pairs, emb, "media_id", "vec_id", out_col="media_vec",
        broadcast=False,
    )
    kept = PS.filter_pairs(PS.score_pairs(pairs), 0.2)
    return kept.select(
        "pair_id",
        "media_id",
        F.round("pair_score", 6).alias("pair_score"),
    ).orderBy("pair_id")


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (rows-only check)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_bucket_topk(emb, queries, k=5, n_planes=4, dim=64).select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("query_id", "rank")


def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch cross-engine: build a 4×512 sketch over every
    token of the corpus, point-query the md5-prefix-'0' sixteenth of
    the vocabulary, and pin each estimate against the exact count —
    the oracle rebuilds the identical sketch (row-seeded md5 buckets)
    so estimates match bit-for-bit, and ``ok = est >= exact`` pins the
    CMS over-count-only invariant on every row."""
    from machine_readability_checker_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TS.tokens(F.col("text"))).alias("token"))
    cms = SK.cms_build(toks, "token", depth=4, width=512)
    qset = toks.distinct().filter(
        F.substring(F.md5(F.col("token").cast("binary")), 1, 1) == "0"
    )
    est = SK.cms_query(cms, qset, "token", width=512)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        est.withColumnRenamed("item", "token")
        .join(exact, "token")
        .select(
            "token",
            "est",
            "n_exact",
            (F.col("est") >= F.col("n_exact")).alias("ok"),
        )
        .orderBy("token")
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints over the documents table with
    portable md5-prefix gram hashes (k=3 grams, w=4 windows): the
    oracle rebuilds the rolling-polynomial gram hashes AND the
    rightmost-min window selection with DuckDB's own window kernel
    (min_by over a packed tie-break key — a different spelling of the
    same rule, so agreement pins the semantics, not the code)."""
    from machine_readability_checker_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = winnow_fingerprints(docs, k=3, w=4, portable=True)
    return out.select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "fp"
    ).orderBy("doc_id", "pos", "fp")


def q_corpus_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch corpus algebra (Bar-Yossef 2002 / Beyer 2007):
    corpus A = the documents, corpus B = a half-overlapping twin (even
    doc_ids verbatim, odd doc_ids textually perturbed) — distinct-count
    estimates from each 32-hash sketch plus Jaccard/containment from
    the merged sketch.  Deterministic md5 + 52-bit hash fractions make
    the estimator arithmetic EXACT, so DuckDB rebuilding the same
    sketches must reproduce every estimate bit-for-bit."""
    from machine_readability_checker_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    k = 32
    a = docs.select("text")
    b = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v2")))
        .alias("text")
    )
    sa = SK.kmv_sketch(a, "text", k)
    sb = SK.kmv_sketch(b, "text", k)
    ea = SK.kmv_distinct_estimate(sa, k).select(
        F.round("n_distinct_est", 4).alias("a_distinct_est")
    )
    eb = SK.kmv_distinct_estimate(sb, k).select(
        F.round("n_distinct_est", 4).alias("b_distinct_est")
    )
    ov = SK.kmv_overlap(sa, sb, k).select(
        F.round("jaccard_est", 6).alias("jaccard_est"),
        F.round("containment_b_in_a", 6).alias("containment_b_in_a"),
        F.round("containment_a_in_b", 6).alias("containment_a_in_b"),
        "k_used",
    )
    return ea.crossJoin(eb).crossJoin(ov)


def q_corpus_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog corpus algebra (Flajolet et al. 2007) on the same
    half-overlapping twin corpora as the KMV lane: p=6 (64 registers)
    sketches of A and B, distinct estimates for each, register-max
    union merge, and inclusion–exclusion intersection + Jaccard.  The
    harmonic sum is exact BIGINT arithmetic (Σ 2^(R−rank)) and the
    bias numerator a single literal, so DuckDB rebuilding the same
    registers reproduces every estimate bit-for-bit (ln() only enters
    on the linear-counting branch, rounded)."""
    from machine_readability_checker_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    p = 6
    a = docs.select("text")
    b = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v2")))
        .alias("text")
    )
    sa = SK.hll_sketch(a, "text", p)
    sb = SK.hll_sketch(b, "text", p)
    out = SK.hll_overlap(sa, sb, p)
    return out.select(
        F.round("a_est", 4).alias("a_est"),
        F.round("b_est", 4).alias("b_est"),
        F.round("union_est", 4).alias("union_est"),
        F.round("intersect_est", 4).alias("intersect_est"),
        F.round("jaccard_est", 6).alias("jaccard_est"),
    )


def q_domain_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain distinct-document estimates from GROUPED HyperLogLog
    registers (one aggregate, ≤ 64 register rows per source) — the
    crawl-ops "distinct pages per domain" answer without shuffling the
    value set; same exact-BIGINT estimator arithmetic as the corpus
    lane, recomputed per key by the oracle."""
    from machine_readability_checker_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents")
    sk = SK.hll_sketch_by_key(docs, "source", "text", p=6)
    est = SK.hll_estimate_by_key(sk, p=6)
    return est.select(
        F.col("key").alias("source"),
        F.round("n_distinct_est", 4).alias("n_distinct_est"),
        "linear_counting",
    ).orderBy("source")


def q_cleaning_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data cleaning pipeline funnel: doc counts after
    exact dedup -> normalized-fingerprint dedup -> min-token filter ->
    language-known filter (DuckDB-oracled stage by stage)."""
    docs = _t(spark, sf_dir, "documents")
    return TS.cleaning_funnel(docs)


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact 3-gram Jaccard ≥ 0.8 pair
    graph: (doc_id, cluster_id=min member).  DuckDB oracle computes the
    same closure with a recursive CTE."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    pairs = D.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.8, max_df=None)
    return D.near_dup_clusters(pairs).orderBy("doc_id")


def q_near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as ``near_dup_clusters`` via the Kiveris
    large-star/small-star contraction (O(log n) rounds — the chain-graph
    formulation); shares the recursive-CTE oracle, so the driver gate
    proves both CC formulations against the same closure."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    pairs = D.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.8, max_df=None)
    return D.near_dup_clusters_star(pairs).orderBy("doc_id")


def q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin prefix-filtered exact Jaccard join — same semantics and
    DuckDB oracle as ngram_jaccard_pairs, far fewer candidates."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return (
        D.ngram_jaccard_pairs_prefix(docs, shingle_k=3, threshold=0.8, max_df=None)
        .select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine ≥ 0.4 over the embeddings table (DuckDB
    oracle via list_cosine_similarity) — the brute-force twin that the
    LSH near-dup query approximates."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        S.cosine_pairs(emb, threshold=0.4)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within LSH buckets (rows-only).
    The synthetic embeddings are near-orthogonal (max pairwise cosine
    ≈0.51), so the threshold is set to surface the top similar pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_dups(emb, threshold=0.45, n_planes=4, dim=64).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).orderBy("id_a", "id_b")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: 8 seed
    centroids (``kmeans_centroids(iters=0)`` so the DuckDB oracle can
    rebuild the quantizer in SQL; production runs Lloyd), within-cluster
    cosine pairs at tau=0.40 (the synthetic embeddings are
    near-orthogonal, max pairwise cosine ≈0.49), connected components,
    and the paper's keep-the-most-atypical rule (lowest cos-to-centroid
    survives).  The oracle recomputes assignment + pairs + a recursive
    CTE for the components + the argmin keep rule entirely in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = S.kmeans_centroids(emb, k=8, iters=0)
    return (
        S.semantic_dedup(emb, cents, tau=0.40)
        .select(
            "vec_id",
            "cell",
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.round("cos_centroid", 6).alias("cos_centroid"),
            "kept",
        )
        .orderBy("vec_id")
    )


_SEMANTIC_DEDUP_SQL = """
WITH RECURSIVE v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), c AS (
  SELECT ev AS cv, row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
  FROM v QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
), assign AS (
  SELECT vec_id, ev, cell_id FROM (
    SELECT v.vec_id, v.ev, c.cell_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_distance(v.ev, c.cv), c.cell_id
           ) AS rn
    FROM v CROSS JOIN c
  ) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.ev, b.ev) >= 0.40
), edges AS (
  SELECT id_a AS u, id_b AS w FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(u, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) seed
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON e.w = r.u
), clusters AS (
  SELECT u AS vec_id, MIN(label) AS cluster_id FROM reach GROUP BY u
), member AS (
  SELECT cl.vec_id, a.cell_id, cl.cluster_id,
         list_cosine_similarity(a.ev, c.cv) AS cosc
  FROM clusters cl
  JOIN assign a ON a.vec_id = cl.vec_id
  JOIN c ON c.cell_id = a.cell_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id ORDER BY cosc, vec_id) AS rn
  FROM member
)
SELECT vec_id, CAST(cell_id AS INTEGER) AS cell,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       round(cosc, 6) AS cos_centroid, (rn = 1) AS kept
FROM ranked ORDER BY vec_id
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023) end-to-end on the
    documents table: unigram+bigram models for raw (all docs) vs target
    (lang='en'), per-doc log likelihood-ratio weights, md5-deterministic
    Gumbel top-50 selection.  The oracle recomputes models + weights +
    Gumbel keys + the rank cutoff entirely in SQL."""
    from machine_readability_checker_spark.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    raw_c = dsir.feature_counts(docs)
    tgt_c = dsir.feature_counts(docs.filter(F.col("lang") == "en"))
    lr = dsir.dsir_log_ratios(raw_c, tgt_c)
    w = dsir.dsir_weights(docs, lr)
    return (
        dsir.dsir_selected_flag(w, k=50)
        .select(
            "doc_id",
            "n_feats",
            F.round("log_w", 5).alias("log_w"),
            F.round("gumbel_key", 5).alias("gumbel_key"),
            "selected",
        )
        .orderBy("doc_id")
    )


def _dsir_oracle_sql() -> str:
    h = _md5_int_sql("CAST(doc_id AS VARCHAR) || ':0'", 6)
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
), f AS (
  SELECT doc_id, lang, unnest(
    list_concat(
      toks,
      CASE WHEN len(toks) >= 2
        THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
        ELSE CAST([] AS VARCHAR[]) END)
  ) AS feature FROM t
), rc AS (
  SELECT feature, count(*) AS cr FROM f GROUP BY feature
), tc AS (
  SELECT feature, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY feature
), vocab AS (
  SELECT coalesce(rc.feature, tc.feature) AS feature,
         coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
  FROM rc FULL OUTER JOIN tc ON rc.feature = tc.feature
), tot AS (
  SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM vocab
), lr AS (
  SELECT feature,
         ln(ct + 1.0) - ln(tt + 1.0 * v)
         - ln(cr + 1.0) + ln(tr + 1.0 * v) AS log_ratio
  FROM vocab CROSS JOIN tot
), w AS (
  SELECT doc_id, count(*) AS n_feats,
         sum(coalesce(log_ratio, 0.0)) AS log_w
  FROM f LEFT JOIN lr USING (feature) GROUP BY doc_id
), wfull AS (
  -- featureless (empty-text) docs drop out of the unnest; restore them
  -- with n_feats=0/log_w=0 to mirror the operator's explode_outer
  SELECT d.doc_id, coalesce(w.n_feats, 0) AS n_feats,
         coalesce(w.log_w, 0.0) AS log_w
  FROM (SELECT doc_id FROM documents) d LEFT JOIN w USING (doc_id)
), g AS (
  SELECT doc_id, n_feats, log_w,
         log_w + (- ln(- ln(({h} + 1.0) / 16777217.0))) AS gumbel_key
  FROM wfull
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rn
  FROM g
)
SELECT doc_id, n_feats, round(log_w, 5) AS log_w,
       round(gumbel_key, 5) AS gumbel_key, (rn <= 50) AS selected
FROM ranked ORDER BY doc_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context sequence packing (concat-and-chunk, seq_len=256)
    over the documents table: one row per (sequence × doc segment) with
    intra-doc and intra-sequence offsets.  Every sequence except the
    last must hold exactly 256 tokens; the oracle recomputes the global
    prefix sum and the segment arithmetic in SQL."""
    from machine_readability_checker_spark.operators.sampling import (
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=256).orderBy("seq_id", "doc_id")


_PACK_SEQUENCES_SQL = """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS tc
  FROM documents
), p AS (
  SELECT doc_id, tc,
         CAST(coalesce(SUM(tc) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS prev
  FROM t WHERE tc > 0
), seg AS (
  SELECT doc_id, tc, prev,
         unnest(range(prev // 256, (prev + tc - 1) // 256 + 1)) AS seq_id
  FROM p
)
SELECT seq_id, doc_id,
  CAST(least(prev + tc, (seq_id + 1) * 256)
       - greatest(prev, seq_id * 256) AS INTEGER) AS n_tokens,
  CAST(greatest(prev, seq_id * 256) - prev AS INTEGER) AS doc_start,
  CAST(greatest(prev, seq_id * 256) - seq_id * 256 AS INTEGER) AS seq_start
FROM seg ORDER BY seq_id, doc_id
"""


def q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot delta (CDX-style revisit classification): two
    deterministic snapshots derived from the documents table — docs
    ≡1 (mod 10) exist only in the new crawl (added), ≡2 (mod 10) only
    in the old (removed), ≡0 (mod 7) re-crawled with changed content —
    classified by one full-outer join on URL + payload-digest compare."""
    from machine_readability_checker_spark.operators import frontier as FR

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.concat(F.lit("https://ex.com/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        "text",
        "doc_id",
    )
    old = base.filter(F.col("doc_id") % 10 != 1).drop("doc_id")
    new = (
        base.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .filter(F.col("doc_id") % 10 != 2)
        .drop("doc_id")
    )
    return FR.snapshot_delta(old, new).orderBy("url")


_SNAPSHOT_DELTA_SQL = """
WITH base AS (
  SELECT 'https://ex.com/' || CAST(doc_id AS VARCHAR) AS url, text, doc_id
  FROM documents
), o AS (
  SELECT url, md5(coalesce(text, '')) AS old_fp
  FROM base WHERE doc_id % 10 != 1
), n AS (
  SELECT url,
         md5(coalesce(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                           ELSE text END, '')) AS new_fp
  FROM base WHERE doc_id % 10 != 2
)
SELECT coalesce(o.url, n.url) AS url,
       CASE WHEN old_fp IS NULL THEN 'added'
            WHEN new_fp IS NULL THEN 'removed'
            WHEN old_fp = new_fp THEN 'unchanged'
            ELSE 'changed' END AS status,
       old_fp, new_fp
FROM o FULL OUTER JOIN n ON o.url = n.url
ORDER BY 1
"""


def q_cdx_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ index lane: two capture records per document (an early 200
    and a later recrawl that 404s for every 4th doc) are ASSEMBLED as
    real CDXJ lines with JVM string expressions, parsed back through
    ``sources.cdx.parse_cdxj_lines`` (split + from_json), and reduced to
    the latest successful capture per SURT key.  The oracle regenerates
    the expected winner per doc arithmetically, so line splitting, JSON
    field extraction, numeric casts, status filtering and the
    latest-per-key window are all pinned."""
    from machine_readability_checker_spark.sources.cdx import (
        latest_captures,
        parse_cdxj_lines,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    day = F.lpad(((i % 28) + 1).cast("string"), 2, "0")
    url = F.concat(
        F.lit("https://h"), (i % 5).cast("string"),
        F.lit(".example.com/p/"), i.cast("string"),
    )
    surt = F.concat(
        F.lit("com,example,h"), (i % 5).cast("string"),
        F.lit(")/p/"), i.cast("string"),
    )

    def _line(ts, status, tag):
        return F.concat(
            surt, F.lit(" "), ts,
            F.lit(' {"url": "'), url,
            F.lit('", "mime": "text/html", "status": "'), status,
            F.lit('", "digest": "sha1:'), F.lit(tag), i.cast("string"),
            F.lit('", "length": "'), (100 + i).cast("string"),
            F.lit('", "offset": "'), (i * 1000).cast("string"),
            F.lit('", "filename": "crawl-'), (i % 3).cast("string"),
            F.lit('.warc.gz"}'),
        )

    ts1 = F.concat(F.lit("202401"), day, F.lit("120000"))
    ts2 = F.concat(F.lit("202402"), day, F.lit("120000"))
    status2 = F.when(i % 4 == 0, F.lit("404")).otherwise(F.lit("200"))
    lines = docs.select(
        F.explode(
            F.array(_line(ts1, F.lit("200"), "A"), _line(ts2, status2, "B"))
        ).alias("value")
    )
    return (
        latest_captures(parse_cdxj_lines(lines))
        .select(
            "surt", "ts", "url", "status", "digest", "length", "offset",
            "filename",
        )
        .orderBy("surt")
    )


_CDX_LATEST_SQL = """
SELECT
  'com,example,h' || CAST(doc_id % 5 AS VARCHAR) || ')/p/'
    || CAST(doc_id AS VARCHAR) AS surt,
  CASE WHEN doc_id % 4 = 0
       THEN '202401' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
            || '120000'
       ELSE '202402' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
            || '120000' END AS ts,
  'https://h' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/'
    || CAST(doc_id AS VARCHAR) AS url,
  200 AS status,
  'sha1:' || CASE WHEN doc_id % 4 = 0 THEN 'A' ELSE 'B' END
    || CAST(doc_id AS VARCHAR) AS digest,
  CAST(100 + doc_id AS BIGINT) AS length,
  CAST(doc_id * 1000 AS BIGINT) AS offset,
  'crawl-' || CAST(doc_id % 3 AS VARCHAR) || '.warc.gz' AS filename
FROM documents
ORDER BY surt
"""


_BATTERY_FRACS = (
    ["dup_line_frac", "dup_para_frac", "dup_line_char_frac",
     "dup_para_char_frac"]
    + [f"top_{n}gram_char_frac" for n in TS.TOP_NGRAM_CHAR_THRESHOLDS]
    + [f"dup_{n}gram_char_frac" for n in TS.DUP_NGRAM_CHAR_THRESHOLDS]
)
_BATTERY_FLAGS = (
    ["dup_lines", "dup_paras", "dup_line_chars", "dup_para_chars"]
    + [f"top_{n}gram_chars" for n in TS.TOP_NGRAM_CHAR_THRESHOLDS]
    + [f"dup_{n}gram_chars" for n in TS.DUP_NGRAM_CHAR_THRESHOLDS]
)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher §A1 repetition battery per document: the classic
    duplicate-token / duplicate-bigram / most-frequent-bigram fractions
    plus duplicate line/paragraph fractions (count and character),
    top-{2,3,4}-gram covered-character fractions, and duplicate
    5..10-gram span-union character fractions — with one verdict per
    signal at the published thresholds.  All per-row codegen
    expressions; the DuckDB oracle recomputes everything with list
    comprehensions.  The fixture corpus is single-line, so 12
    deterministic battery documents (duplicated lines, blank-line
    paragraphs, a twice-repeated 10-token phrase — reconstructed
    identically in SQL) are unioned in to drive every new signal."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    bat = spark.range(12).select(
        F.concat(
            F.lit("bat-"), F.lpad(F.col("id").cast("string"), 2, "0")
        ).alias("doc_id"),
        F.concat(
            F.repeat(F.lit("p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 "), 2),
            F.lit("tail"),
            F.col("id").cast("string"),
            F.lit("\nLN dup\nLN dup\nLN "),
            F.col("id").cast("string"),
            F.lit("\n\nPP dup\n\nPP dup"),
        ).alias("text"),
    )
    # 0.1 (vs the 0.18 operator default) so the fixture corpus exercises
    # both verdicts of the looping-bigram flag
    r = TS.with_repetition_stats(
        docs.unionByName(bat), max_top_bigram_frac=0.1, battery=True
    )
    # cache barrier: SimplifyExtractValueOps rewrites every
    # `repetition.<field>` in the flat select below back into the
    # field's full stat expression, so 25 extractions re-derive the
    # whole staged battery 25× (measured 30.6 s vs 8.1 s for the
    # battery itself at sf0.1).  Materializing the struct rows once
    # makes the flat select a plain column read.
    r = r.select("doc_id", "repetition", "repetition_flag").cache()
    return r.select(
        "doc_id",
        F.round("repetition.dup_token_frac", 6).alias("dup_token_frac"),
        F.round("repetition.dup_bigram_frac", 6).alias("dup_bigram_frac"),
        F.round("repetition.top_bigram_frac", 6).alias("top_bigram_frac"),
        *[F.round(f"repetition.{c}", 6).alias(c) for c in _BATTERY_FRACS],
        F.col("repetition_flag.too_many_dup_tokens").alias(
            "too_many_dup_tokens"
        ),
        F.col("repetition_flag.looping_bigram").alias("looping_bigram"),
        *[F.col(f"repetition_flag.{c}").alias(c) for c in _BATTERY_FLAGS],
    ).orderBy("doc_id")


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub lane: corpus unioned with 15 deterministic PII-bearing
    documents (emails, card shapes, SSNs, phones, IPv4, IPv6 — rebuilt
    identically in the DuckDB oracle), redacted to typed placeholders
    with per-doc counts.  Pure regexp codegen; counts taken on the
    original text."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    pii = spark.range(15).select(
        F.concat(
            F.lit("pii-"), F.lpad(F.col("id").cast("string"), 2, "0")
        ).alias("doc_id"),
        F.concat(
            F.lit("ping 10.0.0."),
            F.col("id").cast("string"),
            F.lit(" mail user"),
            F.col("id").cast("string"),
            F.lit("@ex-host.com call 555-123-"),
            (F.col("id") + 4000).cast("string"),
            F.lit(" card 4111-1111-2222-333"),
            (F.col("id") % 10).cast("string"),
            F.lit(" ssn 123-45-678"),
            (F.col("id") % 10).cast("string"),
            F.lit(" v6 2001:db8::8a2e:"),
            (F.col("id") + 100).cast("string"),
            F.lit(" done"),
        ).alias("text"),
    )
    out = TS.redact_pii(docs.unionByName(pii))
    return out.select(
        "doc_id", "n_emails", "n_ccs", "n_ssns", "n_phones", "n_ips",
        "n_ipv6s", "text_redacted"
    ).orderBy("doc_id")


def q_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-substring spans: maximal token ranges
    covered by any 8-token window occurring ≥2 times anywhere in the
    corpus (cross-doc or self-repeat).  Portable mode keys buckets on the
    raw window string so the DuckDB oracle rebuilds windows, counts and
    the gaps-and-islands merge identically."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return D.duplicate_ngram_spans(
        docs, window=8, min_count=2, portable=True
    ).orderBy("doc_id", "start_tok")


def q_strip_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal pass: per-doc text with duplicated 8-token
    ranges dropped, plus token loss accounting."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return D.strip_duplicate_ngrams(
        docs, window=8, min_count=2, portable=True
    ).orderBy("doc_id")


def q_repetition_flags_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition verdicts at the PRODUCTION thresholds (0.6 / 0.18 —
    no override): the fixture corpus alone never exceeds top-bigram 0.167,
    so 20 deterministic loopy documents (the `repeat('spam ham ')` family,
    reconstructed identically by the DuckDB oracle) are unioned in to
    drive both verdicts of `looping_bigram` at the default config."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    loopy = spark.range(20).select(
        F.concat(
            F.lit("loop-"), F.lpad(F.col("id").cast("string"), 2, "0")
        ).alias("doc_id"),
        F.concat(
            F.repeat(F.lit("spam ham "), (F.col("id") + 10).cast("int")),
            F.lit("unique tail "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    r = TS.with_repetition_stats(docs.unionByName(loopy))
    return r.select(
        "doc_id",
        F.round("repetition.top_bigram_frac", 6).alias("top_bigram_frac"),
        F.col("repetition_flag.too_many_dup_tokens").alias(
            "too_many_dup_tokens"
        ),
        F.col("repetition_flag.looping_bigram").alias("looping_bigram"),
    ).orderBy("doc_id")


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination overlap pairs: the md5-mod-8 document
    slice plays the benchmark/eval set, the rest the training corpus;
    a pair is contaminated when ≥ 5 distinct 3-token shingles are
    shared.  Portable token hashes so the DuckDB oracle rebuilds the
    shingle sets exactly."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    is_b = _is_query_doc(F.col("doc_id"))
    return D.contamination_pairs(
        docs.filter(~is_b),
        docs.filter(is_b),
        shingle_k=3,
        min_common=5,
        max_df=None,
        portable=True,
    ).orderBy("corpus_id", "bench_id")


def q_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/valid/test split audit:
    (split, lang, n_docs, n_tokens) — RNG-free so the DuckDB oracle
    recomputes every assignment from the same md5 bucket arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    return SP.split_manifest(docs, strata_col="lang").orderBy(
        "split", "stratum"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample (training-mix shaping): keep
    100% of 'de', 40% of 'en', 10% of everything else; report the
    per-language survivor counts."""
    docs = _t(spark, sf_dir, "documents")
    kept = SP.stratified_sample(
        docs, {"de": 1.0, "en": 0.4}, default_frac=0.1
    )
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang")
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (RefinedWeb-style): at most 8 docs per
    source, chosen by deterministic md5 order; under-cap domains bypass
    the window shuffle via a broadcast anti join (skew-aware plan)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        SP.cap_per_key(docs, key_col="source", cap=8)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


def q_score_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020)
    machinery on an SQL-expressible stand-in score (text length — the
    faithful pipeline buckets ``ngram_lm`` perplexity, which no SQL
    engine can recompute): per-language percent_rank terciles, lower
    score = head.  Window (exact) mode so DuckDB's own percent_rank
    kernel must agree row-for-row, ties included."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", F.length("text").cast("long").alias("score")
    )
    out = SP.score_buckets(scored, score_col="score", by="lang", mode="window")
    return out.select("doc_id", "lang", "score", "bucket").orderBy("doc_id")


def q_doremi_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi mixture weights (Xie et al. 2023) over per-source
    deterministic stand-in losses (real proxy/reference losses come
    from model training, which no SQL engine can recompute — the lane
    pins the Group-DRO algebra): one excess-loss aggregate, then the
    multiplicative-weights fold.  The DuckDB oracle recomputes the
    fold via its CLOSED FORM α_t = softmax(lr·t·λ) — agreement proves
    the iterative update implements the published recurrence, not just
    itself."""
    from machine_readability_checker_spark.operators import mixing as MX

    docs = _t(spark, sf_dir, "documents")
    losses = docs.select(
        F.col("source").alias("domain"),
        (((F.col("doc_id") * 37) % 101) / F.lit(101.0)).alias("loss_proxy"),
        (((F.col("doc_id") * 61) % 103) / F.lit(103.0)).alias("loss_ref"),
    )
    ex = MX.domain_excess_loss(losses)
    w = MX.doremi_weights(ex, steps=100, lr=0.5, smoothing=1e-3)
    return w.select(
        "domain",
        F.round("excess_loss", 6).alias("excess_loss"),
        F.round("weight", 6).alias("weight"),
    ).orderBy("domain")


_URL_BLOCKLIST = ["src00.com", "src12.co.uk"]


def _synth_url() -> F.Column:
    """Deterministic per-document URL (documents carry no URL column in
    the test corpus; the oracle builds the identical string in SQL).
    Shape exercises two-level public suffixes, subdomains, and paths:
    ``https://sub{id%5}.{source}{id%7}{.co.uk|.com|.org.au}/docs/{id}?ref=r{id%2}``.
    """
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".org.au"))
    )
    return F.concat(
        F.lit("https://sub"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("."),
        F.col("source"),
        (F.col("doc_id") % 7).cast("string"),
        suffix,
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=r"),
        (F.col("doc_id") % 2).cast("string"),
    )


def q_url_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL curation: parse registered domains (public-
    suffix aware), drop blocklisted domains via a broadcast LEFT ANTI
    join (the corpus is never shuffled for the filter), then one
    hash-aggregate scan of per-domain stats.  Plan: narrow map →
    BroadcastHashJoin(LeftAnti) → partial+final HashAggregate."""
    docs = _t(spark, sf_dir, "documents").withColumn("url", _synth_url())
    block = spark.createDataFrame(
        [(d,) for d in _URL_BLOCKLIST], "registered_domain string"
    )
    kept = WU.apply_blocklist(docs, block)
    return WU.domain_stats(kept).orderBy("registered_domain", "tld")


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full web-crawl ingest round trip per document: wrap the text as
    an HTML page, serialize it as a WARC/1.0 response record, gzip it
    Common-Crawl style (per-record member), then decode the archive,
    parse the HTTP envelope, sniff the charset, and run the HTML
    main-content extractor — asserting the body survives bit-faithfully
    (whitespace-normalized).  One Arrow-batched kernel, zero shuffles;
    the oracle pins every derived field (url/charset/title) and
    ``body_ok = TRUE`` for all rows, so ANY drift in the codec, HTTP
    parser, charset sniff, or block classifier breaks the hash."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    with_url = docs.withColumn("url", _synth_url())
    schema = (
        "doc_id long, url string, charset string, title string, "
        "body_ok boolean"
    )

    def kernel(batches):
        import re as _re

        import pandas as _pd

        from machine_readability_checker_spark.core.html import (
            extract_html_spans,
        )
        from machine_readability_checker_spark.core.warc import (
            decode_warc,
            encode_http_response,
            encode_warc_gz,
            encode_warc_record,
        )

        ws = _re.compile(r"\s+")
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                esc = (
                    (r.text or "")
                    .replace("&", "&amp;")
                    .replace("<", "&lt;")
                    .replace(">", "&gt;")
                )
                body = (
                    f"<html><head><title>doc {r.doc_id}</title></head>"
                    f"<body><p>{esc}</p></body></html>"
                ).encode("utf-8")
                rec = encode_warc_record(
                    "response",
                    r.url,
                    f"<urn:uuid:doc-{r.doc_id}>",
                    "2026-01-01T00:00:00Z",
                    encode_http_response(body),
                )
                out = next(iter(decode_warc(encode_warc_gz([rec]))))
                spans, _enc = extract_html_spans(out.body, out.charset)
                title = " ".join(t for k, t, _m in spans if k == "title")
                joined = " ".join(
                    t for k, t, _m in spans if k in ("main", "boilerplate")
                )
                want = ws.sub(" ", r.text or "").strip()
                rows.append(
                    (r.doc_id, out.uri, out.charset, title, joined == want)
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "url", "charset", "title", "body_ok"],
            )

    return (
        _fan(spark, with_url)
        .mapInPandas(kernel, schema=schema)
        .orderBy("doc_id")
    )


def _wet_dir(kind: str, sf_dir: str) -> str:
    import tempfile

    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(tempfile.gettempdir(), f"mrc_driver_{kind}_{base}")


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET export round trip (sources/warcsink.py): the corpus is
    written as Common-Crawl-layout ``*.warc.wet.gz`` shards (one gzip
    member per ``conversion`` record, warcinfo-led, mod-8 arithmetic
    sharding so the oracle can regenerate the assignment), read back
    through ``read_wet``, and joined to the originals.  Per shard:
    ``n_docs`` (every doc landed), ``n_text_ok``/``n_url_ok`` (every
    field byte-exact through the codec), ``chars_total`` (content
    volume pins the payload sizing).  Any encoder/decoder/sharding
    drift breaks the hash."""
    from machine_readability_checker_spark.sources.warc import read_wet
    from machine_readability_checker_spark.sources.warcsink import write_wet

    n_shards = 8
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url"), "text"
    )
    path = _wet_dir("wet", sf_dir)
    write_wet(docs, path, n_shards=n_shards, shard_by="mod").collect()
    back = read_wet(spark, os.path.join(path, "*.warc.wet.gz")).select(
        F.regexp_extract("doc_id", r"wet-(\d+)", 1).cast("long").alias(
            "orig_id"
        ),
        F.col("url").alias("got_url"),
        F.col("text").alias("got_text"),
    )
    joined = back.join(
        docs.select(
            F.col("doc_id").alias("orig_id"),
            F.col("url").alias("want_url"),
            F.coalesce("text", F.lit("")).alias("want_text"),
        ),
        "orig_id",
    )
    return (
        joined.groupBy(
            F.pmod(F.col("orig_id"), F.lit(n_shards)).cast("int").alias(
                "shard"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("got_text") == F.col("want_text")).cast("long")
            ).alias("n_text_ok"),
            F.sum((F.col("got_url") == F.col("want_url")).cast("long")).alias(
                "n_url_ok"
            ),
            F.sum(F.length("got_text")).alias("chars_total"),
        )
        .orderBy("shard")
    )


def q_cdxj_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-then-audit of a CDXJ web-archive index: WET shards are
    indexed member-by-member (``build_cdxj`` records each record's
    gzip-member (offset, length) byte span + payload sha256), then
    EVERY capture is range-read back out of its archive via that span
    and checked for URI and digest agreement (``audit_cdxj`` — the
    pywb/warcio access pattern: slice one document out of a petabyte
    archive without scanning it).  Per shard, all three counters must
    equal the arithmetic document count; a single wrong offset, length,
    or digest breaks the hash."""
    from machine_readability_checker_spark.sources.warcsink import (
        audit_cdxj,
        build_cdxj,
        write_wet,
    )

    n_shards = 8
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url"), "text"
    )
    path = _wet_dir("cdxj", sf_dir)
    write_wet(docs, path, n_shards=n_shards, shard_by="mod").collect()
    glob = os.path.join(path, "*.warc.wet.gz")
    idx = build_cdxj(spark, glob)
    return (
        audit_cdxj(spark, idx, glob)
        .select(
            F.regexp_extract("filename", r"shard-(\d+)", 1)
            .cast("int")
            .alias("shard"),
            "n_captures",
            "n_uri_ok",
            "n_digest_ok",
        )
        .orderBy("shard")
    )


def q_cdx_range_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-driven partial fetch (sources/warc.read_captures): WET
    shards are indexed member-by-member, ONE THIRD of the captures are
    selected from the index (doc_id % 3 == 0 via the URL), and only
    those byte spans are range-read back out of the archives — the
    read-1%-of-a-petabyte pattern a CDX index exists for.  Per shard,
    the fetched doc count and byte-exact text matches must equal the
    arithmetic selection; a wrong offset/length or a fetch of an
    unselected record breaks the counts."""
    from machine_readability_checker_spark.sources.warc import (
        read_captures,
    )
    from machine_readability_checker_spark.sources.warcsink import (
        build_cdxj,
        write_wet,
    )

    n_shards = 8
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://r.test/"), F.col("doc_id")).alias("url"),
        "text",
    )
    path = _wet_dir("rangefetch", sf_dir)
    write_wet(docs, path, n_shards=n_shards, shard_by="mod").collect()
    idx = build_cdxj(spark, os.path.join(path, "*.warc.wet.gz"))
    sel = idx.filter(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long") % 3 == 0
    )
    recs = read_captures(spark, sel, path)
    fetched = recs.select(
        F.regexp_extract("doc_id", r"wet-(\d+)", 1).cast("long").alias(
            "orig_id"
        ),
        # empty-text docs land with NULL content (empty body) — they
        # still round-trip as ''
        F.coalesce(F.decode(F.col("content"), "utf-8"), F.lit("")).alias(
            "got_text"
        ),
    )
    joined = fetched.join(
        docs.select(
            F.col("doc_id").alias("orig_id"),
            F.coalesce("text", F.lit("")).alias("want_text"),
        ),
        "orig_id",
    )
    return (
        joined.groupBy(
            F.pmod(F.col("orig_id"), F.lit(n_shards)).cast("int").alias(
                "shard"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("got_text") == F.col("want_text")).cast("long")
            ).alias("n_text_ok"),
        )
        .orderBy("shard")
    )


def q_warc_revisit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicated web archive via WARC revisit records
    (sources/warcsink.py): every doc contributes one media blob whose
    payload depends only on ``doc_id % 7``, so each of the 7 payloads
    is STORED once (a full ``resource`` record) and every repeat is
    archived as a ``revisit`` record carrying the declared payload
    digest (identical-payload-digest profile — Common Crawl's storage
    dedup).  The CDXJ index then resolves each revisit to the byte span
    of its stored original (``resolve_revisits``) and range-reads the
    bytes back (``read_captures``).  Per payload group: the index must
    hold every capture, exactly ``n-1`` revisits, and every fetch —
    original or revisit — must return the group's exact bytes.  A wrong
    digest, a missed revisit, or a misresolved span breaks the counts."""
    from machine_readability_checker_spark.sources.warc import (
        read_captures,
    )
    from machine_readability_checker_spark.sources.warcsink import (
        build_cdxj,
        resolve_revisits,
        write_warc_resources,
    )

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("m0.bin").alias("media_ref"),
        F.encode(
            F.concat(
                F.lit("%PDF-1.7 revisit-payload-"),
                F.pmod("doc_id", F.lit(7)),
            ),
            "utf-8",
        ).alias("content"),
    )
    path = _wet_dir("revisit", sf_dir)
    write_warc_resources(media, path, n_shards=8, dedup=True).collect()
    idx = build_cdxj(spark, os.path.join(path, "*.warc.gz"))
    indexed = idx.groupBy(
        F.pmod(
            F.regexp_extract("url", r"media/(\d+)/", 1).cast("long"),
            F.lit(7),
        ).cast("int").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.sum(
            (F.col("mime") == "warc/revisit").cast("long")
        ).alias("n_revisits"),
    )
    want = F.concat(
        F.lit("%PDF-1.7 revisit-payload-"), F.col("grp").cast("string")
    )
    fetched = (
        read_captures(spark, resolve_revisits(idx), path)
        .filter(F.col("error").isNull())
        .select(
            F.decode("content", "utf-8").alias("body"),
        )
        .withColumn(
            "grp",
            F.regexp_extract("body", r"payload-(\d+)$", 1).cast("int"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_fetched"),
            F.sum((F.col("body") == want).cast("long")).alias("n_body_ok"),
        )
    )
    return indexed.join(fetched, "grp").orderBy("grp")


def q_redirect_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP redirect-chain resolution (operators/redirects.py): a
    deterministic alias graph over the documents table — every doc_id
    not divisible by 4 redirects to doc_id+1 (wrapping to 0), except
    doc_id % 16 == 10 redirects BACK to doc_id-1, planting a 2-cycle
    (9↔10 per 16-block).  ``resolve_redirect_map`` follows each chain
    to its terminal with hop counting and loop flagging; the DuckDB
    oracle walks the same successor function with a recursive CTE.
    Chains, hop counts, terminals and cycle flags must all agree."""
    from machine_readability_checker_spark.operators.redirects import (
        resolve_redirect_map,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()

    def u(col):
        return F.concat(F.lit("https://r.test/"), col.cast("string"))

    succ = (
        F.when(F.col("doc_id") % 16 == 10, F.col("doc_id") - 1)
        .when(F.col("doc_id") + 1 >= n, F.lit(0))
        .otherwise(F.col("doc_id") + 1)
    )
    edges = docs.filter(F.col("doc_id") % 4 != 0).select(
        u(F.col("doc_id")).alias("src"), u(succ).alias("dst")
    )
    return resolve_redirect_map(edges, max_hops=6).orderBy("src")


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware frontier scheduling: a synthetic frontier from
    doc_id arithmetic (7 domains, priority cycling mod 13) through the
    per-domain window (slots_per_wave=2, 1.5 s delay), aggregated per
    (domain, wave).  The oracle recomputes the ENTIRE schedule with a
    ROW_NUMBER window in DuckDB — a genuine full-SQL twin."""
    from machine_readability_checker_spark.operators.frontier import (
        schedule_frontier,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    frontier = docs.select(
        F.concat(F.lit("d"), (F.col("doc_id") % 7).cast("string")).alias(
            "domain"
        ),
        F.concat(
            F.lit("http://d"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 13).cast("double").alias("priority"),
    )
    sched = schedule_frontier(frontier, slots_per_wave=2, delay_s=1.5)
    return (
        sched.groupBy("domain", "fetch_wave")
        .agg(
            F.count("*").alias("n_urls"),
            F.max("host_rank").alias("max_host_rank"),
            F.min("eta_s").alias("eta_s"),
        )
        .orderBy("domain", "fetch_wave")
    )


_FRONTIER_SQL = """
    WITH f AS (
      SELECT 'd' || CAST(doc_id % 7 AS VARCHAR) AS domain,
             'http://d' || CAST(doc_id % 7 AS VARCHAR) || '.example/p'
               || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id % 13 AS DOUBLE) AS priority
      FROM documents
    ), r AS (
      SELECT domain,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY domain ORDER BY priority DESC, url
             ) - 1 AS INT) AS host_rank
      FROM f
    ), s AS (
      SELECT domain, host_rank,
             CAST(host_rank // 2 AS INT) AS fetch_wave
      FROM r
    )
    SELECT domain, fetch_wave, COUNT(*) AS n_urls,
           MAX(host_rank) AS max_host_rank,
           MIN(CAST(fetch_wave AS DOUBLE) * 1.5) AS eta_s
    FROM s GROUP BY domain, fetch_wave
    ORDER BY domain, fetch_wave
"""


_FEED_VARIANTS = [
    (
        '<?xml version="1.0"?><rss version="2.0"><channel>'
        "<title>S</title>"
        "<item><title>Post  one</title><link>http://f0.example/p1</link>"
        "<pubDate>Tue, 02 Jan 2024 03:04:05 GMT</pubDate></item>"
        "<item><title>Post two</title><link>http://f0.example/p2</link>"
        "<pubDate>Tue, 02 Jan 2024 05:04:05 +0200</pubDate></item>"
        "</channel></rss>",
        "http://f0.example/feed.xml",
    ),
    (
        '<?xml version="1.0"?>'
        '<feed xmlns="http://www.w3.org/2005/Atom"><title>A</title>'
        '<entry><title>Entry one</title>'
        '<link rel="self" href="http://f1.example/self"/>'
        '<link rel="alternate" href="http://f1.example/e1"/>'
        "<published>2024-01-02T03:04:05Z</published></entry>"
        '<entry><title>Entry two</title>'
        '<link href="http://f1.example/e2"/>'
        "<updated>2024-03-04T05:06:07+09:00</updated></entry>"
        "</feed>",
        "http://f1.example/atom.xml",
    ),
    ("<html>not a feed</html>", "http://f2.example/x"),
]

# hand-derived per-variant entry rows (entry_idx, url, title,
# published_utc, error) — date math: +0200 → UTC −2 h, +09:00 → −9 h;
# pinned independently by tests/test_feeds.py
_FEED_EXPECT = [
    [
        (0, "http://f0.example/p1", "Post one",
         "2024-01-02 03:04:05", None),
        (1, "http://f0.example/p2", "Post two",
         "2024-01-02 03:04:05", None),
    ],
    [
        (0, "http://f1.example/e1", "Entry one",
         "2024-01-02 03:04:05", None),
        (1, "http://f1.example/e2", "Entry two",
         "2024-03-03 20:06:07", None),
    ],
    [
        (-1, None, None, None, "feed: unsupported root element <html>"),
    ],
]


def q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syndication-feed discovery end-to-end: RSS 2.0 and Atom variant
    feeds (plus a non-feed quarantine variant) through the Arrow
    kernel; the oracle states the expected entry matrix — dialect
    dispatch, rel=alternate preference, published-over-updated, and
    RFC 822 + RFC 3339 → UTC normalization all have to be right."""
    from machine_readability_checker_spark.operators.feeds import (
        feed_entries,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                xml, url = _FEED_VARIANTS[did % 3]
                rows.append((str(did), url, xml.encode("utf-8")))
            yield _pd.DataFrame(rows, columns=["doc_id", "url", "content"])

    feeds = _fan(spark, docs).mapInPandas(
        kernel, schema="doc_id string, url string, content binary"
    )
    out = feed_entries(feeds)
    return (
        out.withColumn(
            "variant",
            F.regexp_extract(F.col("feed_url"), r"f(\d)\.example", 1)
            .cast("int"),
        )
        .groupBy(
            "variant", "entry_idx", "url", "title", "published_utc",
            "error",
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant", "entry_idx")
    )


def _feed_entries_oracle_sql() -> str:
    def lit(v):
        if v is None:
            return "CAST(NULL AS VARCHAR)"
        return _sql_str(str(v))

    vals = ",\n      ".join(
        "({}, {}, {}, {}, {}, {})".format(
            v, idx, lit(url), lit(title), lit(pub), lit(err)
        )
        for v, rows in enumerate(_FEED_EXPECT)
        for (idx, url, title, pub, err) in rows
    )
    return f"""
    WITH counts AS (
      SELECT CAST(doc_id % 3 AS INTEGER) AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, entry_idx, url, title, published_utc, error)
      AS (VALUES
      {vals}
    )
    SELECT e.variant, CAST(e.entry_idx AS INT) AS entry_idx, e.url,
           e.title, e.published_utc, e.error, c.n AS n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY e.variant, e.entry_idx
    """


# (variant html, page url) → hand-derived expected metadata; pinned
# independently by tests/test_pagemeta.py's resolution matrix
_PM_VARIANTS = [
    (
        '<html lang="en"><head><base href="/s/"><title> Alpha  Page </title>'
        '<meta name="description" content="alpha desc">'
        '<meta name="robots" content="index, follow">'
        '<meta property="og:title" content="Alpha OG">'
        '<meta property="og:description" content="alpha og desc">'
        '<meta property="og:image" content="i.png">'
        '<link rel="canonical" href="../c">'
        "</head><body><p>x</p></body></html>",
        "http://site0.example/a/page.html",
    ),
    (
        "<html><head><title>Bare</title></head><body><p>y</p></body></html>",
        "http://site1.example/p",
    ),
    (
        '<html lang="ja"><head>'
        '<meta name="robots" content="noindex">'
        '<meta property="og:title" content="OGのみ">'
        '<link rel="canonical" href="https://canon.example/x">'
        "</head><body><p>z</p></body></html>",
        "http://site2.example/q",
    ),
]

_PM_EXPECT = [
    # (title, description, og_title, og_description, og_image,
    #  canonical, robots, lang)
    ("Alpha Page", "alpha desc", "Alpha OG", "alpha og desc",
     "http://site0.example/s/i.png", "http://site0.example/c",
     "index, follow", "en"),
    ("Bare", None, None, None, None, None, None, None),
    (None, None, "OGのみ", None, None, "https://canon.example/x",
     "noindex", "ja"),
]


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata harvest at corpus scale: three fixed page variants
    (full OpenGraph + base-resolved relative canonical; bare; noindex
    with absolute canonical) through the Arrow kernel; the oracle
    states the expected field matrix as literals — title collapse,
    first-wins, RFC 3986 base resolution and og/link dispatch all have
    to be right."""
    from machine_readability_checker_spark.operators.pagemeta import (
        page_metadata,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                html, url = _PM_VARIANTS[did % 3]
                rows.append((str(did), url, html.encode("utf-8")))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "url", "content"]
            )

    pages = _fan(spark, docs).mapInPandas(
        kernel, schema="doc_id string, url string, content binary"
    )
    meta = page_metadata(pages)
    return (
        meta.withColumn("variant", F.col("doc_id").cast("long") % 3)
        .groupBy(
            "variant", "title", "description", "og_title",
            "og_description", "og_image", "canonical", "robots", "lang",
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant")
    )


def _page_metadata_oracle_sql() -> str:
    def lit(v):
        return _sql_str(v) if v is not None else "CAST(NULL AS VARCHAR)"

    vals = ",\n      ".join(
        "({}, {})".format(v, ", ".join(lit(x) for x in row))
        for v, row in enumerate(_PM_EXPECT)
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, title, description, og_title, og_description,
              og_image, canonical, robots, lang) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant,
           e.title, e.description, e.og_title,
           e.og_description, e.og_image, e.canonical, e.robots, e.lang,
           c.n AS n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY e.variant
    """


def q_html_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-table corpus survey: per captured table its grid dimensions
    and whether it is data-shaped (≥2×2) or a filtered layout/nav
    table — pins the colspan/rowspan occupancy math constructively
    (the 6×3 variant-2 grid only exists if spans expand correctly)."""
    stats = WT.table_stats(
        _variant_table_docs(spark, sf_dir, WT.variant_page)
    )
    return (
        stats.withColumn("variant", F.col("doc_id").cast("long") % 3)
        .groupBy("variant", "table_idx", "n_rows", "n_cols", "kept")
        .agg(F.count("*").alias("n_pages"))
        .orderBy("variant", "table_idx")
    )


def q_pdf_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF-table corpus survey: per detected table block its densified
    grid dimensions — pins the column-union densification math (the 4×3
    variant-2 grid with a blank middle cell only exists if the dropped
    run densifies to "")."""
    stats = WT.table_stats(
        _variant_table_docs(spark, sf_dir, WT.variant_pdf), "pdf"
    )
    return (
        stats.withColumn("variant", F.col("doc_id").cast("long") % 3)
        .groupBy("variant", "table_idx", "n_rows", "n_cols", "kept")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant", "table_idx")
    )


# CJK/Type0 layout lane: fixed per-variant page payloads rendered
# through a Type0 composite font with an embedded /ToUnicode CMap (the
# structure every real Japanese-producer PDF has), cycling the
# text-bearing stream filters by doc_id so Flate / LZW / ASCII85+Flate /
# ASCIIHex all flow through the lane — the extracted spans are
# filter-invariant, which is itself the property under test.  The
# expected (kind, text) sequences are constants (pinned against the
# single-node core by tests/test_pdf_cid_filters.py).
_CJK_VARIANT_SPANS = {
    0: [("heading", "年次報告書"),
        ("line", "あいうえおかきくけこ"),
        ("line", "日本語の本文行です。")],
    1: [("heading", "売上概況レポート"),
        ("line", "合計　金額は以下の通り。"),
        ("line", "Mixed ascii と漢字の行")],
    2: [("heading", "統計資料 📊"),
        ("line", "カタカナとひらがなの行"),
        ("line", "end ascii line")],
}


def _cjk_variant_items(v: int) -> list[dict]:
    spans = _CJK_VARIANT_SPANS[v]
    items = [{"text": spans[0][1], "x": 72, "y": 760, "size": 20}]
    y = 720
    for _, text in spans[1:]:
        items.append({"text": text, "x": 72, "y": y, "size": 11})
        y -= 20
    return items


_CJK_FILTER_CYCLE = [
    {"compress": True},
    {"content_filters": ["LZWDecode"]},
    {"content_filters": ["ASCII85Decode", "FlateDecode"]},
    {"content_filters": ["ASCIIHexDecode"]},
]


# Multi-column reading-order lane: fixed per-variant page layouts whose
# correct span ORDER only falls out if the XY-cut column logic works —
# v0 a spanning title over two columns, v1 three columns, v2 a table
# between prose lines (must NOT be torn into fake columns).  Expected
# ordered spans are constants (pinned against the single-node core by
# tests/test_pdf_columns.py::test_driver_column_variant_pins).
_COL_V0_LEFT = [f"left column body line {i} words" for i in range(3)]
_COL_V0_RIGHT = [f"right column body line {i} text" for i in range(3)]
_COL_V1_COLS = [
    [f"first column body line {i} here" for i in range(3)],
    [f"second column body line {i} yes" for i in range(3)],
    [f"third column body line {i} okk" for i in range(3)],
]
_COL_V2_ROWS = [("name", "count"), ("aaa", "1"), ("bbb", "2"), ("ccc", "3")]

_COL_VARIANT_SPANS = {
    0: [("heading", "A Spanning Title Across Both Columns")]
    + [("line", t) for t in _COL_V0_LEFT]
    + [("line", t) for t in _COL_V0_RIGHT],
    1: [("line", t) for col in _COL_V1_COLS for t in col],
    2: [("line", "This paragraph introduces the following table.")]
    + [("cell", "\t".join(r)) for r in _COL_V2_ROWS]
    + [("line", "And the closing sentence follows the table here.")],
}


def _col_variant_items(v: int) -> list[dict]:
    def col(texts, x, y0, size=11, dy=16):
        return [
            {"text": t, "x": x, "y": y0 - k * dy, "size": size}
            for k, t in enumerate(texts)
        ]

    if v == 0:
        return (
            [{"text": "A Spanning Title Across Both Columns",
              "x": 72, "y": 760, "size": 20}]
            + col(_COL_V0_LEFT, 72, 720)
            + col(_COL_V0_RIGHT, 330, 720)
        )
    if v == 1:
        return (
            col(_COL_V1_COLS[0], 60, 700)
            + col(_COL_V1_COLS[1], 240, 700)
            + col(_COL_V1_COLS[2], 420, 700)
        )
    items = [{"text": "This paragraph introduces the following table.",
              "x": 72, "y": 740}]
    y = 700
    for row in _COL_V2_ROWS:
        for x, c in zip((72, 260), row):
            items.append({"text": c, "x": x, "y": y})
        y -= 20
    items.append({"text": "And the closing sentence follows the table here.",
                  "x": 72, "y": y - 20})
    return items


def q_pdf_columns_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column reading order end-to-end: per doc, render the fixed
    variant layout, extract spans, and keep the span INDEX — the oracle
    pins the exact column-major order (title → left column → right
    column; tables never torn).  One narrow ``mapInPandas`` + one hash
    aggregate."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        from machine_readability_checker_spark.core.pdf import (
            extract_pdf_spans,
            write_pdf,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                v = did % 3
                spans, err = extract_pdf_spans(
                    write_pdf(_col_variant_items(v), compress=True)
                )
                if err is not None:
                    rows.append((str(did), v, -1, "error", err))
                    continue
                for idx, (kind, text, _m) in enumerate(spans):
                    rows.append((str(did), v, idx, kind, text))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "variant", "idx", "kind", "text"]
            )

    spans = _fan(spark, docs).mapInPandas(
        kernel,
        schema="doc_id string, variant long, idx int, kind string, text string",
    )
    return (
        spans.groupBy("variant", "idx", "kind", "text")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant", "idx")
    )


def q_pdf_cjk_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-font PDF extraction: per doc, write the fixed variant
    payload as a Type0/ToUnicode PDF (filters cycling by doc_id), run
    the full layout lane, and aggregate the extracted (kind, text)
    spans per variant.  One narrow Arrow-batched ``mapInPandas`` + one
    hash aggregate — same 100 TB shape as the other layout lanes."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        from machine_readability_checker_spark.core.pdf import (
            extract_pdf_spans,
            write_pdf,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                v = did % 3
                blob = write_pdf(
                    _cjk_variant_items(v), **_CJK_FILTER_CYCLE[did % 4]
                )
                spans, err = extract_pdf_spans(blob)
                if err is not None:  # must not happen; surface as a row
                    rows.append((str(did), v, "error", err))
                    continue
                for kind, text, _media in spans:
                    rows.append((str(did), v, kind, text))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "variant", "kind", "text"]
            )

    spans = _fan(spark, docs).mapInPandas(
        kernel, schema="doc_id string, variant long, kind string, text string"
    )
    return (
        spans.groupBy("variant", "kind", "text")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant", "kind", "text")
    )


def _odf_variant_doc(v: int):
    """Fixed OpenDocument variant payloads (no RNG — the oracle states
    their extractions as literals, pinned against the single-node core
    by tests/test_odf.py)."""
    from machine_readability_checker_spark.core.odf import (
        write_ods,
        write_odt,
    )

    if v == 0:  # side-channel-rich ODS: merge, hidden dims, decoration
        sheets = [{
            "name": "Sheet1",
            "rows": [["col_a", "col_b", "col_c", "col_d"],
                     ["alpha", 1, 2.5, "x"],
                     ["beta　x", 3, 7, "y"],
                     ["gamma", 5, 9, "z①"]],
            "merged": [(1, 1, 2, 1)],
            "hidden_rows": [3],
            "hidden_cols": [3],
            "styled": [(1, 0, "bold"), (2, 2, "yellow_fill"),
                       (3, 0, "red_font")],
        }]
        return "ods", write_ods(sheets), dict(
            header_start_row=1, header_end_row=1
        )
    if v == 1:  # ODT layout doc with span-split prose, table, image
        blocks = [
            ("Title", "ODF Document"),
            ("Heading1", "Overview"),
            ("", ["machine reada",
                  "bility of interleaved corpora is the north star of "
                  "this engine"]),
            ("", "note"),
        ]
        return "odt", write_odt(
            blocks,
            images=["Pictures/logo.png"],
            tables=[[["col_a", "col_b"], ["1", "2"]]],
        ), {}
    # v == 2: annotated ODS with a two-row merged header (zone splitter
    # + MultiIndex ffill + "(空白)" machinery through the ods container)
    sheets = [{
        "name": "Sheet1",
        "rows": [["調査結果の概要", None, None],
                 [None, None, None],
                 ["グループA", "", "グループB"],
                 ["col_a", "col_b", "col_c"],
                 ["a", 10, 20],
                 ["b", 30, 40],
                 ["注: 単位は千円", None, None]],
    }]
    return "ods", write_ods(sheets), dict(
        header_start_row=3, header_end_row=4,
        data_start_row=5, data_end_row=6,
    )


# expected (kind, text, media_ref) per variant — pinned by
# tests/test_odf.py::test_odf_variant_tables_match_core
_ODF_VARIANT_SPANS = {
    0: [
        ("header", "col_a", ""),
        ("header", "col_b", ""),
        ("header", "col_c", ""),
        ("header", "col_d", ""),
        ("cell", "alpha\t1\t2.5\tx", ""),
        ("cell", "beta　x\t3\t7\ty", ""),
        ("cell", "gamma\t5\t9\tz①", ""),
    ],
    1: [
        ("title", "ODF Document", ""),
        ("heading", "Overview", ""),
        ("main", "machine readability of interleaved corpora is the "
                 "north star of this engine", ""),
        ("boilerplate", "note", ""),
        ("line", "col_a\tcol_b", ""),
        ("line", "1\t2", ""),
        ("media", "", "Pictures/logo.png"),
    ],
    2: [
        ("annotation_upper", "調査結果の概要", ""),
        ("header", "グループA/col_a", ""),
        ("header", "グループA/col_b", ""),
        ("header", "グループB/col_c", ""),
        ("cell", "a\t10\t20", ""),
        ("cell", "b\t30\t40", ""),
        ("annotation_lower", "注: 単位は千円", ""),
    ],
}

_ODF_VARIANT_RULES = {
    0: [("L1-01", True), ("L1-02", True), ("L1-03", True),
        ("L1-04", True), ("L1-05", True), ("L1-06", False),
        ("L1-07", True), ("L1-08", False), ("L1-09", True),
        ("L1-10", True), ("L1-11", False), ("L1-12", False),
        ("L1-13", False), ("L1-14", True), ("L1-15", True),
        ("X-01", True), ("X-02", True), ("X-03", True),
        ("X-04", False), ("X-05", False), ("X-06", False),
        ("X-07", False)],
    2: [("L1-01", True), ("L1-02", True), ("L1-03", True),
        ("L1-04", False), ("L1-05", True), ("L1-06", True),
        ("L1-07", True), ("L1-08", True), ("L1-09", True),
        ("L1-10", True), ("L1-11", True), ("L1-12", True),
        ("L1-13", True), ("L1-14", True), ("L1-15", True),
        ("X-01", True), ("X-02", True), ("X-03", True),
        ("X-04", False), ("X-05", False), ("X-06", False),
        ("X-07", True)],
}


def q_odf_rule_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 22-rule battery over OpenDocument spreadsheets: both ODS
    variants run the full catalog through the modern-workbook branches
    (merges, hidden dims, decoration flags from the ODS side-channel)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        from machine_readability_checker_spark.core.extract import (
            extract_document,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                v = 0 if did % 2 == 0 else 2
                fmt, blob, kw = _odf_variant_doc(v)
                out = extract_document(str(did), fmt, blob, **kw)
                for res in out["results"]:
                    rows.append((str(did), v, res["rule_id"],
                                 bool(res["passed"])))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "variant", "rule_id", "passed"]
            )

    rules = _fan(spark, docs).mapInPandas(
        kernel,
        schema="doc_id string, variant long, rule_id string, "
               "passed boolean",
    )
    return (
        rules.groupBy("variant", "rule_id", "passed")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant", "rule_id")
    )


_EPUB_LONG = (
    "interleaved corpora need faithful reading order to survive training"
)


def _epub_variant_doc(v: int) -> bytes:
    """Fixed EPUB variant payloads (container walk + spine order over
    the HTML lane; pinned by tests/test_epub.py)."""
    from machine_readability_checker_spark.core.epub import write_epub

    if v == 0:  # two chapters + non-linear cover that must not extract
        ch1 = (
            f"<html><body><h1>Part One</h1><p>{_EPUB_LONG} alpha</p>"
            "</body></html>"
        ).encode()
        ch2 = (
            f"<html><body><h1>Part Two</h1><p>{_EPUB_LONG} beta</p>"
            '<img src="img/fig1.png"></body></html>'
        ).encode()
        cover = b"<html><body><p>COVER ART ONLY</p></body></html>"
        return write_epub([ch1, ch2], non_linear=[cover])
    if v == 1:  # title + link-density boilerplate classification
        ch = (
            "<html><head><title>Solo</title></head><body><h1>Only</h1>"
            f"<p>{_EPUB_LONG} gamma</p>"
            "<div><a href='/x'>nav</a> <a href='/y'>links</a></div>"
            "</body></html>"
        ).encode()
        return write_epub([ch])
    ch1 = (  # v == 2: nav/footer boilerplate around the main block
        "<html><body><nav><a href='/'>home</a></nav><h2>Deep</h2>"
        f"<p>{_EPUB_LONG} delta</p><footer>(c) someone</footer>"
        "</body></html>"
    ).encode()
    return write_epub([ch1])


_EPUB_VARIANT_SPANS = {
    0: [
        ("heading", "Part One", ""),
        ("main", f"{_EPUB_LONG} alpha", ""),
        ("heading", "Part Two", ""),
        ("main", f"{_EPUB_LONG} beta", ""),
        ("media", "", "img/fig1.png"),
    ],
    1: [
        ("title", "Solo", ""),
        ("heading", "Only", ""),
        ("main", f"{_EPUB_LONG} gamma", ""),
        ("boilerplate", "nav links", ""),
    ],
    2: [
        ("boilerplate", "home", ""),
        ("heading", "Deep", ""),
        ("main", f"{_EPUB_LONG} delta", ""),
        ("boilerplate", "(c) someone", ""),
    ],
}


def q_span_regression_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's correctness criterion as an operator: build a
    span table from the documents corpus (5-token cell chunks), apply a
    deterministic 'regression' to the twin (every 7th doc loses its
    last span; every 11th mutates its first span's kind), and diff the
    two with ``operators.spandiff`` — one full-outer join, pure JVM
    array comparison.  The oracle derives the expected verdicts from
    the perturbation rules, independently of the array machinery."""
    from machine_readability_checker_spark.operators.spandiff import (
        span_diff,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    staged = docs.select("doc_id", toks.alias("_t"))
    n_chunks = F.ceil(F.size("_t") / F.lit(5)).cast("int")
    spans = F.when(
        F.size("_t") > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                F.lit("cell").alias("kind"),
                F.array_join(
                    F.slice(F.col("_t"), i * 5 + 1, 5), " "
                ).alias("text"),
                F.lit("").alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,"
            "offset:int>>"
        )
    )
    base = staged.select("doc_id", spans.alias("spans"))
    drop_last = F.expr("slice(spans, 1, greatest(size(spans) - 1, 0))")
    mutate_first = F.when(
        F.size("spans") > 0,
        F.concat(
            F.array(
                F.struct(
                    F.lit("header").alias("kind"),
                    F.col("spans")[0]["text"].alias("text"),
                    F.col("spans")[0]["media_ref"].alias("media_ref"),
                    F.col("spans")[0]["offset"].alias("offset"),
                )
            ),
            F.expr("slice(spans, 2, greatest(size(spans) - 1, 0))"),
        ),
    ).otherwise(F.col("spans"))
    perturbed = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, drop_last)
        .when(F.col("doc_id") % 11 == 0, mutate_first)
        .otherwise(F.col("spans"))
        .alias("spans"),
    )
    return (
        span_diff(base, perturbed)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "status",
            "first_diff_offset",
            "n_left",
            "n_right",
        )
        .orderBy("doc_id")
    )


_SPAN_DIFF_SQL = """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x != ''))
               AS n_toks
      FROM documents
    ), n AS (
      SELECT doc_id,
             CASE WHEN n_toks > 0
                  THEN CAST(ceil(n_toks / 5.0) AS INTEGER)
                  ELSE 0 END AS nc
      FROM t
    )
    SELECT doc_id,
      CASE
        WHEN doc_id % 7 = 0 AND nc > 0 THEN 'diff'
        WHEN doc_id % 11 = 0 AND doc_id % 7 <> 0 AND nc > 0 THEN 'diff'
        ELSE 'equal' END AS status,
      CASE
        WHEN doc_id % 7 = 0 AND nc > 0 THEN nc - 1
        WHEN doc_id % 11 = 0 AND doc_id % 7 <> 0 AND nc > 0 THEN 0
        END AS first_diff_offset,
      nc AS n_left,
      CASE WHEN doc_id % 7 = 0 AND nc > 0 THEN nc - 1 ELSE nc END
        AS n_right
    FROM n ORDER BY doc_id
"""


_ROBOTS_FILES = {
    "d0.example": (
        "User-agent: GoodBot\nDisallow: /private/\n\n"
        "User-agent: *\nDisallow: /tmp/\nDisallow: /*.pdf$\n"
        "Allow: /tmp/ok\n"
    ),
    "d1.example": "User-agent: *\nDisallow: /\nAllow: /docs/\n",
    "d2.example": "# no rules\nSitemap: https://d2.example/s.xml\n",
}
_ROBOTS_PATHS = [
    "/private/press/kit", "/private/secret", "/tmp/junk",
    "/docs/file.pdf", "/home",
]
# hand-derived RFC 9309 verdicts for agent '*' per (domain_variant,
# path_variant): (allowed, matched_rule) — pinned independently by
# tests/test_robots.py's operator tests
_ROBOTS_EXPECT = {
    (0, 0): (True, None),
    (0, 1): (True, None),
    (0, 2): (False, "/tmp/"),
    (0, 3): (False, "/*.pdf$"),
    (0, 4): (True, None),
    (1, 0): (False, "/"),
    (1, 1): (False, "/"),
    (1, 2): (False, "/"),
    (1, 3): (True, "/docs/"),
    (1, 4): (False, "/"),
    (2, 0): (True, None),
    (2, 1): (True, None),
    (2, 2): (True, None),
    (2, 3): (True, None),
    (2, 4): (True, None),
}


def q_robots_allowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness end-to-end: parse three fixed robots.txt files
    (Arrow kernel), derive one URL per document from the corpus, and
    evaluate RFC 9309 longest-match permission with the pure-JVM join
    operator.  The oracle states the hand-derived verdict matrix as
    literals and recomputes the counts from doc_id arithmetic."""
    from machine_readability_checker_spark.operators.robots import (
        robots_allowed,
        robots_rules,
    )

    robots_df = spark.createDataFrame(
        [(d, t.encode("utf-8")) for d, t in sorted(_ROBOTS_FILES.items())],
        "domain string, content binary",
    )
    rules = robots_rules(robots_df)
    domains = F.array(*[F.lit(d) for d in sorted(_ROBOTS_FILES)])
    paths = F.array(*[F.lit(p) for p in _ROBOTS_PATHS])
    urls = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.element_at(domains, (F.col("doc_id") % 3 + 1).cast("int")).alias(
            "domain"
        ),
        F.element_at(paths, (F.col("doc_id") % 5 + 1).cast("int")).alias(
            "path"
        ),
    )
    out = robots_allowed(urls, rules)
    return (
        out.groupBy("domain", "path", "allowed", "matched_rule")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("domain", "path")
    )


def _robots_oracle_sql() -> str:
    doms = sorted(_ROBOTS_FILES)
    vals = ",\n      ".join(
        "({}, {}, '{}', {}, {}, {})".format(
            dv, pv, doms[dv], _sql_str(_ROBOTS_PATHS[pv]),
            "TRUE" if allowed else "FALSE",
            _sql_str(rule) if rule is not None else "CAST(NULL AS VARCHAR)",
        )
        for (dv, pv), (allowed, rule) in sorted(_ROBOTS_EXPECT.items())
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS dv, doc_id % 5 AS pv, COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ), expect(dv, pv, domain, path, allowed, matched_rule) AS (VALUES
      {vals}
    )
    SELECT e.domain, e.path, e.allowed, e.matched_rule, c.n AS n_docs
    FROM expect e JOIN counts c ON c.dv = e.dv AND c.pv = e.pv
    ORDER BY e.domain, e.path
    """


# variant index → (payload builder key, expected sniffed MIME).  The
# verdicts are hand-derived from the published magic-byte signatures
# and independently pinned by tests/test_mimetype.py over the same
# real writers/encoders.
_MIME_EXPECT = [
    ("png", "image/png"),
    ("jpeg", "image/jpeg"),
    ("gif", "image/gif"),
    ("bmp", "image/bmp"),
    ("tiff", "image/tiff"),
    ("wav", "audio/x-wav"),
    ("avi", "video/x-msvideo"),
    ("pdf", "application/pdf"),
    ("gzip", "application/gzip"),
    ("xlsx",
     "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"),
    ("docx",
     "application/vnd.openxmlformats-officedocument"
     ".wordprocessingml.document"),
    ("epub", "application/epub+zip"),
    ("ods", "application/vnd.oasis.opendocument.spreadsheet"),
    ("rtf", "text/rtf"),
    ("html", "text/html"),
    ("xml", "application/xml"),
    ("text", "text/plain"),
    ("cfb", "application/x-cfb"),
    ("doc", "application/msword"),
    ("xls", "application/vnd.ms-excel"),
    ("ppt", "application/vnd.ms-powerpoint"),
    ("eml", "message/rfc822"),
    ("warc", "application/warc"),
    ("empty", "application/x-empty"),
    ("binary", "application/octet-stream"),
]


def _mime_payloads() -> list:
    """One real payload per _MIME_EXPECT variant, produced by the
    repo's own encoders/writers where a codec exists — a signature
    regression in any writer fails the lane, not just its unit test."""
    import gzip as _gzip

    from machine_readability_checker_spark.core.avi import encode_avi
    from machine_readability_checker_spark.core.bmp import encode_bmp
    from machine_readability_checker_spark.core.doc import write_doc
    from machine_readability_checker_spark.core.docx import write_docx
    from machine_readability_checker_spark.core.eml import (
        write_eml as _write_eml,
    )
    from machine_readability_checker_spark.core.epub import write_epub
    from machine_readability_checker_spark.core.gif import encode_gif
    from machine_readability_checker_spark.core.jpeg import encode_jpeg
    from machine_readability_checker_spark.core.odf import write_ods
    from machine_readability_checker_spark.core.png import encode_png
    from machine_readability_checker_spark.core.ppt import (
        write_ppt as _write_ppt,
    )
    from machine_readability_checker_spark.core.tiff import encode_tiff
    from machine_readability_checker_spark.core.wav import encode_wav
    from machine_readability_checker_spark.core.xls import (
        write_xls as _write_xls,
    )
    from machine_readability_checker_spark.core.xlsx import write_xlsx

    px = bytes([10, 20, 30, 40])
    jpg = encode_jpeg(2, 2, 1, px)
    sheet = {"name": "S", "rows": [["a", "b"], ["1", "2"]]}
    blobs = {
        "png": encode_png(2, 2, 1, px),
        "jpeg": jpg,
        "gif": encode_gif(2, 2, 1, px),
        "bmp": encode_bmp(2, 2, 1, px),
        "tiff": encode_tiff(2, 2, 1, px, "lzw", ">"),
        "wav": encode_wav(8000, 1, 16, b"\x00\x01" * 8),
        "avi": encode_avi(2, 2, 5.0, [jpg]),
        "pdf": b"%PDF-1.4\n1 0 obj\n<<>>\nendobj\n",
        "gzip": _gzip.compress(b"hello"),
        "xlsx": write_xlsx([sheet]),
        "docx": write_docx([("Title", "T"), ("", "body")]),
        "epub": write_epub([b"<html><body><p>c</p></body></html>"]),
        "ods": write_ods([sheet]),
        "rtf": b"{\\rtf1\\ansi Hello}",
        "html": b"\n  <!DOCTYPE HTML><html><body>x",
        "xml": b'<?xml version="1.0"?><urlset/>',
        "text": "plain prose éあ".encode("utf-8"),
        "cfb": b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 24,
        "doc": write_doc([("para", "legacy word binary payload")]),
        "xls": _write_xls([sheet]),
        "ppt": _write_ppt([[("title", "deck"), ("body", "legacy slides")]]),
        "eml": _write_eml(
            "sniff me", "a@example.com", "b@example.com",
            plain="a message body",
        ),
        "warc": b"WARC/1.0\r\nWARC-Type: response\r\n",
        "empty": b"",
        "binary": b"\xff\x00\xfe\x01garbage",
    }
    return [blobs[k] for k, _ in _MIME_EXPECT]


def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type sniffing at corpus scale: every document carries
    one of 25 real payloads (doc_id arithmetic picks the variant), the
    JVM magic-byte cascade types each row, and the zip + CFB slivers
    resolve their subtypes through the Arrow kernels (.docx vs .doc vs
    bare CFB all land differently).  Output: per-variant verdict
    counts.  The oracle states the expected verdict matrix as literals
    and recomputes the counts from doc_id arithmetic."""
    from machine_readability_checker_spark.operators.mimetype import (
        sniff_mime,
    )

    n = len(_MIME_EXPECT)
    payloads = F.array(
        *[F.lit(bytearray(b)) for b in _mime_payloads()]
    )
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % n).cast("int").alias("variant"),
        F.element_at(payloads, (F.col("doc_id") % n + 1).cast("int")).alias(
            "content"
        ),
    )
    out = sniff_mime(docs, "content")
    return (
        out.groupBy("variant", "mime")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant")
    )


def _mime_oracle_sql() -> str:
    n = len(_MIME_EXPECT)
    vals = ",\n      ".join(
        f"({v}, {_sql_str(mime)})"
        for v, (_, mime) in enumerate(_MIME_EXPECT)
    )
    return f"""
    WITH counts AS (
      SELECT CAST(doc_id % {n} AS INTEGER) AS variant, COUNT(*) AS n_docs
      FROM documents GROUP BY 1
    ), expect(variant, mime) AS (VALUES
      {vals}
    )
    SELECT e.variant, e.mime, c.n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY e.variant
    """


def q_image_dhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection with hand-derivable geometry: each doc
    gets a REAL image (PNG for even doc_ids, BMP for odd) whose 64-bit
    dHash is FORCED by the inverse construction
    (``imagehash.dhash_target_image``) to encode group ``g = doc_id//2
    mod 65536`` — each of g's 16 bits spread over 4 hash positions, so
    distinct groups sit at Hamming ≥ 4 while the odd member flips
    exactly one bit (Hamming 1 from its even twin).  The banded
    Hamming join (max 2) must therefore find exactly the within-group
    pairs; the oracle recomputes the pair counts from doc_id
    arithmetic alone — decoding, hashing and banding all have to be
    right for the counts to land."""
    from machine_readability_checker_spark.operators.imagehash import (
        image_near_dups,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        from machine_readability_checker_spark.core.bmp import encode_bmp
        from machine_readability_checker_spark.core.png import encode_png
        from machine_readability_checker_spark.operators.imagehash import (
            dhash_target_image,
        )

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                g = (did // 2) % 65536
                h = 0
                for i in range(64):
                    if (g >> (i % 16)) & 1:
                        h |= 1 << i
                if did % 2:
                    h ^= 1  # the odd twin: exactly one flipped bit
                px = dhash_target_image(h).tobytes()
                enc = encode_png if did % 2 == 0 else encode_bmp
                blobs.append(enc(9, 8, 1, px))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": blobs}
            )

    imgs = _fan(spark, docs).mapInPandas(build, schema="doc_id long, content binary")
    pairs = image_near_dups(
        imgs, content_col="content", id_col="doc_id", max_hamming=2
    )
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


def q_video_fold_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection with the same hand-derivable geometry
    as ``image_dhash_dups``: each doc gets a REAL 3-frame animated GIF
    whose frame dHashes are forced by the inverse construction, so the
    majority fold is computable by hand — group g's even member folds
    to H(g) (2-of-3 vote absorbs one perturbed frame), the odd member
    to H(g) with one flipped bit.  Animation decode (disposal
    compositing), per-frame hashing, the majority fold and the banded
    pairing all have to be right for the arithmetic oracle to land."""
    from machine_readability_checker_spark.operators.imagehash import (
        hamming_band_pairs,
    )
    from machine_readability_checker_spark.operators.mediahash import (
        media_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import numpy as np
        import pandas as pd

        from machine_readability_checker_spark.core.gif import (
            encode_gif_animation,
        )
        from machine_readability_checker_spark.operators.imagehash import (
            dhash_target_image,
        )

        def frame(h):
            gray = dhash_target_image(h)
            rgb = np.repeat(gray.reshape(8, 9, 1), 3, axis=2)
            return {"left": 0, "top": 0, "w": 9, "h": 8,
                    "rgb": rgb.tobytes()}

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                g = (did // 2) % 65536
                h = 0
                for i in range(64):
                    if (g >> (i % 16)) & 1:
                        h |= 1 << i
                if did % 2:
                    h ^= 1
                # majority 2-of-3 absorbs the third, perturbed frame
                blobs.append(
                    encode_gif_animation(
                        9, 8, [frame(h), frame(h), frame(h ^ 0b110)]
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": blobs,
                 "media_type": "video"}
            )

    vids = _fan(spark, docs).mapInPandas(
        build, schema="doc_id long, content binary, media_type string"
    )
    hashed = media_fingerprints(vids).select("doc_id", "fingerprint")
    pairs = hamming_band_pairs(hashed, "doc_id", "fingerprint", max_hamming=2)
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


_IMAGE_DHASH_SQL = """
    WITH m AS (
      SELECT doc_id, (doc_id // 2) % 65536 AS gm, doc_id % 2 AS par
      FROM documents
    )
    SELECT CAST(CASE WHEN a.par = b.par THEN 0 ELSE 1 END AS INTEGER)
             AS hamming,
           COUNT(*) AS n_pairs
    FROM m a JOIN m b ON a.gm = b.gm AND a.doc_id < b.doc_id
    GROUP BY 1 ORDER BY 1
"""


def q_exif_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF scan + scrub round-trip with an arithmetic oracle: each doc
    gets a REAL baseline JPEG carrying an EXIF APP1 built from doc_id
    arithmetic (byte order alternates II/MM by parity; every 7th doc
    has no EXIF; every 3rd EXIF doc carries integer-degree GPS, which
    the D/M/S rational encoding round-trips exactly).  The lane scans
    the store, scrubs it with ``strip_metadata``, re-scans, and returns
    per-doc rows — parse, DMS math, both byte orders, segment removal
    and pixel-preserving re-assembly all have to be right for the
    doc_id-arithmetic oracle to land."""
    from machine_readability_checker_spark.operators.exifscan import (
        scan_exif,
        strip_metadata,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )

    def build(batches):
        import numpy as np
        import pandas as pd

        from machine_readability_checker_spark.core.exif import (
            build_exif_app1,
            insert_app1,
        )
        from machine_readability_checker_spark.core.jpeg import encode_jpeg

        px = np.clip(np.mgrid[0:8, 0:8].sum(0) * 16, 0, 255).astype(
            np.uint8
        )
        base = encode_jpeg(8, 8, 1, px.tobytes(), quality=90)
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 7 == 6:
                    blobs.append(base)
                    continue
                gps = (
                    (float((did % 91) - 45), float((did % 181) - 90))
                    if did % 3 == 0
                    else None
                )
                app1 = build_exif_app1(
                    make=f"Cam{did % 5}",
                    orientation=(did % 8) + 1,
                    gps=gps,
                    byte_order="II" if did % 2 == 0 else "MM",
                )
                blobs.append(insert_app1(base, app1))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    media = _fan(spark, docs).mapInPandas(build, schema="doc_id long, content binary")
    scanned = scan_exif(media)
    rescan = scan_exif(
        strip_metadata(media), id_cols=("doc_id", "bytes_removed")
    ).select(
        "doc_id",
        F.col("has_exif").alias("still_has_exif"),
        (F.col("bytes_removed") > 0).alias("scrub_removed"),
    )
    return (
        scanned.join(rescan, "doc_id")
        .select(
            "doc_id",
            "has_exif",
            "make",
            "orientation",
            "has_gps",
            "gps_lat",
            "gps_lon",
            (~F.col("still_has_exif")).alias("stripped_clean"),
            "scrub_removed",
        )
        .orderBy("doc_id")
    )


def q_auto_orient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF auto-orientation: each doc gets a REAL 16×8 JPEG whose
    orientation tag cycles 1..8 by doc_id; the operator must read the
    tag, apply the right transform, and re-encode — the oracle pins
    the tag value and the output geometry (orientations 5–8 swap the
    axes) from doc_id arithmetic alone.  Pixel-level transform
    correctness is pinned exactly in pytest (hand-derived matrices
    for all eight tags); the lane pins the distributed plumbing plus
    the decode → transform → re-encode → re-decode round trip."""
    from machine_readability_checker_spark.operators.multimodal import (
        auto_orient_images,
        extract_media_features,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )

    def build(batches):
        import numpy as np
        import pandas as pd

        from machine_readability_checker_spark.core.exif import (
            build_exif_app1,
            insert_app1,
        )
        from machine_readability_checker_spark.core.jpeg import encode_jpeg

        px = np.clip(
            np.mgrid[0:8, 0:16][0] * 16 + np.mgrid[0:8, 0:16][1] * 4,
            0, 255,
        ).astype(np.uint8)
        base = encode_jpeg(16, 8, 1, px.tobytes(), quality=90)
        for pdf in batches:
            blobs = [
                insert_app1(
                    base,
                    build_exif_app1(orientation=(int(did) % 8) + 1),
                )
                for did in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media_ref": "m",
                 "content": blobs}
            )

    media = _fan(spark, docs).mapInPandas(
        build, schema="doc_id long, media_ref string, content binary"
    )
    oriented = auto_orient_images(media)
    # second decode pass proves the re-encoded bytes are a valid image
    # of the transformed geometry
    feats = extract_media_features(
        oriented.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "media_ref",
            "content",
        )
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("width").alias("re_width"),
        F.col("height").alias("re_height"),
    )
    return (
        oriented.select("doc_id", "orientation", "width", "height")
        .join(feats, "doc_id")
        .orderBy("doc_id")
    )


_AUTO_ORIENT_SQL = """
    SELECT doc_id,
           CAST((doc_id % 8) + 1 AS INTEGER) AS orientation,
           CAST(CASE WHEN (doc_id % 8) + 1 >= 5 THEN 8 ELSE 16 END
                AS INTEGER) AS width,
           CAST(CASE WHEN (doc_id % 8) + 1 >= 5 THEN 16 ELSE 8 END
                AS INTEGER) AS height,
           CAST(CASE WHEN (doc_id % 8) + 1 >= 5 THEN 8 ELSE 16 END
                AS INTEGER) AS re_width,
           CAST(CASE WHEN (doc_id % 8) + 1 >= 5 THEN 16 ELSE 8 END
                AS INTEGER) AS re_height
    FROM documents
    ORDER BY doc_id
"""


_EXIF_SCAN_SQL = """
    SELECT doc_id,
           (doc_id % 7) <> 6 AS has_exif,
           CASE WHEN doc_id % 7 <> 6
                THEN 'Cam' || CAST(doc_id % 5 AS VARCHAR) END AS make,
           CASE WHEN doc_id % 7 <> 6
                THEN CAST((doc_id % 8) + 1 AS INTEGER) END AS orientation,
           (doc_id % 7) <> 6 AND doc_id % 3 = 0 AS has_gps,
           CASE WHEN doc_id % 7 <> 6 AND doc_id % 3 = 0
                THEN CAST((doc_id % 91) - 45 AS DOUBLE) END AS gps_lat,
           CASE WHEN doc_id % 7 <> 6 AND doc_id % 3 = 0
                THEN CAST((doc_id % 181) - 90 AS DOUBLE) END AS gps_lon,
           TRUE AS stripped_clean,
           (doc_id % 7) <> 6 AS scrub_removed
    FROM documents
    ORDER BY doc_id
"""


def q_unigram_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) Viterbi segmentation under a
    fixed literal model: four word inputs with hand-derivable best
    segmentations (multi-piece decomposition, repeated piece, OOV
    fallback to single characters, mixed) assigned by doc_id
    arithmetic.  The oracle states each variant's segmentation as a
    literal — lattice scoring, the OOV surrogate and piece
    concatenation all have to be right.  EM training itself is pinned
    in pytest against brute-force segmentation enumeration
    (tests/test_unigram.py)."""
    from machine_readability_checker_spark.operators.unigram import (
        unigram_encode,
    )

    model = dict(
        {c: -8.0 for c in "abcdefghijklmnopqrstuvwxyz"},
        **{"un": -2.0, "related": -3.0, "data": -4.0},
    )
    texts = F.array(
        F.lit("unrelated data"),
        F.lit("data xyz"),
        F.lit("datadata"),
        F.lit("un un data"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.element_at(texts, (F.col("doc_id") % 4 + 1).cast("int")).alias(
            "text"
        ),
    )
    out = unigram_encode(docs, model)
    return out.select(
        "doc_id", F.array_join("pieces", " ").alias("segmentation")
    ).orderBy("doc_id")


_UNIGRAM_SQL = """
    WITH expect(variant, segmentation) AS (VALUES
      (0, 'un related data'),
      (1, 'data x y z'),
      (2, 'data data'),
      (3, 'un un data')
    )
    SELECT d.doc_id, e.segmentation
    FROM documents d JOIN expect e ON e.variant = d.doc_id % 4
    ORDER BY d.doc_id
"""


def q_structured_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema.org harvest: each doc gets a REAL HTML page ASSEMBLED
    with JVM expressions carrying one JSON-LD Product (name/sku/price
    from doc_id arithmetic) and one microdata Person block (name from
    text content, url from href, age from meta content), parsed back
    through the stdlib JSON-LD + microdata kernel.  The oracle
    regenerates all six property rows per doc arithmetically — script
    extraction, JSON flattening, itemscope scoping, every microdata
    value-attribute rule and the document-order property indices all
    have to be right for the rows to land."""
    from machine_readability_checker_spark.operators.structdata import (
        structured_data,
    )

    i = F.col("doc_id")
    html = F.concat(
        F.lit(
            '<html><head><script type="application/ld+json">'
            '{"@type":"Product","name":"Widget '
        ),
        i.cast("string"),
        F.lit('","sku":"SKU-'),
        (i % 97).cast("string"),
        F.lit('","price":'),
        ((i % 50) + 1).cast("string"),
        F.lit(
            "}</script></head><body>"
            '<div itemscope itemtype="https://schema.org/Person">'
            '<span itemprop="name">User '
        ),
        (i % 13).cast("string"),
        F.lit('</span><a itemprop="url" href="https://ex.com/u/'),
        (i % 13).cast("string"),
        F.lit('">profile</a><meta itemprop="age" content="'),
        ((i % 60) + 18).cast("string"),
        F.lit('"></div></body></html>'),
    )
    pages = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(None).cast("string").alias("url"),
        F.encode(html, "UTF-8").alias("content"),
    )
    return (
        structured_data(pages)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "item_id", "prop_idx", "format", "item_type", "prop",
            "value",
        )
        .orderBy("doc_id", "item_id", "prop_idx")
    )


_STRUCT_DATA_SQL = """
    SELECT d.doc_id,
           CAST(p.item_id AS INTEGER) AS item_id,
           CAST(p.prop_idx AS INTEGER) AS prop_idx,
           p.format, p.item_type, p.prop,
           CASE p.prop
             WHEN 'name'  THEN CASE p.format
                                 WHEN 'jsonld' THEN 'Widget ' || d.doc_id
                                 ELSE 'User ' || (d.doc_id % 13) END
             WHEN 'sku'   THEN 'SKU-' || (d.doc_id % 97)
             WHEN 'price' THEN CAST((d.doc_id % 50) + 1 AS VARCHAR)
             WHEN 'url'   THEN 'https://ex.com/u/' || (d.doc_id % 13)
             WHEN 'age'   THEN CAST((d.doc_id % 60) + 18 AS VARCHAR)
           END AS value
    FROM documents d
    CROSS JOIN (VALUES
      (0, 0, 'jsonld', 'Product', 'name'),
      (0, 1, 'jsonld', 'Product', 'sku'),
      (0, 2, 'jsonld', 'Product', 'price'),
      (1, 0, 'microdata', 'https://schema.org/Person', 'name'),
      (1, 1, 'microdata', 'https://schema.org/Person', 'url'),
      (1, 2, 'microdata', 'https://schema.org/Person', 'age')
    ) AS p(item_id, prop_idx, format, item_type, prop)
    ORDER BY d.doc_id, p.item_id, p.prop_idx
"""


# C4 lane line pool — each line's verdict under the battery is
# hand-derived in q_c4_line_filter's docstring; the oracle states the
# resulting per-variant counters as literals.
_C4_L = [
    "This is a good sentence number one.",      # kept
    "short line",                               # no terminal punct
    "Enable javascript to view this page.",     # javascript
    "We use cookies under our privacy policy.", # policy boilerplate
    "Is this not a question worth asking?",     # kept
    "Buy now!",                                 # <3 words
    "The quick brown fox jumps over the dog.",  # kept
]
_C4_VARIANTS = [
    # v0: 5 surviving sentences → page kept
    "\n".join([_C4_L[0], _C4_L[1], _C4_L[2], _C4_L[4], _C4_L[3],
               _C4_L[6], _C4_L[5], _C4_L[0], _C4_L[4]]),
    # v1: curly brace on the page → dropped wholesale
    "\n".join([_C4_L[0], _C4_L[4], _C4_L[6], "if (x) { return; }",
               _C4_L[0], _C4_L[4]]),
    # v2: lorem ipsum on the page → dropped wholesale (the lorem line
    # itself SURVIVES the line filter — the gate is page-level)
    "\n".join([_C4_L[0], _C4_L[4], "Lorem ipsum dolor sit amet.",
               _C4_L[6], _C4_L[0], _C4_L[4]]),
    # v3: only 2 surviving sentences → below the 5-sentence floor
    "\n".join([_C4_L[0], _C4_L[1], _C4_L[4], _C4_L[5], _C4_L[2]]),
]


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line battery (Raffel et al. 2020 §2.2) over four hand-built
    page variants assigned by doc_id arithmetic: terminal-punctuation /
    min-words / javascript / cookie-policy line filters plus the
    lorem-ipsum, curly-brace and 5-sentence page gates.  The oracle
    states each variant's (n_lines, n_kept, n_sentences, keep) matrix
    as hand-derived literals — splitting, every line predicate, the
    rebuild and the page gates all have to be right for the counts to
    land.  The whole lane is JVM codegen (split / higher-order filter /
    array_join / regexp_count): zero Python, zero shuffle."""
    from machine_readability_checker_spark.operators.textstats import (
        with_c4_line_stats,
    )

    texts = F.array(*[F.lit(v) for v in _C4_VARIANTS])
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.element_at(texts, (F.col("doc_id") % 4 + 1).cast("int")).alias(
            "text"
        ),
    )
    out = with_c4_line_stats(docs)
    return out.select(
        "doc_id",
        F.col("c4_n_lines").cast("int").alias("n_lines"),
        F.col("c4_n_kept").cast("int").alias("n_kept"),
        F.col("c4_n_sentences").alias("n_sentences"),
        "c4_keep",
    ).orderBy("doc_id")


_C4_SQL = """
    WITH expect(variant, n_lines, n_kept, n_sentences, c4_keep) AS (
      VALUES (0, 9, 5, 5, TRUE),
             (1, 6, 5, 5, FALSE),
             (2, 6, 6, 6, FALSE),
             (3, 5, 2, 2, FALSE)
    )
    SELECT d.doc_id,
           CAST(e.n_lines AS INTEGER) AS n_lines,
           CAST(e.n_kept AS INTEGER) AS n_kept,
           CAST(e.n_sentences AS INTEGER) AS n_sentences,
           e.c4_keep
    FROM documents d
    JOIN expect e ON e.variant = d.doc_id % 4
    ORDER BY d.doc_id
"""


_BM25_QUERY = "hash join vector"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 over the documents table for a fixed query:
    postings build (one explode + two aggregates) → per-doc score sum →
    TakeOrderedAndProject.  The oracle recomputes BM25 in SQL."""
    from machine_readability_checker_spark.operators.bm25 import (
        bm25_build,
        bm25_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    postings = bm25_build(docs)
    out = bm25_topk(postings, _BM25_QUERY, k=10)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("n_terms_hit").cast("int").alias("n_terms_hit"),
    )


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (lexical) and cosine top-20
    (dense, query = vec 0, ids aligned to doc_ids for the fixture
    pairing) fused with Reciprocal Rank Fusion (Cormack 2009, k=60).
    The oracle recomputes BOTH rankers — full BM25 in SQL plus
    DuckDB's list cosine — and the fusion arithmetic."""
    from machine_readability_checker_spark.operators.bm25 import (
        bm25_build,
        bm25_topk,
    )
    from machine_readability_checker_spark.operators.fusion import (
        ranked_from_ordered,
        rrf_fuse,
    )
    from machine_readability_checker_spark.operators.similarity import (
        brute_force_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings")
    lex = ranked_from_ordered(
        bm25_topk(bm25_build(docs), _BM25_QUERY, k=20).select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "score"
        ),
        [F.desc("score"), "doc_id"],
    )
    qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    dense = ranked_from_ordered(
        brute_force_topk(emb, [float(x) for x in qvec], k=20).select(
            F.col("vec_id").cast("bigint").alias("doc_id"), "cosine"
        ),
        [F.desc("cosine"), "doc_id"],
    )
    fused = rrf_fuse([lex, dense], k=60, top_k=10)
    return fused.select(
        "doc_id",
        F.round("rrf_score", 6).alias("rrf_score"),
        "n_systems",
        "rank",
    )


_BM25_SQL = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
               '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' '),
               x -> x != '') AS t
      FROM documents
    ), posting AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, SUM(tf) AS dl FROM posting GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), q(term) AS (VALUES ('hash'), ('join'), ('vector')),
    df AS (
      SELECT p.term, COUNT(DISTINCT p.doc_id) AS df
      FROM posting p JOIN q ON q.term = p.term GROUP BY p.term
    ), scored AS (
      SELECT p.doc_id,
             SUM(
               ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * p.tf * (1.2 + 1)
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
             ) AS score,
             COUNT(*) AS hits
      FROM posting p
      JOIN q ON q.term = p.term
      JOIN df ON df.term = p.term
      JOIN dl ON dl.doc_id = p.doc_id
      CROSS JOIN stats s
      GROUP BY p.doc_id
    )
    SELECT doc_id, ROUND(score, 6) AS score,
           CAST(hits AS INTEGER) AS n_terms_hit
    FROM scored ORDER BY score DESC, doc_id LIMIT 10
"""


_HYBRID_RRF_SQL = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
               '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' '),
               x -> x != '') AS t
      FROM documents
    ), posting AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, SUM(tf) AS dl FROM posting GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), q(term) AS (VALUES ('hash'), ('join'), ('vector')),
    df AS (
      SELECT p.term, COUNT(DISTINCT p.doc_id) AS df
      FROM posting p JOIN q ON q.term = p.term GROUP BY p.term
    ), scored AS (
      SELECT p.doc_id,
             SUM(
               ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * p.tf * (1.2 + 1)
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM posting p
      JOIN q ON q.term = p.term
      JOIN df ON df.term = p.term
      JOIN dl ON dl.doc_id = p.doc_id
      CROSS JOIN stats s
      GROUP BY p.doc_id
    ), lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS r
      FROM scored ORDER BY score DESC, doc_id LIMIT 20
    ), qv AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id = 0
    ), dense AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), qv.v) DESC, vec_id) AS r
      FROM embeddings e, qv
      ORDER BY list_cosine_similarity(
        CAST(e.embedding AS DOUBLE[]), qv.v) DESC, vec_id
      LIMIT 20
    ), u AS (
      SELECT doc_id, r FROM lex UNION ALL SELECT doc_id, r FROM dense
    ), fused AS (
      SELECT doc_id, SUM(1.0 / (60 + r)) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_systems
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, round(s, 6) AS rrf_score, n_systems,
           CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INTEGER)
             AS rank
    FROM fused ORDER BY s DESC, doc_id LIMIT 10
"""


_MD_VARIANT_DOCS = [
    (
        "# Widget Library\n\n"
        "Converts *markdown* to [spans](http://ex.example/spec) quickly.\n\n"
        "## Install\n\n"
        "- step one\n"
        "- step two\n\n"
        "```\n"
        "pip install widget\n"
        "```\n\n"
        "![arch diagram](img/arch.png)\n"
    ),
    (
        "Release Notes\n"
        "=============\n\n"
        "Fixes in v2\n"
        "-----------\n\n"
        "> quoted remark\n"
        "> spans lines\n\n"
        "See <https://docs.example/notes> and `inline code`.\n\n"
        "[spec]: https://spec.example\n"
    ),
    (
        "## Data\n\n"
        "| name | qty |\n"
        "|------|----:|\n"
        "| ore  | 10  |\n"
        "| coal | 20 |\n\n"
        "Tail paragraph.\n"
    ),
]

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_markdown.py over the same bytes)
_MD_VARIANT_SPANS = [
    [
        ("title", "Widget Library", ""),
        ("main", "Converts markdown to spans quickly.", ""),
        ("heading", "Install", ""),
        ("main", "step one", ""),
        ("main", "step two", ""),
        ("code", "pip install widget", ""),
        ("media", "arch diagram", "img/arch.png"),
    ],
    [
        ("title", "Release Notes", ""),
        ("heading", "Fixes in v2", ""),
        ("main", "quoted remark spans lines", ""),
        ("main", "See https://docs.example/notes and inline code.", ""),
    ],
    [
        ("title", "Data", ""),
        ("main", "name", ""),
        ("main", "qty", ""),
        ("main", "ore", ""),
        ("main", "10", ""),
        ("main", "coal", ""),
        ("main", "20", ""),
        ("main", "Tail paragraph.", ""),
    ],
]


def _ipynb_variant_docs():
    """Three fixed nbformat-4 notebooks covering the lane's dispatch
    matrix: markdown-title + execute_result + display_data image (v0);
    raw-cell skip + ANSI error traceback + post-code heading demotion
    (v1); list-form sources, GFM table in a markdown cell, attachment
    image, stream output without trailing newline (v2)."""
    import json as _json

    v0 = {
        "nbformat": 4, "nbformat_minor": 5, "metadata": {},
        "cells": [
            {"cell_type": "markdown", "metadata": {},
             "source": "# Analysis Report\n\nLoads *data* and plots it."},
            {"cell_type": "code", "metadata": {}, "execution_count": 1,
             "source": "import numpy as np\nnp.arange(3).sum()",
             "outputs": [
                 {"output_type": "execute_result", "execution_count": 1,
                  "metadata": {}, "data": {"text/plain": "3"}},
             ]},
            {"cell_type": "code", "metadata": {}, "execution_count": 2,
             "source": "plot()",
             "outputs": [
                 {"output_type": "display_data", "metadata": {},
                  "data": {"image/png": "iVBORw0KGgo=",
                           "text/plain": "<Figure 1x1>"}},
             ]},
        ],
    }
    v1 = {
        "nbformat": 4, "nbformat_minor": 5, "metadata": {},
        "cells": [
            {"cell_type": "raw", "metadata": {}, "source": "::latex::"},
            {"cell_type": "code", "metadata": {}, "execution_count": 1,
             "source": "x = 1/0",
             "outputs": [
                 {"output_type": "error", "ename": "ZeroDivisionError",
                  "evalue": "division by zero",
                  "traceback": [
                      "\x1b[0;31mZeroDivisionError\x1b[0m: "
                      "division by zero"
                  ]},
             ]},
            {"cell_type": "markdown", "metadata": {},
             "source": "# Postmortem\n\nWhat failed."},
        ],
    }
    v2 = {
        "nbformat": 4, "nbformat_minor": 5, "metadata": {},
        "cells": [
            {"cell_type": "markdown", "metadata": {},
             "source": ["# Results\n", "\n", "| run | score |\n",
                        "|-----|------:|\n", "| a | 1 |\n", "\n",
                        "![trend](attachment:trend.png)\n"]},
            {"cell_type": "code", "metadata": {}, "execution_count": 1,
             "source": ["print('done')"],
             "outputs": [
                 {"output_type": "stream", "name": "stderr",
                  "text": "done"},
             ]},
        ],
    }
    return [_json.dumps(v) for v in (v0, v1, v2)]


_IPYNB_VARIANT_DOCS = _ipynb_variant_docs()

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_ipynb.py over the same bytes)
_IPYNB_VARIANT_SPANS = [
    [
        ("title", "Analysis Report", ""),
        ("main", "Loads data and plots it.", ""),
        ("code", "import numpy as np\nnp.arange(3).sum()", ""),
        ("output", "3", ""),
        ("code", "plot()", ""),
        ("media", "<Figure 1x1>", "output:cell2/out0.png"),
    ],
    [
        ("code", "x = 1/0", ""),
        ("output",
         "ZeroDivisionError: division by zero\n"
         "ZeroDivisionError: division by zero", ""),
        ("heading", "Postmortem", ""),
        ("main", "What failed.", ""),
    ],
    [
        ("title", "Results", ""),
        ("main", "run", ""),
        ("main", "score", ""),
        ("main", "a", ""),
        ("main", "1", ""),
        ("media", "trend", "attachment:trend.png"),
        ("code", "print('done')", ""),
        ("output", "done", ""),
    ],
]


_SUBTITLE_VARIANT_DOCS = [
    (
        "srt",
        "1\n00:00:01,000 --> 00:00:02,500\n<i>hello</i> world\n\n"
        "2\n00:00:03,000 --> 00:00:04,000\nsecond cue\nline two\n",
    ),
    (
        "vtt",
        "WEBVTT\n\n"
        "NOTE fixture comment\n\n"
        "intro\n00:05.000 --> 00:07.250 align:start\n"
        "<v Narrator>short form</v>\n\n"
        "01:00:00.000 --> 01:00:01.500\n<c.yellow>tail &amp; end</c>\n",
    ),
    (
        "srt",
        "﻿00:00:10,000 --> 00:00:11,000\nlater\n\n"
        "00:00:01,500 --> 00:00:02,000\n{\\an8}earlier\n",
    ),
]

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_subtitles.py over the same bytes)
_SUBTITLE_VARIANT_SPANS = [
    [
        ("caption", "hello world", "t=1000-2500"),
        ("caption", "second cue\nline two", "t=3000-4000"),
    ],
    [
        ("caption", "short form", "t=5000-7250"),
        ("caption", "tail & end", "t=3600000-3601500"),
    ],
    [
        ("caption", "later", "t=10000-11000"),
        ("caption", "earlier", "t=1500-2000"),
    ],
]


def q_transcript_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript chunking end-to-end: render a deterministic 4-cue SRT
    per document (cue j starts at (doc_id%5)*700 + j*9000 ms — the
    third cue straddles the 20 s window boundary depending on
    doc_id%5), parse it through the REAL subtitle lane, then bucket
    with ``transcript_windows`` (one hash aggregate, in-aggregate
    ordering).  doc_id%35 fully determines a document's cue pattern,
    so results aggregate to the 35 variants; the DuckDB oracle
    reconstructs the cues arithmetically and applies the same window
    aggregation in SQL."""
    from machine_readability_checker_spark.operators.transcripts import (
        transcript_windows,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        from machine_readability_checker_spark.core.extract import (
            extract_document,
        )

        def srt_ts(ms):
            s, ms2 = divmod(ms, 1000)
            m, s = divmod(s, 60)
            h, m = divmod(m, 60)
            return f"{h:02d}:{m:02d}:{s:02d},{ms2:03d}"

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                parts = []
                for j in range(4):
                    a = (did % 5) * 700 + j * 9000
                    b = a + 1200 + (did % 3) * 100
                    parts.append(
                        f"{j + 1}\n{srt_ts(a)} --> {srt_ts(b)}\n"
                        f"w{did % 7} c{j}"
                    )
                out = extract_document(
                    str(did), "srt", "\n\n".join(parts).encode("utf-8")
                )
                rows.append((str(did), out["spans"]))
            yield _pd.DataFrame(rows, columns=["doc_id", "spans"])

    from machine_readability_checker_spark.model import SPANS_SCHEMA

    spans_df = _fan(spark, docs).mapInPandas(kernel, schema=SPANS_SCHEMA)
    win = transcript_windows(spans_df, window_ms=20_000)
    return (
        win.withColumn(
            "variant", F.col("doc_id").cast("long") % F.lit(35)
        )
        .groupBy("variant", "window_id", "t_start_ms", "t_end_ms",
                 "n_cues", "text")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant", "window_id")
    )


_TRANSCRIPT_WINDOWS_SQL = """
    WITH j(j) AS (VALUES (0), (1), (2), (3)),
    cues AS (
      SELECT d.doc_id,
             d.doc_id % 35 AS variant,
             (d.doc_id % 5) * 700 + j.j * 9000 AS start_ms,
             (d.doc_id % 5) * 700 + j.j * 9000
               + 1200 + (d.doc_id % 3) * 100 AS end_ms,
             'w' || CAST(d.doc_id % 7 AS VARCHAR) || ' c'
               || CAST(j.j AS VARCHAR) AS text,
             j.j AS cue_idx
      FROM documents d CROSS JOIN j
    ),
    win AS (
      SELECT doc_id, variant,
             CAST(FLOOR(start_ms / 20000.0) AS BIGINT) AS window_id,
             MIN(start_ms) AS t_start_ms,
             MAX(end_ms) AS t_end_ms,
             CAST(COUNT(*) AS INTEGER) AS n_cues,
             STRING_AGG(text, chr(10) ORDER BY cue_idx) AS text
      FROM cues
      GROUP BY doc_id, variant, CAST(FLOOR(start_ms / 20000.0) AS BIGINT)
    )
    SELECT CAST(variant AS BIGINT) AS variant, window_id,
           CAST(t_start_ms AS BIGINT) AS t_start_ms,
           CAST(t_end_ms AS BIGINT) AS t_end_ms, n_cues, text,
           COUNT(*) AS n_docs
    FROM win
    GROUP BY variant, window_id, t_start_ms, t_end_ms, n_cues, text
    ORDER BY variant, window_id
"""


_LATEX_VARIANT_DOCS = [
    (
        "\\documentclass{article}\n"
        "\\title{Span Extraction\\thanks{grant}}\n"
        "\\begin{document}\n\\maketitle\n"
        "\\begin{abstract}\nWe extract 100\\% of spans --- reliably.\n"
        "\\end{abstract}\n"
        "\\section{Method}\n"
        "Bold \\textbf{claims} need \\emph{proof} (see \\cite{k}) "
        "and $x<y$.\n"
        "\\begin{equation}\ne^{i\\pi} + 1 = 0\n\\end{equation}\n"
        "\\end{document}\n"
    ),
    (
        "\\section{Results}\n"
        "Numbers\\footnote{computed twice} hold.\n"
        "\\begin{itemize}\n\\item alpha wins\n"
        "\\item beta \\texttt{loses}\n\\end{itemize}\n"
        "\\begin{verbatim}\nx = 1 % literal\n\\end{verbatim}\n"
        "$$a = b$$\n\nTail text.\n"
    ),
    (
        "\\title{Figures}\n\\begin{document}\n"
        "\\begin{figure}\n\\includegraphics[width=5cm]{img/f1.png}\n"
        "\\caption{A \\emph{plot}}\n\\end{figure}\n"
        "\\begin{table}\n\\begin{tabular}{lr}\nk & v \\\\\na & 1 \\\\\n"
        "\\end{tabular}\n\\caption{Pairs}\n\\end{table}\n"
        "\\end{document}\n"
    ),
]

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_latex.py over the same bytes)
_LATEX_VARIANT_SPANS = [
    [
        ("title", "Span Extraction", ""),
        ("main", "We extract 100% of spans — reliably.", ""),
        ("heading", "Method", ""),
        ("main", "Bold claims need proof (see) and $x<y$.", ""),
        ("math", "e^{i\\pi} + 1 = 0", ""),
    ],
    [
        ("heading", "Results", ""),
        ("main", "Numbers (computed twice) hold.", ""),
        ("main", "alpha wins", ""),
        ("main", "beta loses", ""),
        ("code", "x = 1 % literal", ""),
        ("math", "a = b", ""),
        ("main", "Tail text.", ""),
    ],
    [
        ("title", "Figures", ""),
        ("media", "", "img/f1.png"),
        ("caption", "A plot", "img/f1.png"),
        ("main", "k", ""),
        ("main", "v", ""),
        ("main", "a", ""),
        ("main", "1", ""),
        ("caption", "Pairs", ""),
    ],
]


def _doc_variant_docs():
    """Three fixed Word-97 binary documents covering the .doc lane's
    dispatch matrix: heading istd → title + a real table with TTP rows
    + an inline object anchor (v0); mid-word piece split + a hyperlink
    field whose code must vanish + a late heading + a UTF-16LE piece
    (v1); the 0Table stream selector + a nested field + footnote and
    header regions (v2)."""
    from machine_readability_checker_spark.core.doc import write_doc

    long0 = "Revenue grew across all regions during the period under review."
    long2 = "Closing summary paragraph with more than enough characters."
    v0 = write_doc([
        ("heading", 1, "Quarterly Review"),
        ("para", long0),
        ("table", [["region", "total"], ["north", "10"]]),
        ("media",),
    ])
    v1 = write_doc([
        ("para", "short"),
        ("field", 'HYPERLINK "http://example.com/a"',
         "visible anchor text result here ok"),
        ("heading", 2, "Appendix"),
        ("para", "日本語の本文確認テキスト"),
    ], piece_split=6)
    v2 = write_doc([
        ("para", long2),
        ("media",),
        ("field", "IF \x13DATE\x14x\x15 a b", "result kept"),
        ("ftn", "cite 42"),
        ("hdd", "header strip"),
    ], table_stream="0Table")
    return [v0, v1, v2]


_DOC_VARIANT_DOCS = _doc_variant_docs()

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_doc_word.py over the same writer)
_DOC_VARIANT_SPANS = [
    [
        ("title", "Quarterly Review", ""),
        ("main",
         "Revenue grew across all regions during the period under review.",
         ""),
        ("line", "region\ttotal", ""),
        ("line", "north\t10", ""),
        ("media", "", "embedded:obj0"),
    ],
    [
        ("boilerplate", "short", ""),
        ("main", "visible anchor text result here ok", ""),
        ("heading", "Appendix", ""),
        ("boilerplate", "日本語の本文確認テキスト", ""),
    ],
    [
        ("main",
         "Closing summary paragraph with more than enough characters.", ""),
        ("media", "", "embedded:obj0"),
        ("boilerplate", "result kept", ""),
        ("boilerplate", "cite 42", ""),
        ("boilerplate", "header strip", ""),
    ],
]


_WIKI_VARIANT_DOCS = [
    # v0: full article — template strip, bold lead + piped link + ref
    # strip, section heading, image caption → media, category drop
    (
        "= Springfield =\n\n"
        "{{Infobox settlement\n| name = Springfield\n"
        "| pop = {{formatnum:30000}}\n}}\n"
        "'''Springfield''' is a [[city]] in the [[United States|US]]."
        "<ref>Census 2020</ref> It has a long recorded history.\n\n"
        "== History ==\n"
        "The town was founded in 1820 by settlers and grew quickly.\n\n"
        "[[File:Skyline.jpg|thumb|right|250px|Downtown at dusk]]\n"
        "[[Category:Cities]]\n"
    ),
    # v1: redirect page
    "#REDIRECT [[Springfield]]\n",
    # v2: math + code blocks, list items, external links, nowiki,
    # magic word, heading promotion only for the LEADING heading
    (
        "= Equations =\n\n"
        "__NOTOC__\n"
        "<math>E = mc^2</math>\n\n"
        "<syntaxhighlight lang=\"python\">print(42)</syntaxhighlight>\n\n"
        "* alpha item\n"
        "* beta item\n\n"
        "== Links ==\n"
        "See [https://example.com the site] for more details on this.\n\n"
        "<nowiki>''literal''</nowiki> stays untouched in this sentence.\n"
    ),
]

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_wikitext.py over the same bytes)
_WIKI_VARIANT_SPANS = [
    [
        ("title", "Springfield", ""),
        ("main",
         "Springfield is a city in the US. It has a long recorded "
         "history.", ""),
        ("heading", "History", ""),
        ("main",
         "The town was founded in 1820 by settlers and grew quickly.",
         ""),
        ("media", "Downtown at dusk", "File:Skyline.jpg"),
    ],
    [
        ("boilerplate", "#REDIRECT Springfield", ""),
    ],
    [
        ("title", "Equations", ""),
        ("math", "E = mc^2", ""),
        ("code", "print(42)", ""),
        ("boilerplate", "alpha item", ""),
        ("boilerplate", "beta item", ""),
        ("heading", "Links", ""),
        ("main", "See the site for more details on this.", ""),
        ("main", "''literal'' stays untouched in this sentence.", ""),
    ],
]


def _hocr_variant_docs():
    """Three fixed hOCR scans covering the lane's dispatch matrix:
    header→title promotion + photo-region media ref + caption (v0);
    entity-escaped words + a second page whose image name feeds the
    media ref (v1); a line outside any paragraph + bare (unwrapped)
    text inside a line (v2)."""
    from machine_readability_checker_spark.core.hocr import write_hocr

    v0 = write_hocr([{
        "image": "scan_p1.png",
        "blocks": [
            ("heading", "Chapter One", (100, 80, 2300, 160), [96, 97]),
            ("para",
             "The quick brown fox jumps over the lazy dog near town.",
             (100, 200, 2300, 400), [95] * 11),
            ("photo", None, (100, 500, 1200, 1400), []),
            ("caption", "Figure 1: a fox", (100, 1420, 1200, 1470),
             [92, 90, 85, 88]),
        ],
    }])
    v1 = write_hocr([
        {"image": "a.png", "blocks": [
            ("para", "Profit & loss <summary> follows below the fold.",
             (10, 10, 500, 40), [90] * 8),
        ]},
        {"image": "b.png", "blocks": [
            ("photo", None, (5, 5, 50, 50), []),
            ("para", "tiny", (10, 60, 90, 80), [40]),
        ]},
    ])
    v2 = (
        "<html><body><div class='ocr_page' "
        "title='image \"c.png\"; bbox 0 0 100 100'>"
        "<span class='ocr_line' title='bbox 1 1 99 20'>"
        "orphan line with bare unwrapped words standing alone here"
        "</span></div></body></html>"
    ).encode()
    return [v0, v1, v2]


_HOCR_VARIANT_DOCS = _hocr_variant_docs()

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_hocr.py over the same writer)
_HOCR_VARIANT_SPANS = [
    [
        ("title", "Chapter One", ""),
        ("main",
         "The quick brown fox jumps over the lazy dog near town.", ""),
        ("media", "", "scan_p1.png#bbox(100,500,1200,1400)"),
        ("caption", "Figure 1: a fox", ""),
    ],
    [
        ("main", "Profit & loss <summary> follows below the fold.", ""),
        ("media", "", "b.png#bbox(5,5,50,50)"),
        ("boilerplate", "tiny", ""),
    ],
    [
        ("main",
         "orphan line with bare unwrapped words standing alone here",
         ""),
    ],
]


def q_ocr_conf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR confidence signals with hand-derivable arithmetic: each doc
    gets a one-page hOCR whose 4 word confidences are FORCED to
    ``50 + (doc_id + 7j) % 50`` (j = word index), so the per-doc mean
    confidence and low-confidence fraction (threshold 60) depend only
    on ``doc_id % 50`` — the oracle recomputes both from pure
    arithmetic while the hOCR writer, parser and the stats kernel all
    have to be right for the 50 groups to land."""
    from machine_readability_checker_spark.operators.ocrstats import (
        ocr_conf_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        from machine_readability_checker_spark.core.hocr import write_hocr

        for pdf in batches:
            ids, blobs = [], []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                confs = [50 + (did + 7 * j) % 50 for j in range(4)]
                ids.append(str(did))
                blobs.append(write_hocr([{
                    "image": "s.png",
                    "blocks": [("para", "w0 w1 w2 w3",
                                (0, 0, 10, 10), confs)],
                }]))
            yield _pd.DataFrame({"doc_id": ids, "content": blobs})

    pages = _fan(spark, docs).mapInPandas(kernel, schema="doc_id string, content binary")
    stats = ocr_conf_stats(pages, low_conf=60.0)
    return (
        stats.withColumn("m", F.col("doc_id").cast("long") % 50)
        .groupBy("m", "n_pages", "n_words", "mean_conf", "frac_low")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("m")
    )


def _ocr_conf_stats_oracle_sql() -> str:
    return """
    WITH counts AS (
      SELECT doc_id % 50 AS m, COUNT(*) AS n_docs
      FROM documents GROUP BY 1
    ), expect AS (
      SELECT g.m,
             AVG(CAST(50 + (g.m + 7 * j.j) % 50 AS DOUBLE)) AS mean_conf,
             AVG(CASE WHEN 50 + (g.m + 7 * j.j) % 50 < 60
                 THEN 1.0 ELSE 0.0 END) AS frac_low
      FROM (SELECT UNNEST(RANGE(50)) AS m) g,
           (SELECT UNNEST(RANGE(4)) AS j) j
      GROUP BY g.m
    )
    SELECT c.m, 1 AS n_pages, 4 AS n_words,
           e.mean_conf, e.frac_low, c.n_docs
    FROM counts c JOIN expect e ON e.m = c.m
    ORDER BY c.m
    """


def _ppt_variant_docs():
    """Three fixed PowerPoint-97 binary decks covering the lane's
    dispatch matrix: title promotion + CR paragraph split + notes
    (v0); UTF-16 TextCharsAtom path + second-slide heading (v1);
    bytes/chars mixed in one deck + soft line break (v2)."""
    from machine_readability_checker_spark.core.ppt import write_ppt

    v0 = write_ppt([[
        ("title", "Quarterly Results"),
        ("body",
         "Revenue grew in every region this quarter.\rMargins held."),
        ("notes", "presenter note"),
    ]])
    v1 = write_ppt([
        [("title", "概要"), ("body", "日本語の本文テキストがここに続きます確認のための十分な長さです")],
        [("title", "Next"), ("other", "fin")],
    ])
    v2 = write_ppt([[
        ("body", "soft\x0bbreak joins with a space and enough length."),
        ("body", "tiny"),
    ]])
    return [v0, v1, v2]


_PPT_VARIANT_DOCS = _ppt_variant_docs()

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_ppt_binary.py over the same writer)
_PPT_VARIANT_SPANS = [
    [
        ("title", "Quarterly Results", ""),
        ("main", "Revenue grew in every region this quarter.", ""),
        ("boilerplate", "Margins held.", ""),
        ("boilerplate", "presenter note", ""),
    ],
    [
        ("title", "概要", ""),
        ("main", "日本語の本文テキストがここに続きます確認のための十分な長さです", ""),
        ("heading", "Next", ""),
        ("boilerplate", "fin", ""),
    ],
    [
        ("main", "soft break joins with a space and enough length.", ""),
        ("boilerplate", "tiny", ""),
    ],
]


def _md_twin(spans):
    """Driver-side twin of operators/render.markdown_text over pinned
    span literals — produces the ORACLE's expected strings (the span
    literals themselves are independently pinned, so this only restates
    the rendering contract as data).  Consecutive table ``line`` rows
    join with a single newline (their adjacency IS the table); all
    other block boundaries get a blank line."""
    out = []
    last_kind = ""
    for kind, text, media in spans:
        if kind == "title":
            block = f"# {text}"
        elif kind == "heading":
            block = f"## {text}"
        elif kind == "code":
            block = f"```\n{text}\n```"
        elif kind == "math":
            block = f"$${text}$$"
        elif kind == "caption":
            block = f"*{text}*"
        elif kind == "media":
            block = f"![{text}]({media})"
        elif kind in ("main", "line", "cell", "output"):
            block = text
        else:
            continue
        if out:
            out.append(
                "\n" if kind == "line" and last_kind == "line" else "\n\n"
            )
        out.append(block)
        last_kind = kind
    return "".join(out)


def _plain_twin(spans):
    return " ".join(
        t for k, t, _m in spans if k in ("cell", "main", "line") and t
    )


def q_render_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-array → training-text rendering end-to-end: the wiki
    variant docs flow through the extraction kernel into REAL span
    arrays, then ``render_training_text`` (the narrow JVM
    filter/transform/array_join — the operator jobs/clean.py uses, no
    explode/shuffle) produces both the plain funnel text and the
    markdown corpus export; the oracle states the expected rendered
    strings as literals derived from the independently pinned span
    sequences."""
    from machine_readability_checker_spark.operators.render import (
        render_training_text,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        from machine_readability_checker_spark.core.extract import (
            extract_document,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                v = did % 3
                out = extract_document(
                    str(did), "wiki",
                    _WIKI_VARIANT_DOCS[v].encode("utf-8"),
                )
                rows.append((str(did), v, out["spans"]))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "variant", "spans"]
            )

    spans_df = _fan(spark, docs).mapInPandas(
        kernel,
        schema="doc_id string, variant long, spans "
               "array<struct<kind:string,text:string,media_ref:string,"
               "offset:int>>",
    )
    rendered = render_training_text(
        render_training_text(spans_df, style="markdown", out_col="md"),
        style="plain", out_col="plain",
    )
    return (
        rendered.groupBy("variant", "plain", "md")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant")
    )


def _render_text_oracle_sql() -> str:
    vals = ",\n      ".join(
        "({}, {}, {})".format(
            v,
            _sql_str(_plain_twin(_WIKI_VARIANT_SPANS[v])),
            _sql_str(_md_twin(_WIKI_VARIANT_SPANS[v])),
        )
        for v in (0, 1, 2)
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, plain, md) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant, e.plain, e.md,
           c.n AS n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant
    """


def q_wiki_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wikipedia-link-graph harvest: each doc becomes an article whose
    wikilinks are doc_id arithmetic — a piped topic link ([[topic
    {d%7}|a topic]] must normalize to 'Topic {d%7}'), an underscore +
    fragment link (normalizes to the same spaced title, fragment
    dropped), a DUPLICATE bare link (mention multiset keeps both), and
    File/Category links that must NOT become edges.  The oracle
    recomputes every (dst, anchor) count from doc_id alone."""
    from machine_readability_checker_spark.operators.linkgraph import (
        extract_wiki_edges,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        for pdf in batches:
            ids, titles, blobs = [], [], []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                art = (
                    f"Lead about [[topic {did % 7}|a topic]] and "
                    f"[[Shared_Page#history|see history]].\n\n"
                    f"[[Common Target]] twice: [[Common Target]].\n"
                    f"[[File:x{did}.png|thumb|cap]] [[Category:Z]]\n"
                )
                ids.append(str(did))
                titles.append(f"Article {did}")
                blobs.append(art.encode("utf-8"))
            yield _pd.DataFrame(
                {"doc_id": ids, "title": titles, "content": blobs}
            )

    pages = _fan(spark, docs).mapInPandas(
        kernel, schema="doc_id string, title string, content binary"
    )
    edges = extract_wiki_edges(pages)
    return (
        edges.groupBy("dst", "anchor")
        .agg(F.count("*").alias("n_mentions"))
        .orderBy("dst", "anchor")
    )


def _wiki_links_oracle_sql() -> str:
    return """
    WITH n AS (SELECT COUNT(*) AS total FROM documents),
    topic AS (
      SELECT 'Topic ' || CAST(doc_id % 7 AS VARCHAR) AS dst,
             'a topic' AS anchor, COUNT(*) AS n_mentions
      FROM documents GROUP BY 1
    )
    SELECT dst, anchor, n_mentions FROM topic
    UNION ALL
    SELECT 'Shared Page', 'see history', total FROM n
    UNION ALL
    SELECT 'Common Target', 'Common Target', 2 * total FROM n
    ORDER BY dst, anchor
    """


def _eml_variant_docs():
    """Three fixed messages covering the email lane's dispatch matrix:
    plain multipart with quoted reply + signature + attachment (v0);
    HTML-only body routed through the HTML lane (v1); non-ASCII
    subject (RFC 2047) + CJK body (base64/qp transfer decode) (v2)."""
    from machine_readability_checker_spark.core.eml import write_eml

    v0 = write_eml(
        "Quarterly numbers", "ana@example.com", "team@example.com",
        plain=("Here are the figures we discussed on the call.\n\n"
               "> did you include the split?\nYes, see attachment.\n\n"
               "-- \nAna"),
        attachments=[("figures.csv", b"a,b\n1,2\n")],
    )
    v1 = write_eml(
        "HTML only", "bot@example.com", "team@example.com",
        html=("<html><body><h1>Release</h1>"
              "<p>The deploy finished without incident overnight.</p>"
              "</body></html>"),
    )
    v2 = write_eml(
        "結果の共有 — final", "kenji@example.com", "team@example.com",
        plain="日本語の本文がそのまま転送符号化を通って届く確認です。",
    )
    return [v0, v1, v2]


_EML_VARIANT_DOCS = _eml_variant_docs()

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_eml.py over the same writer)
_EML_HDR = "From: {} | To: team@example.com | Date: " \
           "Mon, 17 Aug 2026 10:00:00 +0000"
_EML_VARIANT_SPANS = [
    [
        ("title", "Quarterly numbers", ""),
        ("boilerplate", _EML_HDR.format("ana@example.com"), ""),
        ("main", "Here are the figures we discussed on the call.", ""),
        ("boilerplate", "did you include the split?", ""),
        ("boilerplate", "Yes, see attachment.", ""),
        ("boilerplate", "Ana", ""),
        ("media", "", "attachment:figures.csv"),
    ],
    [
        ("title", "HTML only", ""),
        ("boilerplate", _EML_HDR.format("bot@example.com"), ""),
        ("heading", "Release", ""),
        ("main", "The deploy finished without incident overnight.", ""),
    ],
    [
        ("title", "結果の共有 — final", ""),
        ("boilerplate", _EML_HDR.format("kenji@example.com"), ""),
        ("main", "日本語の本文がそのまま転送符号化を通って届く確認です。", ""),
    ],
]


_DIALECT_VARIANT_DOCS = [
    ("tsv", "k\tv\nalpha\t1\nbeta\t2\n"),
    ("csv", "k;v\nalpha;1\nbeta;2\n"),      # semicolon sniffs
    ("csv", "k|v\nalpha|1\nbeta|2\n"),      # pipe sniffs
]

# hand-derived expected span sequences (grid lane: header row then one
# cell span per data row, cells tab-joined) — identical across all
# three dialects BY CONSTRUCTION, which is the lane's point
_DIALECT_VARIANT_SPANS = [
    ("header", "k", ""),
    ("header", "v", ""),
    ("cell", "alpha\t1", ""),
    ("cell", "beta\t2", ""),
]


_RST_VARIANT_DOCS = [
    # v0: over+under title, inline cleanup, figure caption→media pair,
    # code-block directive, unknown-directive drop
    (
        "=============\nProject Alpha\n=============\n\n"
        "An opening paragraph with **bold** and a "
        "`link <https://example.com>`_ kept by label.\n\n"
        ".. figure:: img/a.png\n   :alt: alt text\n\n"
        "   Figure 1: a trend.\n\n"
        ".. code-block:: python\n\n   print(1)\n\n"
        ".. note::\n   admonition body must not leak\n"
    ),
    # v1: underline-only heading, list items, literal block via ::,
    # simple table, comment drop
    (
        "Usage\n-----\n\n"
        "* install the package first\n"
        "* then run it with default settings enabled\n\n"
        "Example follows::\n\n   raw block\n\n"
        ".. a comment\n   with body\n\n"
        "====  ====\nk     v\n====  ====\nx     1\n====  ====\n"
    ),
    # v2: math directive, image without alt, grid table with a
    # multi-line cell
    (
        "Results\n=======\n\n"
        ".. math::\n\n   e = m c^2\n\n"
        ".. image:: img/b.png\n\n"
        "+------+------+\n| name | qty  |\n+======+======+\n"
        "| two  | 5    |\n| line |      |\n+------+------+\n"
    ),
]

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_rst.py over the same bytes)
_RST_VARIANT_SPANS = [
    [
        ("title", "Project Alpha", ""),
        ("main",
         "An opening paragraph with bold and a link kept by label.",
         ""),
        ("media", "alt text", "img/a.png"),
        ("caption", "Figure 1: a trend.", "img/a.png"),
        ("code", "print(1)", ""),
    ],
    [
        ("title", "Usage", ""),
        ("main", "install the package first", ""),
        ("main", "then run it with default settings enabled", ""),
        ("boilerplate", "Example follows:", ""),
        ("code", "raw block", ""),
        ("line", "k\tv", ""),
        ("line", "x\t1", ""),
    ],
    [
        ("title", "Results", ""),
        ("math", "e = m c^2", ""),
        ("media", "", "img/b.png"),
        ("line", "name\tqty", ""),
        ("line", "two\nline\t5", ""),
    ],
]


_ADOC_VARIANT_DOCS = [
    # v0: title, inline cleanup, captioned image, source listing,
    # comment/attribute drops
    (
        "= Admin Guide\n\n"
        "An opening paragraph with *strong* text and a "
        "link:https://example.com[label] kept inline here.\n\n"
        "// a comment\n:toc: left\n\n"
        ".Topology\nimage::figs/net.png[net alt]\n\n"
        "[source,sh]\n----\nrun --fast\n----\n"
    ),
    # v1: section heading, list items, literal block, psv table
    (
        "== Install\n\n"
        "* unpack the archive first\n"
        "* then run the installer with defaults accepted\n\n"
        "....\nraw literal\n....\n\n"
        "|===\n| k | v\n\n| x | 1\n|===\n"
    ),
    # v2: stem math, span table with continuation-line cell
    (
        "= Results\n\n"
        "[stem]\n++++\ne = mc^2\n++++\n\n"
        "|===\n2+|wide\n\n| a | b\n\n| two\nline | 3\n|===\n"
    ),
]

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_adoc.py over the same bytes)
_ADOC_VARIANT_SPANS = [
    [
        ("title", "Admin Guide", ""),
        ("main",
         "An opening paragraph with strong text and a label kept "
         "inline here.", ""),
        ("media", "net alt", "figs/net.png"),
        ("caption", "Topology", "figs/net.png"),
        ("code", "run --fast", ""),
    ],
    [
        ("title", "Install", ""),
        ("boilerplate", "unpack the archive first", ""),
        ("main", "then run the installer with defaults accepted", ""),
        ("code", "raw literal", ""),
        ("line", "k\tv", ""),
        ("line", "x\t1", ""),
    ],
    [
        ("title", "Results", ""),
        ("math", "e = mc^2", ""),
        ("line", "wide\t", ""),
        ("line", "a\tb", ""),
        ("line", "two\nline\t3", ""),
    ],
]


_ORG_VARIANT_DOCS = [
    # v0: title keyword, inline cleanup, captioned image, src block,
    # comment/keyword drops
    (
        "#+TITLE: Admin Guide\n\n"
        "An opening paragraph with *strong* text and a "
        "[[https://example.com][label]] kept inline here.\n\n"
        "# a comment\n#+OPTIONS: toc:nil\n\n"
        "#+CAPTION: Topology\n"
        "[[file:figs/net.png][net alt]]\n\n"
        "#+BEGIN_SRC sh\nrun --fast\n#+END_SRC\n"
    ),
    # v1: headline with TODO/priority/tags stripping, list items,
    # fixed-width code, simple table
    (
        "* TODO [#A] Install :ops:\n\n"
        "- unpack the archive first\n"
        "- then run the installer with defaults accepted\n\n"
        ": raw fixed width\n\n"
        "| k | v |\n|---+---|\n| x | 1 |\n"
    ),
    # v2: LaTeX environment math, drawer drop, table with rule row and
    # a forced-line-break cell
    (
        "* Results\n\n"
        ":PROPERTIES:\n:ID: abc\n:END:\n\n"
        "\\begin{equation}\ne = mc^2\n\\end{equation}\n\n"
        "| wide | |\n|------+---|\n| a | b |\n| two \\\\ line | 3 |\n"
    ),
]

# hand-derived expected span sequences per variant (pinned independently
# by tests/test_org.py over the same bytes)
_ORG_VARIANT_SPANS = [
    [
        ("title", "Admin Guide", ""),
        ("main",
         "An opening paragraph with strong text and a label kept "
         "inline here.", ""),
        ("media", "net alt", "figs/net.png"),
        ("caption", "Topology", "figs/net.png"),
        ("code", "run --fast", ""),
    ],
    [
        ("title", "Install", ""),
        ("boilerplate", "unpack the archive first", ""),
        ("main", "then run the installer with defaults accepted", ""),
        ("code", "raw fixed width", ""),
        ("line", "k\tv", ""),
        ("line", "x\t1", ""),
    ],
    [
        ("title", "Results", ""),
        ("math", "e = mc^2", ""),
        ("line", "wide\t", ""),
        ("line", "a\tb", ""),
        ("line", "two\nline\t3", ""),
    ],
]


_TXT_VARIANT_DOCS = [
    # v0: prose + aligned table + ruler + footer
    (
        "quarterly report\n\n"
        "An opening paragraph long enough to classify as main content "
        "for the plain-text lane.\n\n"
        "id  name   value\n"
        "--  -----  -----\n"
        "1   alpha  10\n"
        "2   beta   20\n\n"
        "short footer\n"
    ),
    # v1: CJK-wide alignment + tab expansion
    (
        "wide-character table\n\n"
        "item       q1  q2\n"
        "①新規      5   7\n"
        "継続 更新  6   8\n\n"
        "a closing paragraph with enough characters to be main prose.\n"
    ),
    # v2: prose-only page — a two-line paragraph whose stray double
    # space past the short line's end must NOT table (the guard)
    (
        "short line\n"
        "a much longer continuation line of prose  with a double space "
        "far beyond the first line's end\n"
    ),
]

_TXT_VARIANT_SPANS = [
    [
        ("boilerplate", "quarterly report", ""),
        ("main",
         "An opening paragraph long enough to classify as main content "
         "for the plain-text lane.", ""),
        ("line", "id\tname\tvalue", ""),
        ("line", "1\talpha\t10", ""),
        ("line", "2\tbeta\t20", ""),
        ("boilerplate", "short footer", ""),
    ],
    [
        ("boilerplate", "wide-character table", ""),
        ("line", "item\tq1\tq2", ""),
        ("line", "①新規\t5\t7", ""),
        ("line", "継続 更新\t6\t8", ""),
        ("main",
         "a closing paragraph with enough characters to be main prose.",
         ""),
    ],
    [
        ("main",
         "short line a much longer continuation line of prose with a "
         "double space far beyond the first line's end", ""),
    ],
]


# Fixed-width plain-text twin: variants 0/1 densify byte-equal to the
# HTML grids so their verdicts are the shared literals verbatim;
# variant 2's single-line form of the in-cell-break cell drops the two
# newline rules (L1-07 embedded newline, L1-14 multi-line cell) from
# the HTML fail set — tests/test_fwtext.py re-derives all three
# verdict sets through the battery and pins them against these.
_FW_WT_FAILS = {
    0: {"X-04", "X-05", "X-06", "X-07"},
    1: {"L1-06", "L1-09", "X-03", "X-04", "X-05", "X-06", "X-07"},
    2: {
        "L1-05", "L1-08", "X-01", "X-03",
        "X-04", "X-05", "X-06", "X-07",
    },
}


def q_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 bad-words page gate as a cross-engine regex check: each doc's
    text gains a deterministic suffix (doc_id arithmetic — a true hit,
    an UPPER-CASE hit, a word-boundary trap ``notspamword``, or a clean
    tail), ``textstats.blocklist_hit`` evaluates the chunked
    whole-word alternation on Spark's Java regex, and the oracle runs
    the IDENTICAL pattern through DuckDB's RE2 — two independent regex
    engines must agree on every boundary case for the counts to land."""
    from machine_readability_checker_spark.operators.textstats import (
        blocklist_hit,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" buy spamword now"))
        .when(F.col("doc_id") % 5 == 0, F.lit(" SCAM Alert!"))
        .when(F.col("doc_id") % 7 == 0, F.lit(" notspamword here"))
        .otherwise(F.lit(" clean tail"))
    )
    t = F.concat(F.col("text"), suffix)
    return (
        docs.select(
            (F.col("doc_id") % 105).alias("variant"),
            blocklist_hit(t, ["spamword", "scam alert"]).alias("blocked"),
        )
        .groupBy("variant", "blocked")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant", "blocked")
    )


def _badwords_oracle_sql() -> str:
    # the SAME chunked pattern blocklist_hit compiles (one chunk here)
    pat = "(?is)(^|[^\\p{L}\\p{N}])(spamword|scam\\ alert)($|[^\\p{L}\\p{N}])"
    return f"""
    WITH t AS (
      SELECT doc_id % 105 AS variant,
             text || CASE
               WHEN doc_id % 3 = 0 THEN ' buy spamword now'
               WHEN doc_id % 5 = 0 THEN ' SCAM Alert!'
               WHEN doc_id % 7 = 0 THEN ' notspamword here'
               ELSE ' clean tail' END AS t
      FROM documents
    )
    SELECT variant, regexp_matches(t, '{pat}') AS blocked,
           COUNT(*) AS n_docs
    FROM t GROUP BY 1, 2 ORDER BY variant, blocked
    """


def q_crawl_delays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt Crawl-delay politeness: every doc contributes a
    robots body for domain d{doc_id%5} covering the precedence matrix
    (specific agent beats *, unparseable → default, hostile day-long
    delay clamps to 3600, no-delay domains emit no row); the oracle
    states the expected per-domain delay and recomputes the doc counts
    from doc_id arithmetic."""
    from machine_readability_checker_spark.operators.robots import (
        crawl_delays,
        robots_rules,
    )

    bodies = [
        "User-agent: *\nCrawl-delay: 2\n"
        "User-agent: mybot\nCrawl-delay: 0.5\nDisallow: /x\n",
        "User-agent: *\nCrawl-delay: 10\n",
        "User-agent: *\nCrawl-delay: oops\n",
        "User-agent: *\nCrawl-delay: 86400\n",
        "User-agent: *\nDisallow: /z\n",
    ]
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".com")).alias("domain"),
        F.element_at(
            F.array(*[F.lit(b.encode()) for b in bodies]),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).alias("content"),
    )
    delays = crawl_delays(robots_rules(_fan(spark, docs)), agent="MyBot")
    counts = docs.groupBy("domain").agg(F.count("*").alias("n_docs"))
    return (
        delays.join(counts, "domain").orderBy("domain")
    )


def _crawl_delays_oracle_sql() -> str:
    return """
    WITH counts AS (
      SELECT 'd' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain,
             COUNT(*) AS n_docs
      FROM documents GROUP BY 1
    ), expect(domain, crawl_delay_s) AS (VALUES
      ('d0.com', CAST(0.5 AS DOUBLE)), ('d1.com', CAST(10.0 AS DOUBLE)),
      ('d2.com', CAST(1.0 AS DOUBLE)), ('d3.com', CAST(3600.0 AS DOUBLE))
    )
    SELECT e.domain, e.crawl_delay_s, c.n_docs
    FROM expect e JOIN counts c ON c.domain = e.domain
    ORDER BY e.domain
    """


def q_ngram_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal end-to-end on the documents table:
    train a trigram Stupid Backoff model over the corpus (one explode +
    one hash aggregate), score every document with the JOIN path — the
    web-scale shape where the model stays distributed — and return
    per-doc perplexity.  The DuckDB oracle recomputes the entire
    train+score pipeline in SQL."""
    from machine_readability_checker_spark.operators.ngram_lm import (
        ngram_lm_train,
        score_stupid_backoff_join,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # cache: the model feeds BOTH the n_total aggregate and the scoring
    # join — uncached, the whole training explode+agg runs twice
    model = ngram_lm_train(docs, n=3).cache()
    scored = score_stupid_backoff_join(docs, model, order=3)
    return scored.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        F.round("log_score_sum", 5).alias("log_score_sum"),
        F.round("perplexity", 5).alias("perplexity"),
    ).orderBy("doc_id")


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture rebalancing at α=0.5: per-language keep rate
    min(1, (n_min/n_lang)^0.5) via md5 thresholds — rarest language
    survives whole, the dominant one is flattened toward it."""
    docs = _t(spark, sf_dir, "documents")
    kept = SP.temperature_mix(docs, group_col="lang", alpha=0.5)
    return (
        kept.groupBy("lang").agg(F.count("*").alias("n_docs")).orderBy("lang")
    )


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: md5-ranked order within
    md5-assigned shards (8 here) — the fixed pseudo-random consumption
    order, one parallel window exchange, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    return (
        SP.training_order(docs, n_shards=8)
        .select("doc_id", "shard", "position")
        .orderBy("shard", "position")
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer QA (Rust et al. 2021): fertility =
    subwords per whitespace word under the JVM BPE-ish segmenter,
    bytes per subword — one map-side-combined aggregate scan."""
    docs = _t(spark, sf_dir, "documents")
    return TS.tokenizer_fertility(docs).orderBy("lang")


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR/SimCSE hard-negative mining: anchors = vec_id < 4, labeled
    positives = the pair-lane arithmetic partner ((id*7+13) mod n);
    top-3 most-similar corpus vectors per anchor EXCLUDING self and
    positives (broadcast anti join before the per-anchor window)."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"), "embedding"
    )
    n = emb.count()
    positives = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"),
        ((F.col("vec_id") * 7 + 13) % F.lit(n)).alias("vec_id"),
    )
    out = S.mine_hard_negatives(emb, anchors, positives, k=3)
    return out.select(
        "anchor_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("anchor_id", "rank")


def _code_variant_text() -> F.Column:
    """Deterministic per-doc code-corpus variants (documents carry no
    license headers; the oracle builds the identical strings in SQL):
    doc_id%7==0 → SPDX MIT tag, 1 → MIT preamble phrase, 2 →
    auto-generated marker, 3 → a 1200-char line appended, else
    verbatim."""
    t = F.col("text")
    m = F.col("doc_id") % 7
    return (
        F.when(m == 0, F.concat(F.lit("SPDX-License-Identifier: MIT\n"), t))
        .when(
            m == 1,
            F.concat(
                F.lit("Permission is hereby granted, free of charge. "), t
            ),
        )
        .when(m == 2, F.concat(F.lit("// auto-generated do not edit\n"), t))
        .when(m == 3, F.concat(t, F.lit("\n"), F.repeat(F.lit("x"), 1200)))
        .otherwise(t)
    )


def q_code_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StarCoder-style code-quality battery over deterministic
    license/autogen/long-line variants of the documents: per-doc line
    geometry, ASCII-alpha fraction, autogen marker, detected license,
    and the default keep verdict — the code-corpus curation scan."""
    from machine_readability_checker_spark.operators import codestats as CS

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _code_variant_text().alias("text")
    )
    out = CS.code_quality_stats(docs)
    return out.select(
        "doc_id",
        "n_lines",
        "max_line_len",
        "mean_line_len",
        "alpha_frac",
        "autogen",
        F.coalesce(F.col("license"), F.lit("none")).alias("license"),
        "keep",
    ).orderBy("doc_id")


def q_license_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus license inventory over the same variants: (license,
    n_docs) — the permissive-only build's routing aggregate."""
    from machine_readability_checker_spark.operators import codestats as CS

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _code_variant_text().alias("text")
    )
    return CS.license_counts(docs).orderBy("license")


def q_chunked_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-scored, document-answered retrieval: embeddings rows act
    as chunk vectors of synthetic documents (doc = vec_id mod 37),
    queries = vec_id < 3; per-doc MAX over chunk cosines, per-query
    top-5 — the RAG max-pool reduction, fully SQL-oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    chunks = emb.select(
        (F.col("vec_id") % 37).alias("doc_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.chunked_topk(chunks, queries, k=5)
    return out.select(
        "query_id",
        "doc_id",
        F.round("score", 6).alias("score"),
        "n_chunks",
        "rank",
    ).orderBy("query_id", "rank")


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff summary: new build = documents with every
    11th doc removed, every 7th (surviving) text perturbed, and a
    shifted-id twin of every 13th appended — (status, n_docs) must
    reconcile exactly cross-engine."""
    from machine_readability_checker_spark.operators.spandiff import (
        corpus_diff,
        corpus_diff_summary,
    )

    docs = _t(spark, sf_dir, "documents")
    survivors = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    new = survivors.unionByName(added)
    return corpus_diff_summary(corpus_diff(docs, new)).orderBy("status")


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order interleave (the lakehouse OPTIMIZE ZORDER key)
    over deterministic 8-bit coordinates derived from doc_id: the
    DuckDB oracle recomputes the same 16-term shift/mask expression,
    pinning the bit algebra exactly."""
    from machine_readability_checker_spark.operators import zorder as ZO

    docs = _t(spark, sf_dir, "documents")
    xa = ((F.col("doc_id") * 13) % 256).cast("long")
    xb = ((F.col("doc_id") * 29) % 256).cast("long")
    return docs.select(
        "doc_id",
        xa.alias("xa"),
        xb.alias("xb"),
        ZO.morton_key(xa, xb, bits=8).alias("zkey"),
    ).orderBy("doc_id")


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data-card aggregate (Datasheets for Datasets): doc/char/
    token totals, exact token-length mean/median/p90, language count +
    dominant language share — one aggregate scan plus a tiny
    language-mode aggregate."""
    from machine_readability_checker_spark.operators import datacard as DC

    docs = _t(spark, sf_dir, "documents")
    return DC.corpus_datacard(docs)


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: md5 shards (score never moves a doc
    between shards), within-shard positions primarily by an
    SQL-expressible difficulty stand-in (text length — the faithful
    pipeline scores perplexity), md5-then-id tie break."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "score", F.length("text").cast("long")
    )
    return (
        SP.curriculum_order(docs, "score", n_shards=8)
        .select("doc_id", "score", "shard", "position")
        .orderBy("shard", "position")
    )


def q_ngram_top_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency top-20 with document frequency —
    boilerplate discovery / vocabulary audit aggregate."""
    docs = _t(spark, sf_dir, "documents")
    return TS.ngram_counts(docs, n=2, top_k=20)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training iteration over the corpus: distinct-word
    frequency table, adjacent character pairs weighted by word
    frequency, top 20 (count desc, pair asc) — the SQL-expressible
    slice of ``bpe.bpe_train``; full training (`operators/bpe.py`) is
    iterative and pytest-verified against a sequential reference."""
    from machine_readability_checker_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_pair_counts(docs, top_k=20)


def q_wordpiece_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First WordPiece training iteration (Schuster & Nakajima 2012):
    ##-prefixed positional symbols, pair counts AND symbol counts, and
    the likelihood score count(ab)/(count(a)·count(b)) — top 20 by
    score (desc, pair asc).  The SQL-expressible slice of
    ``wordpiece.wordpiece_train``; full training is iterative and
    pytest-pinned against a sequential reference.  Scores are exact
    (integer counts, one double division), so DuckDB reproduces them
    bit-for-bit un-rounded."""
    from machine_readability_checker_spark.operators import wordpiece as WPC

    docs = _t(spark, sf_dir, "documents")
    words = (
        WPC.word_freqs(docs)
        .withColumn("syms", WPC._init_syms(F.col("word")))
        .select("syms", "freq")
    )
    return (
        WPC.scored_pairs(words)
        .orderBy(F.desc("score"), F.asc("pair"))
        .limit(20)
        .select("pair", "count", "score")
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (embedding / context-window
    prep): 32-token chunks, 8-token overlap."""
    docs = _t(spark, sf_dir, "documents")
    return TS.chunk_documents(docs, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_idx"
    )


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing via the two-phase distributed prefix
    sum (no single-task global window); the DuckDB oracle is the plain
    single-node running total — equality IS the proof that the
    parallel decomposition reproduces the sequential semantics."""
    docs = _t(spark, sf_dir, "documents")
    return SP.pack_shards(docs, budget_tokens=2000).orderBy("doc_id")


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-quantized embeddings (symmetric
    per-vector scale; cosine is scale-invariant so the integer qvec is
    compared directly).  DuckDB oracle reproduces the quantization
    arithmetic element-for-element."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    qt = S.quantize_embeddings(emb)
    return S.quantized_cosine_topk(qt, qvec, k=10).select(
        "vec_id", F.round("cosine", 6).alias("cosine")
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click annotated with the user's most recent
    prior (inclusive) purchase.  Spark lacks a native ASOF JOIN — the
    operator is the union + running-last decomposition (one window
    shuffle); DuckDB's native ASOF JOIN is the oracle, so gate equality
    proves the decomposition."""
    from machine_readability_checker_spark.operators.temporal import (
        asof_join_last,
    )

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value"),
        F.col("event_id").alias("purchase_event"),
    )
    out = asof_join_last(
        clicks,
        purchases,
        value_cols=["purchase_value", "purchase_event"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("last_purchase_value", 6).alias("last_purchase_value"),
        "last_purchase_event",
    ).orderBy("event_id")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column data-quality profile of the documents table
    (nulls, exact cardinality, rendered-value length bounds)."""
    from machine_readability_checker_spark.operators.profile import (
        profile_table,
    )

    docs = _t(spark, sf_dir, "documents")
    return profile_table(docs).orderBy("column")


def _idx_path(kind: str, sf_dir: str) -> str:
    import tempfile

    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(tempfile.gettempdir(), f"mrc_driver_idx_{kind}_{base}")


def _is_query_doc(col):
    """Portable 1-in-8 split of the corpus into query batch vs indexed
    corpus: integer of the first 2 md5 hex chars of the string doc_id,
    mod 8 — reproducible in DuckDB via ``_md5_int_sql``."""
    return (
        F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 2), 16, 10)
        .cast("long")
        % 8
        == 0
    )


def q_minhash_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup lookup against a materialized banded-MinHash
    index: the corpus (7/8 of documents, md5-split) is written as a
    band/bucket-partitioned index, then the query batch (1/8) probes
    ONLY its own band partitions — the 100 TB shape where a new ingest
    batch is checked against the corpus without a self-join.  Portable
    md5 token hashes so the DuckDB oracle rebuilds both sides'
    signatures and the bipartite band join bit-for-bit."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    is_q = _is_query_doc(F.col("doc_id"))
    path = _idx_path("minhash", sf_dir)
    # n_buckets sizes the partition grid to the corpus: 8 at fixture
    # scale (band×bucket = 128 dirs); a real corpus uses the 64+ default
    D.write_minhash_index(
        docs.filter(~is_q), path, shingle_k=3, portable=True, n_buckets=8
    )
    return D.query_minhash_index(
        spark,
        path,
        docs.filter(is_q),
        shingle_k=3,
        threshold=0.2,
        portable=True,
        n_buckets=8,
    ).orderBy("query_id", "doc_id")


def q_ivf_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over a materialized IVF index: 8 seed centroids (the k
    lowest-id vectors — ``kmeans_centroids(iters=0)``, chosen so the
    DuckDB oracle can rebuild the coarse quantizer in SQL; production
    runs Lloyd iterations), cell-partitioned inverted lists, n_probe=2
    partition-pruned read, cosine ranking within the probed cells."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = S.kmeans_centroids(emb, k=8, iters=0)
    path = _idx_path("ivf", sf_dir)
    S.write_ivf_index(emb, path, cents)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return S.query_ivf_index(spark, path, qvec, cents, k=10, n_probe=2).select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round("cosine", 6).alias("cosine"),
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k: 4 subspaces x 16 dims, 4 seed
    codewords per subspace (the 4 lowest-id vectors sliced —
    ``pq_train(iters=0)`` so the DuckDB oracle can rebuild the codebooks
    in SQL; production runs Lloyd), every vector encoded to 4 code
    bytes, query vec_id=0 scored by summed LUT lookups (no decode, no
    shuffle).  Returns the 10 nearest by approximate squared L2 with the
    per-subspace codes, proving encode + ADC end-to-end."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = S.pq_train(emb, m=4, k=4, iters=0)
    enc = S.pq_encode(emb, cbs)
    top = S.pq_topk(enc, _first_embedding(emb), cbs, k=10)
    return (
        top.join(enc, "vec_id")
        .select(
            "vec_id",
            *[F.col("codes")[i].cast("int").alias(f"code{i}") for i in range(4)],
            F.round("adc", 6).alias("adc"),
        )
        .orderBy("vec_id")
    )


def q_ivfpq_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition: 4 seed coarse centroids (lowest-id vectors),
    PQ codebooks seeded from the RESIDUALS of the 4 lowest-id vectors
    (``train_ivfpq(cell_iters=0, pq_iters=0)`` so the DuckDB oracle can
    rebuild both quantizers in SQL; production runs Lloyd on both),
    cell-partitioned code lists, n_probe=2 partition-pruned ADC query
    with per-cell residual LUTs."""
    emb = _t(spark, sf_dir, "embeddings")
    cents, cbs = S.train_ivfpq(
        emb, n_cells=4, m=4, k=4, cell_iters=0, pq_iters=0
    )
    path = _idx_path("ivfpq", sf_dir)
    S.write_ivfpq_index(emb, path, cents, cbs)
    top = S.query_ivfpq_index(
        spark, path, _first_embedding(emb), cents, cbs, k=10, n_probe=2
    )
    return top.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round("adc", 6).alias("adc"),
    ).orderBy("vec_id")


def q_ivfpq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact refine (FAISS IndexRefineFlat recipe): the same
    seed-mode quantizers as ``ivfpq_index_query``, index written WITH
    raw vectors in the cell partitions, ADC shortlist of 40 re-ranked
    by exact squared L2 on the stored vectors, exact top-10 wins.  The
    stage that lifts PQ-family recall@10 from ~0.66 to ≥0.9
    (tests/test_pipeline_ops.py ANN recall gates)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents, cbs = S.train_ivfpq(
        emb, n_cells=4, m=4, k=4, cell_iters=0, pq_iters=0
    )
    path = _idx_path("ivfpq_ref", sf_dir)
    S.write_ivfpq_index(emb, path, cents, cbs, store_vectors=True)
    top = S.query_ivfpq_index_refined(
        spark,
        path,
        _first_embedding(emb),
        cents,
        cbs,
        k=10,
        n_probe=2,
        shortlist=40,
    )
    return top.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round("dist", 6).alias("dist"),
    ).orderBy("vec_id")


def q_media_context_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-candidate mining over the interleaved span shape: a
    deterministic interleaved corpus is synthesized from ``documents``
    (every token at offset % 7 == 3 becomes a media span with ref
    ``img_<doc>_<off>``), assembled into the canonical
    (doc_id, spans array<struct<kind,text,media_ref,offset>>) table, and
    ``media_context_pairs`` emits each media span with the concatenated
    text of up to 3 spans on each side — the (media_ref, caption
    candidate) pairs a multimodal pipeline joins to its media store."""
    from machine_readability_checker_spark.operators.multimodal import (
        media_context_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(TS.tokens(F.col("text"))).alias("off", "tok")
    )
    is_media = F.col("off") % 7 == 3
    span = F.struct(
        F.when(is_media, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
        F.when(is_media, F.lit("")).otherwise(F.col("tok")).alias("text"),
        F.when(
            is_media, F.concat(F.lit("img_"), F.col("doc_id"), F.lit("_"), F.col("off"))
        )
        .otherwise(F.lit(""))
        .alias("media_ref"),
        F.col("off").cast("int").alias("offset"),
    )
    # collect_list order is nondeterministic — array_sort by offset
    # restores the canonical span order
    nested = toks.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(span), lambda a, b: a["offset"] - b["offset"]
        ).alias("spans")
    )
    return media_context_pairs(nested, window=3).orderBy("doc_id", "offset")


def _synth_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic interleaved span corpus the interleaved_*
    lanes share (same arithmetic as ``media_context_pairs``): token at
    offset % 7 == 3 → media span carrying ``alt <tok>`` and ref
    ``img_<doc>_<off>``; offset % 11 == 5 → an empty ``main`` span
    (must drop); everything else a one-token ``main`` span."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(TS.tokens(F.col("text"))).alias("off", "tok")
    )
    is_media = F.col("off") % 7 == 3
    is_blank = F.col("off") % 11 == 5
    span = F.struct(
        F.when(is_media, F.lit("media")).otherwise(F.lit("main")).alias("kind"),
        F.when(is_media, F.concat(F.lit("alt "), F.col("tok")))
        .when(is_blank, F.lit(""))
        .otherwise(F.col("tok"))
        .alias("text"),
        F.when(
            is_media, F.concat(F.lit("img_"), F.col("doc_id"), F.lit("_"), F.col("off"))
        )
        .otherwise(F.lit(""))
        .alias("media_ref"),
        F.col("off").cast("int").alias("offset"),
    )
    return toks.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(span), lambda a, b: a["offset"] - b["offset"]
        ).alias("spans")
    )


def q_interleaved_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MMC4/OBELICS export shape over the interleaved span table:
    the same deterministic interleaved corpus as ``media_context_pairs``
    (token at offset % 7 == 3 → media span carrying ``alt <tok>``; every
    offset % 11 == 5 → an empty text span that must drop) assembled by
    ``interleaved_segments`` — runs of consecutive kept text spans merge
    into ONE text segment (blank-line joined), each media span is its
    own segment with alt text + media_ref, segment order is span order.
    Flattened to (doc_id, seg_idx, seg_type, seg_text, media_ref) for
    the oracle compare.  The fold is a narrow JVM expression — zero
    exchange, zero Python (pinned in tests/test_interleave.py)."""
    from machine_readability_checker_spark.operators.interleave import (
        interleaved_segments,
    )

    seg = interleaved_segments(_synth_interleaved(spark, sf_dir))
    return (
        seg.select("doc_id", F.posexplode("segments").alias("seg_idx", "s"))
        .select(
            "doc_id",
            F.col("seg_idx").cast("int").alias("seg_idx"),
            F.col("s.type").alias("seg_type"),
            F.col("s.text").alias("seg_text"),
            F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
        )
        .orderBy("doc_id", "seg_idx")
    )


def q_interleaved_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved export ROUND TRIP: the q_interleaved_segments corpus
    is written as gzipped-JSONL shards (``write_interleaved_shards``)
    and loaded back through the zero-Python JVM reader
    (``read_interleaved_shards``), then flattened to the identical
    output shape — so the oracle is the same gaps-and-islands SQL and
    any writer/reader/sharding drift (JSON escaping, gzip framing,
    shard assignment, null handling of text-segment media_ref) breaks
    the value hash."""
    from machine_readability_checker_spark.operators.interleave import (
        interleaved_segments,
        read_interleaved_shards,
        write_interleaved_shards,
    )

    nested = interleaved_segments(_synth_interleaved(spark, sf_dir)).select(
        "doc_id",
        # '' → NULL on text-segment media_ref so the reader's
        # to_json-dropped-null round trip is exercised (the operator
        # already emits NULL there; this is a no-op normalization)
        F.transform(
            F.col("segments"),
            lambda s: F.struct(
                s["type"].alias("type"),
                s["text"].alias("text"),
                F.when(s["type"] == "media", s["media_ref"]).alias(
                    "media_ref"
                ),
            ),
        ).alias("segments"),
    )
    path = _wet_dir("interleaved", sf_dir)
    write_interleaved_shards(nested, path, n_shards=8).collect()
    back = read_interleaved_shards(spark, os.path.join(path, "*.jsonl.gz"))
    return (
        back.select("doc_id", F.posexplode("segments").alias("seg_idx", "s"))
        .select(
            # the generic loader schema reads ids as string; this corpus
            # carries int64 ids, so restore the type for the oracle
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("seg_idx").cast("int").alias("seg_idx"),
            F.col("s.type").alias("seg_type"),
            F.col("s.text").alias("seg_text"),
            F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
        )
        .orderBy("doc_id", "seg_idx")
    )


def q_interleaved_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level quality statistics + MMC4/OBELICS-style filter flags
    over the interleaved segment shape: segment counts by type, text
    volume, repeated-image share, longest consecutive-media run, media
    fraction, and the keep/drop booleans (image cap, media-fraction
    cap, run cap, must-have-text, dup-image cap).  The whole battery is
    a zero-exchange JVM fold per document (pinned in
    tests/test_interleave.py); the oracle recomputes every column
    including the run length via gaps-and-islands SQL."""
    from machine_readability_checker_spark.operators.interleave import (
        interleaved_filter,
        interleaved_segments,
    )

    seg = interleaved_segments(_synth_interleaved(spark, sf_dir))
    out = interleaved_filter(seg)
    return out.select(
        "doc_id",
        "n_segments",
        "n_media_segments",
        "n_text_segments",
        "text_chars",
        "distinct_media_refs",
        "dup_media_refs",
        "max_media_run",
        "media_frac",
        "il_images_ok",
        "il_media_frac_ok",
        "il_media_run_ok",
        "il_text_ok",
        "il_dup_media_ok",
        "il_keep",
    ).orderBy("doc_id")


def q_interleaved_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal token budget + packing over the interleaved corpus:
    per doc the text-token count (whitespace), the media patch cost
    (576/image — ViT-L/14 @ 336px), and the shard assignment from the
    exclusive prefix sum of the total in global id order (the
    ``pack_shards`` protocol with the multimodal cost model).  The
    prefix sum is the two-phase parallel form — no single-task stage;
    the oracle recomputes it with one window."""
    from machine_readability_checker_spark.operators.interleave import (
        interleaved_segments,
        pack_interleaved,
    )

    seg = interleaved_segments(_synth_interleaved(spark, sf_dir))
    return pack_interleaved(
        seg, budget_tokens=50_000, tokens_per_image=576
    ).orderBy("doc_id")


def q_frequent_media_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBELICS-style frequent-image removal over the interleaved
    corpus: each media segment's cross-document identity is its alt
    token plus its span offset (recovered from the ``img_<doc>_<off>``
    ref — the synthetic stand-in for a payload digest, chosen for its
    skewed corpus-frequency distribution); media whose identity occurs
    more than 15 times corpus-wide (~35% of media at sf0.01) drop from
    every document, and text segments left adjacent re-merge — the
    output must still satisfy the no-two-consecutive-text invariant,
    which the oracle re-derives with a second gaps-and-islands pass
    over the post-drop rows."""
    from machine_readability_checker_spark.operators.interleave import (
        drop_frequent_media,
        interleaved_segments,
    )

    seg = interleaved_segments(_synth_interleaved(spark, sf_dir))
    media_keys = seg.select(
        "doc_id",
        F.explode(
            F.filter(F.col("segments"), lambda s: s["type"] == "media")
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.concat(
            F.col("s.text"),
            F.lit("@"),
            F.regexp_extract(F.col("s.media_ref"), r"_(\d+)$", 1),
        ).alias("key"),
    )
    out = drop_frequent_media(seg, media_keys, max_occurrences=15)
    return (
        out.select(
            "doc_id",
            "n_media_dropped",
            F.posexplode("segments").alias("seg_idx", "s"),
        )
        .select(
            "doc_id",
            F.col("seg_idx").cast("int").alias("seg_idx"),
            F.col("s.type").alias("seg_type"),
            F.col("s.text").alias("seg_text"),
            F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
            "n_media_dropped",
        )
        .orderBy("doc_id", "seg_idx")
    )


def q_media_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style media quality gate over the interleaved corpus with
    arithmetic features: media at span offset ``off`` in doc ``d`` has
    width ``16 + (7d+off) % 120``, height ``16 + (11d+off) % 120``, and
    a decode error when ``(d+off) % 13 == 0`` — so the oracle derives
    the bad set from ids alone while the Spark side must run the real
    ``drop_low_quality_media`` rewrite (gate 64×64, aspect ≤ 4) and the
    re-merge must hold the no-two-consecutive-text invariant."""
    from machine_readability_checker_spark.operators.interleave import (
        drop_low_quality_media,
        interleaved_segments,
    )

    seg = interleaved_segments(_synth_interleaved(spark, sf_dir))
    d = F.col("doc_id").cast("long")
    off = F.regexp_extract(F.col("s.media_ref"), r"_(\d+)$", 1).cast("long")
    feats = seg.select(
        "doc_id",
        F.explode(
            F.filter(F.col("segments"), lambda s: s["type"] == "media")
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        (F.lit(16) + (d * 7 + off) % 120).cast("int").alias("width"),
        (F.lit(16) + (d * 11 + off) % 120).cast("int").alias("height"),
        F.when((d + off) % 13 == 0, F.lit("synthetic")).alias(
            "decode_error"
        ),
    )
    out = drop_low_quality_media(
        seg, feats, min_width=64, min_height=64, max_aspect=4.0
    )
    return (
        out.select(
            "doc_id",
            "n_media_dropped",
            F.posexplode("segments").alias("seg_idx", "s"),
        )
        .select(
            "doc_id",
            F.col("seg_idx").cast("int").alias("seg_idx"),
            F.col("s.type").alias("seg_type"),
            F.col("s.text").alias("seg_text"),
            F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
            "n_media_dropped",
        )
        .orderBy("doc_id", "seg_idx")
    )


def _first_embedding(emb: DataFrame) -> list[float]:
    return [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]


# ------------------------------------------------------------ link graph


def _url_of(idc: F.Column) -> F.Column:
    """Canonical URL of document ``idc`` from doc_id arithmetic alone
    (the driver corpus pins ``source = 'src' || doc_id % 20``; the
    degree lane's inner join back to ``_synth_url`` would go empty if
    that ever drifted, failing the row-count gate)."""
    suffix = (
        F.when(idc % 3 == 0, F.lit(".co.uk"))
        .when(idc % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".org.au"))
    )
    return F.concat(
        F.lit("https://sub"),
        (idc % 5).cast("string"),
        F.lit(".src"),
        (idc % 20).cast("string"),
        (idc % 7).cast("string"),
        suffix,
        F.lit("/docs/"),
        idc.cast("string"),
        F.lit("?ref=r"),
        (idc % 2).cast("string"),
    )


def _crawl_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → deterministic synthetic crawled HTML pages whose
    hyperlink structure is pure doc_id arithmetic (so the DuckDB oracle
    can regenerate the graph without parsing HTML): page i links to
    docs (7i+3) mod N and (13i+5) mod N, every 10th page is a dangling
    sink, and each page also carries the link noise a real crawl sees —
    a fragment anchor, a relative self-permalink (exercises RFC 3986
    resolution; becomes a self-loop the graph build drops), a
    rel=nofollow ad, and a mailto."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    m = docs.select(F.count(F.lit(1)).alias("_m"))
    d = docs.crossJoin(F.broadcast(m))
    i = F.col("doc_id")
    j1 = (i * 7 + 3) % F.col("_m")
    j2 = (i * 13 + 5) % F.col("_m")
    body_links = F.when(
        i % 10 != 0,
        F.concat(
            F.lit('<p>Related reading: <a href="'),
            _url_of(j1),
            F.lit('">read doc '),
            (j1 % 11).cast("string"),
            F.lit('</a> and <a href="'),
            _url_of(j2),
            F.lit('">see doc '),
            (j2 % 11).cast("string"),
            F.lit("</a>.</p>"),
        ),
    ).otherwise(F.lit("<p>No related articles for this terminal page.</p>"))
    html = F.concat(
        F.lit("<html><head><title>doc "),
        i.cast("string"),
        F.lit('</title></head><body><nav><a href="#top">top</a> <a href="/docs/'),
        i.cast("string"),
        F.lit("?ref=r"),
        (i % 2).cast("string"),
        F.lit('">permalink</a></nav>'),
        body_links,
        F.lit(
            '<p><a rel="nofollow" href="https://ads.example.com/click">'
            'sponsored</a> <a href="mailto:ed@example.com">email</a></p>'
            "</body></html>"
        ),
    )
    return d.select(
        "doc_id",
        _synth_url().alias("url"),
        F.encode(html, "UTF-8").alias("content"),
    )


def _doc_graph(spark: SparkSession, sf_dir: str):
    """Synthetic crawl → real anchor harvest → deduplicated doc-id
    graph: extract_edges parses every page (Arrow kernel), graph_edges
    drops nofollow/self-loops and dedups, and both endpoints map back
    to doc ids through the canonical-URL join."""
    from machine_readability_checker_spark.operators import linkgraph as LG

    pages = _crawl_pages(spark, sf_dir)
    g = LG.graph_edges(LG.extract_edges(pages))
    mapping = _t(spark, sf_dir, "documents").select(
        _url_of(F.col("doc_id")).alias("u"), F.col("doc_id")
    )
    return (
        g.join(mapping.withColumnRenamed("doc_id", "_src_id"), g.src == F.col("u"))
        .drop("u")
        .join(
            mapping.withColumnRenamed("doc_id", "_dst_id"), g.dst == F.col("u")
        )
        .select(F.col("_src_id").alias("src"), F.col("_dst_id").alias("dst"))
    )


def q_link_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink graph build + degree statistics: synthesize crawled
    pages, harvest anchors with the real HTML link collector (base-href
    and RFC 3986 resolution, nofollow/mailto/fragment filtering), dedup
    into a directed graph, and compute per-node in/out degrees with ONE
    aggregate over the two-ended union (never a self-join).  The DuckDB
    oracle regenerates the same graph arithmetically — any drift in
    link extraction, URL resolution, or the noise filters changes a
    degree and breaks the hash."""
    from machine_readability_checker_spark.operators import linkgraph as LG

    deg = LG.degree_stats(_doc_graph(spark, sf_dir))
    return (
        deg.select(
            F.col("node").alias("doc_id"),
            F.col("out_degree").cast("long").alias("out_degree"),
            F.col("in_degree").cast("long").alias("in_degree"),
        )
        .orderBy("doc_id")
    )


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text profile over the harvested RAW edge list
    (anchor text is how the rest of the web describes a page — IR
    document expansion / spam signal): one (dst, anchor) aggregate
    with map-side combine, then a WindowGroupLimit-pruned per-dst
    top-3.  Unlike the graph lanes this keeps duplicate hrefs and
    self-permalinks (profiles count MENTIONS) but drops rel=nofollow —
    the oracle regenerates the exact mention multiset
    arithmetically."""
    from machine_readability_checker_spark.operators import linkgraph as LG

    edges = LG.extract_edges(_crawl_pages(spark, sf_dir))
    at = LG.anchor_texts(edges, k=3)
    mapping = _t(spark, sf_dir, "documents").select(
        _url_of(F.col("doc_id")).alias("dst"), F.col("doc_id")
    )
    return (
        at.join(mapping, "dst")
        .select("doc_id", "anchor", "n_occurrences", "rn")
        .orderBy("doc_id", "rn")
    )


_HITS_ITERS = 3


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the harvested hyperlink graph: 3 synchronous
    iterations, L2-normalized each half-step.  Hubs (pages that point
    at good content) and authorities (pages pointed at) are reported
    scaled by sqrt(N) (mean square 1.0) and rounded to 5dp; the oracle
    unrolls the same iterations as chained CTEs — join order, the
    missing-node zero-fill, and both normalizations all pinned."""
    from machine_readability_checker_spark.operators import linkgraph as LG

    gid = _doc_graph(spark, sf_dir)
    n_nodes = (
        gid.select(F.col("src").alias("n"))
        .unionAll(gid.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    scores = LG.hits(gid, n_iter=_HITS_ITERS)
    scale = F.lit(float(n_nodes) ** 0.5)
    return (
        scores.select(
            F.col("node").cast("long").alias("doc_id"),
            F.round(F.col("hub") * scale, 5).alias("hub_scaled"),
            F.round(F.col("authority") * scale, 5).alias("auth_scaled"),
        )
        .orderBy("doc_id")
    )


def _hits_oracle_sql() -> str:
    """Unrolled {_HITS_ITERS}-iteration HITS as chained CTEs, term for
    term with operators.linkgraph.hits (coalesced zero-fill, L2 norm
    via sqrt(SUM(v*v)), guarded zero-norm division).  The ``_raw`` CTEs
    are MATERIALIZED: each is read twice, and an inlined chain doubles
    its work at every iteration."""
    parts = ["h0 AS (SELECT doc_id, 1.0 AS hub FROM nodes)"]
    prev_h = "h0"
    for t in range(1, _HITS_ITERS + 1):
        parts.append(f"""
a{t}_raw AS MATERIALIZED (
  SELECT n.doc_id, COALESCE(s.v, 0) AS v
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS doc_id, SUM(h.hub) AS v
    FROM e JOIN {prev_h} h ON e.src = h.doc_id GROUP BY e.dst
  ) s USING (doc_id)
),
a{t} AS (
  SELECT doc_id,
         CASE WHEN nn.s > 0 THEN v / nn.s ELSE 0 END AS authority
  FROM a{t}_raw, (SELECT sqrt(SUM(v * v)) AS s FROM a{t}_raw) nn
),
h{t}_raw AS MATERIALIZED (
  SELECT n.doc_id, COALESCE(s.v, 0) AS v
  FROM nodes n LEFT JOIN (
    SELECT e.src AS doc_id, SUM(a.authority) AS v
    FROM e JOIN a{t} a ON e.dst = a.doc_id GROUP BY e.src
  ) s USING (doc_id)
),
h{t} AS (
  SELECT doc_id, CASE WHEN nn.s > 0 THEN v / nn.s ELSE 0 END AS hub
  FROM h{t}_raw, (SELECT sqrt(SUM(v * v)) AS s FROM h{t}_raw) nn
)""")
        prev_h = f"h{t}"
    return f"""
WITH {_LINK_EDGES_CTE},
nodes AS (
  SELECT DISTINCT doc_id FROM (
    SELECT src AS doc_id FROM e UNION ALL SELECT dst AS doc_id FROM e
  )
),
nn0 AS (SELECT sqrt(CAST(COUNT(*) AS DOUBLE)) AS s FROM nodes),
{','.join(parts)}
SELECT h.doc_id,
       ROUND(h.hub * nn0.s, 5) AS hub_scaled,
       ROUND(a.authority * nn0.s, 5) AS auth_scaled
FROM h{_HITS_ITERS} h
JOIN a{_HITS_ITERS} a USING (doc_id)
CROSS JOIN nn0
ORDER BY doc_id
"""


_PR_ITERS = 5
_PR_DAMPING = 0.85


def q_pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank document prior over the harvested hyperlink graph:
    5 synchronous iterations, damping 0.85, uniform teleport, dangling
    mass redistributed (rank mass sums to 1 each round).  Plan per
    iteration: edges⋈ranks on src (edges hash-partitioned once and
    reused) → one per-dst aggregate → narrow update with the dangling
    scalar broadcast-cross-joined; the rank table is localCheckpoint'd
    per round so the twice-referenced lineage stays flat.  Ranks are
    reported scaled by N (mean 1.0) and rounded to 5dp; the oracle
    unrolls the same 5 iterations as chained SQL CTEs."""
    from machine_readability_checker_spark.operators import linkgraph as LG

    gid = _doc_graph(spark, sf_dir)
    n_nodes = (
        gid.select(F.col("src").alias("n"))
        .unionAll(gid.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    ranks = LG.pagerank(gid, n_iter=_PR_ITERS, damping=_PR_DAMPING)
    return (
        ranks.select(
            F.col("node").cast("long").alias("doc_id"),
            F.round(F.col("rank") * F.lit(float(n_nodes)), 5).alias(
                "rank_scaled"
            ),
        )
        .orderBy("doc_id")
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization: five deterministic "messy"
    variants per document (uppercase scheme/host + fragment everywhere;
    default port + utm params / dot segments / doubled slash + extra
    param / userinfo + ./ prefix / percent-encoding by doc_id % 5)
    must canonicalize to the arithmetic canonical form — one narrow
    JVM map, zero shuffles.  Variant 4 pins RFC 3986 §6.2.2: an
    unreserved escape in the path decodes (%6f → o) and a reserved
    escape in a query value uppercases its hex (%2f → %2F).  The
    oracle regenerates the expected canonical strings without running
    any URL code."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    suffix_up = (
        F.when(i % 3 == 0, F.lit(".CO.UK"))
        .when(i % 3 == 1, F.lit(".COM"))
        .otherwise(F.lit(".ORG.AU"))
    )
    host_up = F.concat(
        F.lit("SUB"),
        (i % 5).cast("string"),
        F.lit(".SRC"),
        (i % 20).cast("string"),
        (i % 7).cast("string"),
        suffix_up,
    )
    ref = F.concat(F.lit("ref=r"), (i % 2).cast("string"))
    ids = i.cast("string")
    v = i % 5
    messy = F.concat(
        F.lit("HTTPS://"),
        F.when(v == 3, F.lit("user:pw@")).otherwise(F.lit("")),
        host_up,
        F.when(v == 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(v == 0, F.concat(F.lit("/docs/"), ids))
        .when(v == 1, F.concat(F.lit("/docs/../docs/"), ids))
        .when(v == 2, F.concat(F.lit("/docs//"), ids))
        .when(v == 4, F.concat(F.lit("/d%6fcs/"), ids))
        .otherwise(F.concat(F.lit("/./docs/"), ids)),
        F.when(v == 0, F.concat(F.lit("?utm_source=feed&"), ref))
        .when(v == 2, F.concat(F.lit("?z=9&"), ref))
        .when(v == 4, F.concat(F.lit("?x=%7e%2f&"), ref))
        .otherwise(F.concat(F.lit("?"), ref)),
        F.lit("#sec"),
    )
    canon = WU.canonicalize_url(messy)
    return (
        docs.select(
            "doc_id",
            canon.alias("canonical_url"),
            (canon == F.concat(
                _url_of(i),
                F.when(v == 2, F.lit("&z=9"))
                .when(v == 4, F.lit("&x=~%2F"))
                .otherwise(F.lit("")),
            )).alias("matches"),
        )
        .orderBy("doc_id")
    )


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap frontier seeding: one real `<urlset>` XML document per
    doc_id % 20 cohort is ASSEMBLED with JVM expressions (groupBy +
    array_sort + array_join — the synthesis never touches Python),
    then parsed back through the stdlib-XML Arrow kernel; the oracle
    regenerates every (source_url, loc, lastmod, priority) row
    arithmetically, so namespace handling, entry ordering and priority
    float parsing are all pinned."""
    from machine_readability_checker_spark.operators.sitemaps import (
        sitemap_urls,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    entry = F.struct(
        i.alias("id"),
        F.concat(
            F.lit("<url><loc>"),
            _url_of(i),
            F.lit("</loc><lastmod>2026-01-0"),
            ((i % 7) + 1).cast("string"),
            F.lit("</lastmod><priority>"),
            (((i % 9) + 1) / F.lit(10.0)).cast("string"),
            F.lit("</priority></url>"),
        ).alias("xml"),
    )
    sm = (
        docs.select((i % 20).alias("cohort"), entry.alias("e"))
        .groupBy("cohort")
        .agg(
            F.concat(
                F.lit(
                    '<?xml version="1.0" encoding="UTF-8"?><urlset '
                    'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                ),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("e")),
                        lambda s: s["xml"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
        .select(
            F.concat(
                F.lit("https://cohort"),
                F.col("cohort").cast("string"),
                F.lit("/sitemap.xml"),
            ).alias("url"),
            F.encode("xml", "UTF-8").alias("content"),
        )
    )
    return (
        sitemap_urls(sm)
        .select("source_url", "kind", "loc", "lastmod", "priority")
        .orderBy("loc")
    )


# ------------------------------------------------------- line-level dedup


def _multiline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → multi-line twins: prose re-wrapped at 8 tokens per
    line, plus two seeded boilerplate lines per document (one global
    "subscribe" banner, one footer shared by each doc_id % 37 cohort) —
    guaranteed corpus-wide duplicates for the line-dedup lane, all
    constructively known to the oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TS.tokens(F.col("text"))
    n = F.size(toks)
    nl = F.ceil(n / F.lit(8.0)).cast("int")
    content_lines = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), nl - 1),
            lambda i: F.array_join(F.slice(toks, i * F.lit(8) + 1, 8), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = F.concat(
        content_lines,
        F.array(F.lit("subscribe to our newsletter today")),
        F.array(
            F.concat(
                F.lit("shared footer "), (F.col("doc_id") % 37).cast("string")
            )
        ),
    )
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicate-line removal at corpus scope: every line
    occurring ≥2 times anywhere in the corpus is stripped from every
    document (boilerplate banners/footers die; unique prose survives).
    One aggregate finds the dup set; a LEFT ANTI join (AQE-broadcast in
    practice) filters the line table; documents reassemble with an
    order-preserving array_sort — no Python anywhere."""
    from machine_readability_checker_spark.operators.linededup import (
        strip_dup_lines,
    )

    out = strip_dup_lines(_multiline_docs(spark, sf_dir))
    return (
        out.select(
            "doc_id",
            "n_lines",
            "n_kept",
            F.length("text").cast("long").alias("out_len"),
        )
        .orderBy("doc_id")
    )


def _site_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → per-site multi-line twins (site = ``source``): prose
    re-wrapped at 8 tokens per line plus three seeded template lines —
    a nav line identical on EVERY page of the site (frac 1), a banner
    shared by the doc_id % 2 cohort (frac ≈ 0.5), and a promo shared by
    the doc_id % 7 cohort (frac ≈ 0.14) — so a 0.3 fraction threshold
    kills nav+banner but keeps promo, all constructively known to the
    oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = TS.tokens(F.col("text"))
    n = F.size(toks)
    nl = F.ceil(n / F.lit(8.0)).cast("int")
    content_lines = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), nl - 1),
            lambda i: F.array_join(F.slice(toks, i * F.lit(8) + 1, 8), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = F.concat(
        content_lines,
        F.array(F.concat(F.lit("nav menu for "), F.col("source"))),
        F.array(
            F.concat(F.lit("banner "), (F.col("doc_id") % 2).cast("string"))
        ),
        F.array(
            F.concat(F.lit("promo "), (F.col("doc_id") % 7).cast("string"))
        ),
    )
    return docs.select(
        "doc_id", "source", F.array_join(lines, "\n").alias("text")
    )


def q_site_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-scoped template-boilerplate removal (jusText/Onion-style):
    a line on ≥30% of one site's pages (and ≥2 pages absolutely) is
    that site's boilerplate and dies there ONLY — unlike corpus-global
    line dedup, identical text on another site survives.  One tiny
    per-site page aggregate (broadcast), one (site, line) hash
    aggregate, one LEFT ANTI join against the template-sized
    boilerplate set, order-preserving reassembly — no Python."""
    from machine_readability_checker_spark.operators.linededup import (
        strip_site_boilerplate,
    )

    out = strip_site_boilerplate(
        _site_docs(spark, sf_dir),
        site_col="source",
        min_frac=0.3,
        min_pages=2,
    )
    return (
        out.select(
            "doc_id",
            "site",
            "n_lines",
            "n_kept",
            F.length("text").cast("long").alias("out_len"),
        )
        .orderBy("doc_id")
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization cross-engine: documents gain a messy
    suffix of decomposed combining sequences (e+́, o+̈, a+̊), the Arrow
    kernel normalizes via Python's ``unicodedata``, and the oracle runs
    DuckDB's independent ``nfc_normalize`` (utf8proc) over the same
    construction — two Unicode implementations must produce identical
    lengths and tail bytes."""
    from machine_readability_checker_spark.operators.textstats import (
        normalize_text,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    messy = docs.withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" é ö å")),
    )
    out = normalize_text(
        messy, form="NFC", strip_controls=False, collapse_ws=False
    )
    return (
        out.select(
            "doc_id",
            F.length("norm_text").cast("long").alias("norm_len"),
            F.substring(F.col("norm_text"), -5, 5).alias("tail"),
            (F.col("norm_text") != F.col("text")).alias("changed"),
        )
        .orderBy("doc_id")
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / FK-grade battery: documents re-punctuated
    into 10-token sentences (JVM expressions), then the codegen
    readability struct — vowel-group syllables with the silent-e
    discount, sentence splitting, both formulas — against a DuckDB
    oracle that recomputes every term with list functions."""
    # materialize the token array BEFORE the transform lambda: Catalyst
    # re-evaluates non-argument expressions inside HOF lambdas per
    # element, so an inline tokens(text) would re-tokenize the whole
    # document once per 10-token slice — O(n²) on whales (the same trap
    # the ngram_lm lane hit; SCALE.md "HOF lambda re-evaluation")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", TS.tokens(F.col("text")).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    ns = F.ceil(n / F.lit(10.0)).cast("int")
    sent_text = F.when(
        n > 0,
        F.concat(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), ns - 1),
                    lambda i: F.array_join(
                        F.slice(toks, i * F.lit(10) + 1, 10), " "
                    ),
                ),
                ". ",
            ),
            F.lit("."),
        ),
    ).otherwise(F.lit(""))
    scored = docs.select(
        "doc_id", TS.readability_scores(sent_text).alias("r")
    )
    return (
        scored.select(
            "doc_id",
            F.col("r.n_words").cast("long").alias("n_words"),
            F.col("r.n_sentences").cast("long").alias("n_sentences"),
            F.col("r.n_syllables").cast("long").alias("n_syllables"),
            F.round("r.reading_ease", 5).alias("reading_ease"),
            F.round("r.fk_grade", 5).alias("fk_grade"),
        )
        .orderBy("doc_id")
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF keywords (sklearn smooth-idf): two
    hash aggregates (doc-term counts, then document frequencies over
    the already-distinct pairs), a term-keyed join, the corpus count as
    a broadcast 1-row cross join, and a WindowGroupLimit-pruned window
    for the top-k — the corpus text is scanned exactly once."""
    docs = _t(spark, sf_dir, "documents")
    out = TS.tfidf_top_terms(docs, k=5)
    return out.select(
        "doc_id",
        "term",
        "tf",
        "score",
        F.col("rn").cast("long").alias("rn"),
    ).orderBy("doc_id", "rn")


def q_bloom_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier Bloom incremental dedup: the "already ingested" set is
    every doc_id % 3 == 0 document (keyed on md5(text)); the incoming
    batch is the whole table.  Rows the broadcast Bloom filter rules
    out skip the join entirely (no false negatives), and only the
    filter's candidates are exactly re-checked with a LEFT ANTI join —
    so the answer is EXACT (the oracle is a plain NOT EXISTS) no
    matter where the false positives land, and the filter build is one
    narrow pass + a bit_or aggregate capped at m/64 rows."""
    from machine_readability_checker_spark.operators.bloom import (
        incremental_new_keys,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("key")
    )
    seen = docs.filter(F.col("doc_id") % 3 == 0)
    new = incremental_new_keys(docs, seen, "key", fpp=0.01)
    return new.select("doc_id").orderBy("doc_id")


_BLOOM_NEW_DOCS_SQL = """
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents s
  WHERE s.doc_id % 3 = 0 AND s.text = d.text
)
ORDER BY d.doc_id
"""


def q_takedown_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete / takedown lifecycle on the Iceberg-layout
    table (`sources/iceberg_table.py`): commit the documents table →
    equality-DELETE every doc_id ≡ 0 (mod 7) (merge-on-read: a delete
    file + new snapshot, data files untouched) → expire the pre-delete
    snapshot → PHYSICAL purge (split-pruned copy-on-write rewrite via
    the crash-safe .old swap) → read the raw data files back.  The
    returned per-lang survivor counts come from the REWRITTEN bytes,
    not a filtered view — a wrong delete file, a bad anti-join, a
    missed split or a corrupted swap all change the counts.  Oracle:
    plain SQL with the predicate inverted."""
    import shutil

    from machine_readability_checker_spark.operators.repartition import (
        split_id,
    )
    from machine_readability_checker_spark.plans.manifest import split_rows
    from machine_readability_checker_spark.sources.iceberg_table import (
        IcebergLayoutTable,
        TableMaintenance,
    )

    root = _idx_path("takedown", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    table = IcebergLayoutTable(root)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    df = docs.withColumn("split", split_id("doc_id", 4))
    df.repartition("split").write.partitionBy("split").mode(
        "overwrite"
    ).parquet(table.store.data_dir)
    for split, rows in split_rows(table.store.data_dir).items():
        table.store.commit_split(split, {"docs": rows})
    table.commit_snapshot()
    table.delete_where(spark, F.col("doc_id") % 7 == 0, key_col="doc_id")
    maint = TableMaintenance(table)
    maint.expire_snapshots(keep_last=1)
    maint.purge_deleted(spark)
    maint.expire_snapshots(keep_last=1)
    maint.gc_delete_files()
    raw = spark.read.parquet(table.store.data_dir)
    return (
        raw.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang")
    )


_TAKEDOWN_PURGE_SQL = """
SELECT lang, COUNT(*) AS n_docs
FROM documents
WHERE NOT (doc_id % 7 = 0)
GROUP BY lang
ORDER BY lang
"""


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastCDC content-defined chunking with a CONSTRUCTIVE oracle
    (closes the one lane-less family).  The gear rolling hash hits a
    fixed point on constant-byte runs — h_i = (2^i − 1)·gear[b] ≡
    −gear[b] (mod 2^64) for i ≥ 64 — so for single-byte blobs the cut
    decision depends ONLY on (−gear[b]) & mask: byte 'p' satisfies it
    at mask 255 (every chunk cuts at min_size+1 = 101, the HASH-driven
    boundary path), bytes 'a'/'x' never do (every chunk force-cuts at
    max_size = 700).  Each doc contributes a JVM-assembled constant
    blob (repeat + encode; byte and length keyed on doc_id), the real
    Arrow chunking kernel cuts it, and DuckDB recomputes every
    (offset, length, sha256) row arithmetically — boundary logic,
    min-warm, force-cut, tail chunk and per-chunk digests all pinned.
    Fixed-point derivation verified in tests/test_cdc_lane_math.py."""
    from machine_readability_checker_spark.operators import cdc as C

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    blobs = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode(
            F.expr(
                "repeat(CASE WHEN doc_id % 3 = 0 THEN 'p' "
                "WHEN doc_id % 3 = 1 THEN 'a' ELSE 'x' END, "
                "CAST(400 + (doc_id % 11) * 217 AS INT))"
            ),
            "UTF-8",
        ).alias("content"),
    )
    return C.chunk_blobs(
        blobs, avg_size=256, min_size=100, max_size=700
    ).orderBy("doc_id", "chunk_idx")


def q_mojibake_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style mojibake repair (`textstats.fix_mojibake`): even
    doc_ids carry a JVM-synthesized UTF-8-as-cp1252 double encoding of
    a known clean string (9 indicator hits each: Ã©/Ãº/Ã&nbsp;
    two-byte forms, â€-prefixed punctuation, Â©), odd doc_ids the
    clean string itself.  The operator must repair every even row back
    to EXACTLY the clean text, touch no odd row, and count hits per
    the indicator regex — the oracle states all three arithmetically.
    (Replacement order matters: © is mojibaked FIRST because Ã© itself
    contains a © character.)"""
    from machine_readability_checker_spark.operators import textstats as TS

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    clean = F.concat(
        F.lit("Café número "),
        F.col("doc_id").cast("string"),
        F.lit(" — ‘déjà vu’… ©"),
    )
    moja = clean
    for a, b in [
        ("©", "Â©"), ("é", "Ã©"), ("ú", "Ãº"), ("—", "â€”"),
        ("‘", "â€˜"), ("’", "â€™"), ("…", "â€¦"), ("à", "Ã "),
    ]:
        moja = F.replace(moja, F.lit(a), F.lit(b))
    df = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, moja).otherwise(clean).alias(
            "text"
        ),
    ).withColumn("n_hits", TS.mojibake_count(F.col("text")))
    return (
        TS.fix_mojibake(df)
        .select("doc_id", "n_hits", "mojibake_fixed", "text")
        .orderBy("doc_id")
    )


def q_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-line language segmentation rolled up to document profiles
    (`textstats.lang_segments` + `doc_lang_profile`): every non-blank
    line votes its own language, dominance is by character mass (ties
    to the lexicographically smallest lang), and `mixed` flags
    documents with >= 2 identified languages — the CCNet per-paragraph
    refinement over doc-level langID.  The DuckDB oracle replays the
    full pipeline: line split, per-line stopword votes, argmax CASE,
    char-mass aggregation, window dominance, mix flag."""
    from machine_readability_checker_spark.operators import textstats as TS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prof = TS.doc_lang_profile(TS.lang_segments(docs))
    return prof.orderBy("doc_id")


def _lang_segments_oracle_sql() -> str:
    line_toks = "list_filter(string_split(lower(line), ' '), x -> x != '')"
    score_cols = ",\n    ".join(
        f"len(list_filter({line_toks}, x -> x IN {v})) AS s_{k}"
        for k, v in _LANG_SCORE.items()
    )
    return f"""
WITH lines AS (
  SELECT doc_id, u.line
  FROM documents, unnest(string_split(text, chr(10))) AS u(line)
  WHERE trim(u.line) != ''
), scored AS (
  SELECT doc_id, line,
    {score_cols}
  FROM lines
), pred AS (
  SELECT doc_id, LENGTH(line) AS n_chars,
    CASE
      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh
           AND s_en > 0 THEN 'en'
      WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0
           THEN 'es'
      WHEN s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
      WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
      WHEN s_zh > 0 THEN 'zh'
      ELSE 'und'
    END AS lang
  FROM scored
), per AS (
  SELECT doc_id, lang, SUM(n_chars) AS chars
  FROM pred GROUP BY doc_id, lang
), tot AS (
  SELECT doc_id, SUM(chars) AS total,
         SUM(CASE WHEN lang != 'und' THEN 1 ELSE 0 END) AS n_langs
  FROM per GROUP BY doc_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY chars DESC, lang ASC) AS rn
  FROM per
)
SELECT r.doc_id, r.lang AS dominant_lang,
       ROUND(r.chars * 1.0 / t.total, 6) AS dominant_frac,
       CAST(t.n_langs AS INT) AS n_langs,
       t.n_langs >= 2 AS mixed
FROM ranked r JOIN tot t USING (doc_id)
WHERE rn = 1
ORDER BY doc_id
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join (`temporal.interval_join`): documents
    synthesize an hourly grid of intervals over the events month
    (start on an hour boundary keyed by doc_id, length 0.5-3.5 h) and
    every event joins the intervals containing its timestamp via the
    bucket-explode equi join — never Catalyst's
    BroadcastNestedLoopJoin cliff for BETWEEN predicates.  Returned
    per-interval (count, sum(value)); the DuckDB oracle runs the
    textbook range join (its native iejoin) over the same synthesis,
    pinning bucketization against real range-join semantics.
    Microsecond integer timestamps on both sides keep the comparison
    exact."""
    from machine_readability_checker_spark.operators.temporal import (
        interval_join,
    )

    base_us = 1_704_067_200 * 10**6  # 2024-01-01 UTC
    ev = _t(spark, sf_dir, "events").select(
        # parquet stores TIMESTAMP_NTZ; the UTC session makes the cast
        # the same instant DuckDB's epoch_us reads off the naive value
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    iv = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("iv_id"),
        (F.lit(base_us) + (F.col("doc_id") % 720) * 3_600_000_000).alias(
            "start_us"
        ),
        (
            F.lit(base_us)
            + (F.col("doc_id") % 720) * 3_600_000_000
            + (F.col("doc_id") % 7 + 1) * 1_800_000_000
        ).alias("end_us"),
    )
    joined = interval_join(
        ev, iv, ts_col="ts_us", start_col="start_us", end_col="end_us",
        bucket_width=3_600_000_000,
    )
    return (
        joined.groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("iv_id")
    )


_INTERVAL_JOIN_SQL = """
WITH iv AS (
  SELECT doc_id AS iv_id,
         1704067200000000 + (doc_id % 720) * 3600000000 AS start_us,
         1704067200000000 + (doc_id % 720) * 3600000000
           + (doc_id % 7 + 1) * 1800000000 AS end_us
  FROM documents
), e AS (
  SELECT epoch_us(ts) AS ts_us, value FROM events
)
SELECT iv.iv_id,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 6) AS sum_value
FROM iv JOIN e ON e.ts_us BETWEEN iv.start_us AND iv.end_us
GROUP BY iv.iv_id
ORDER BY iv.iv_id
"""


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Writing-script profile + homoglyph detection
    (`textstats.script_profile` / `mixed_script_word_count`): each doc
    gets a JVM-synthesized mix of Latin words, a doc_id-scaled run of
    Cyrillic words, Han characters, and (every 3rd doc) the classic
    Latin/Cyrillic homoglyph word 'pаypаl'.  Spark counts
    with Java script classes (\p{IsLatin}), the oracle with RE2's
    (\p{Latin}) — engine-portable RESULTS, not patterns, are the
    contract."""
    from machine_readability_checker_spark.operators.textstats import (
        mixed_script_word_count,
        script_profile,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    t = F.expr(
        "concat('alpha beta ', repeat('слово ', CAST(doc_id % 4 AS INT)), "
        "CASE WHEN doc_id % 3 = 0 THEN 'pаypаl ' ELSE '' END, "
        "repeat('漢字', CAST(doc_id % 2 + 1 AS INT)))"
    )
    df = docs.select("doc_id", t.alias("text"))
    p = script_profile(F.col("text"))
    return df.select(
        "doc_id",
        p["latin"].alias("latin"),
        p["cyrillic"].alias("cyrillic"),
        p["han"].alias("han"),
        p["other"].alias("other"),
        p["n_letters"].alias("n_letters"),
        mixed_script_word_count(F.col("text")).alias("mixed_words"),
    ).orderBy("doc_id")


_SCRIPT_MIX_SQL = r"""
WITH d AS (
  SELECT doc_id,
         'alpha beta ' || repeat('слово ', CAST(doc_id % 4 AS INT)) ||
         (CASE WHEN doc_id % 3 = 0 THEN 'pаypаl ' ELSE '' END) ||
         repeat('漢字', CAST(doc_id % 2 + 1 AS INT)) AS text
  FROM documents
), c AS (
  SELECT doc_id, text,
    LENGTH(text) - LENGTH(regexp_replace(text, '[\p{L}]', '', 'g'))
      AS n_letters,
    LENGTH(text) - LENGTH(regexp_replace(text, '[\p{Latin}]', '', 'g'))
      AS n_latin,
    LENGTH(text) - LENGTH(regexp_replace(text, '[\p{Cyrillic}]', '', 'g'))
      AS n_cyr,
    LENGTH(text) - LENGTH(regexp_replace(text, '[\p{Han}]', '', 'g'))
      AS n_han,
    LENGTH(text)
      - LENGTH(regexp_replace(text, '[\p{Hiragana}\p{Katakana}]', '', 'g'))
      AS n_kana,
    LENGTH(text) - LENGTH(regexp_replace(text, '[\p{Arabic}]', '', 'g'))
      AS n_ar,
    LENGTH(text) - LENGTH(regexp_replace(text, '[\p{Greek}]', '', 'g'))
      AS n_gr
  FROM d
)
SELECT doc_id,
  ROUND(CASE WHEN n_letters > 0 THEN n_latin * 1.0 / n_letters ELSE 0 END, 6)
    AS latin,
  ROUND(CASE WHEN n_letters > 0 THEN n_cyr * 1.0 / n_letters ELSE 0 END, 6)
    AS cyrillic,
  ROUND(CASE WHEN n_letters > 0 THEN n_han * 1.0 / n_letters ELSE 0 END, 6)
    AS han,
  ROUND(CASE WHEN n_letters > 0 THEN
    (n_letters - n_latin - n_cyr - n_han - n_kana - n_ar - n_gr) * 1.0
      / n_letters ELSE 0 END, 6) AS other,
  CAST(n_letters AS INT) AS n_letters,
  CAST(len(regexp_extract_all(text,
    '[^\s]*\p{Latin}[^\s]*\p{Cyrillic}[^\s]*|[^\s]*\p{Cyrillic}[^\s]*\p{Latin}[^\s]*'
  )) AS INT) AS mixed_words
FROM c
ORDER BY doc_id
"""


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k-hash quantile sketch (`sketches.
    quantile_sketch`, Cohen & Kaplan 2007) over document text lengths:
    the 256 rows with the smallest md5(doc_id) are a deterministic
    uniform sample, and percentile_cont over the sample estimates the
    corpus quantiles.  The DuckDB oracle rebuilds the SAME sample
    (md5 bottom-k is engine-independent) and recomputes the same
    interpolated quantiles — construction and estimator both pinned."""
    from machine_readability_checker_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.length("text").alias("v"),
    )
    sk = SK.quantile_sketch(docs, "v", id_col="doc_id", k=256)
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = SK.quantile_estimate(sk, qs)
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    return (
        est.select(F.posexplode("qs").alias("i", "est"))
        .select(
            F.element_at(qarr, F.col("i") + 1).alias("q"),
            F.round("est", 6).alias("est"),
        )
        .orderBy("q")
    )


_QUANTILE_SKETCH_SQL = """
WITH s AS (
  SELECT md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(LENGTH(text) AS DOUBLE) AS v
  FROM documents ORDER BY h LIMIT 256
)
SELECT CAST(0.1 AS DOUBLE) AS q, ROUND(quantile_cont(v, 0.1), 6) AS est FROM s
UNION ALL SELECT CAST(0.25 AS DOUBLE) AS q, ROUND(quantile_cont(v, 0.25), 6) AS est FROM s
UNION ALL SELECT CAST(0.5 AS DOUBLE) AS q, ROUND(quantile_cont(v, 0.5), 6) AS est FROM s
UNION ALL SELECT CAST(0.75 AS DOUBLE) AS q, ROUND(quantile_cont(v, 0.75), 6) AS est FROM s
UNION ALL SELECT CAST(0.9 AS DOUBLE) AS q, ROUND(quantile_cont(v, 0.9), 6) AS est FROM s
UNION ALL SELECT CAST(0.99 AS DOUBLE) AS q, ROUND(quantile_cont(v, 0.99), 6) AS est FROM s
ORDER BY q
"""


_MOJIBAKE_FIX_SQL = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 9 ELSE 0 END AS INT) AS n_hits,
       doc_id % 2 = 0 AS mojibake_fixed,
       'Café número ' || CAST(doc_id AS VARCHAR) || ' — ‘déjà vu’… ©'
         AS text
FROM documents
ORDER BY doc_id
"""


_CDC_CHUNKS_SQL = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'p'
              WHEN doc_id % 3 = 1 THEN 'a' ELSE 'x' END AS c,
         CASE WHEN doc_id % 3 = 0 THEN 101 ELSE 700 END AS s,
         (400 + (doc_id % 11) * 217) AS L
  FROM documents
)
SELECT d.doc_id,
       CAST(t.i AS INT) AS chunk_idx,
       CAST(t.i * s AS BIGINT) AS "offset",
       CAST(LEAST(s, L - t.i * s) AS BIGINT) AS length,
       sha256(repeat(c, CAST(LEAST(s, L - t.i * s) AS INT))) AS sha256
FROM d CROSS JOIN (SELECT i FROM generate_series(0, 39) AS g(i)) AS t
WHERE t.i * s < L
ORDER BY doc_id, chunk_idx
"""


# ----------------------------------------------------------------------
# Variant lanes.  Every doc takes the fixed payload variant doc_id % 3,
# so each lane's result is known up front and its oracle states it as
# literals.  A variant lane is one row in _VARIANT_EXTRACT_LANES or
# _VARIANT_TABLE_LANES; tests/test_driver_contract.py pins every
# extraction row against the single-node core.
# ----------------------------------------------------------------------


def _variant_extract(
    spark: SparkSession, sf_dir: str, variant_doc: Callable
) -> DataFrame:
    """Extraction lane: per doc, run ``extract_document`` on the
    ``(fmt, content, kwargs)`` payload ``variant_doc(doc_id % 3)`` and
    keep each span's index; a parse error becomes one ``error`` row at
    index -1.  One narrow Arrow-batched ``mapInPandas`` + one hash
    aggregate."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        import pandas as _pd

        from machine_readability_checker_spark.core.extract import (
            extract_document,
        )

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                v = did % 3
                fmt, blob, kw = variant_doc(v)
                out = extract_document(str(did), fmt, blob, **kw)
                if out["parse_error"] is not None:
                    rows.append((str(did), v, -1, "error",
                                 out["parse_error"], ""))
                    continue
                for idx, s in enumerate(out["spans"]):
                    rows.append((str(did), v, idx, s["kind"], s["text"],
                                 s["media_ref"]))
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "variant", "idx", "kind", "text",
                         "media_ref"],
            )

    spans = _fan(spark, docs).mapInPandas(
        kernel,
        schema="doc_id string, variant long, idx int, kind string, "
               "text string, media_ref string",
    )
    return (
        spans.groupBy("variant", "idx", "kind", "text", "media_ref")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("variant", "idx")
    )


def _variant_extract_oracle_sql(spans) -> str:
    """Oracle of ``_variant_extract``: ``spans[v]`` is variant v's
    expected ordered (kind, text, media_ref) list."""
    vals = ",\n      ".join(
        "({}, {}, {}, {}, {})".format(
            v, idx, _sql_str(kind), _sql_str(text), _sql_str(media)
        )
        for v in (0, 1, 2)
        for idx, (kind, text, media) in enumerate(spans[v])
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, idx, kind, text, media_ref) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant,
           CAST(e.idx AS INT) AS idx, e.kind, e.text, e.media_ref,
           c.n AS n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant, idx
    """


def _variant_table_docs(
    spark: SparkSession, sf_dir: str, build: Callable
) -> DataFrame:
    """documents → one synthetic document per doc: ``build(doc_id,
    text)`` wraps the doc's prose around the FIXED per-variant
    (doc_id % 3) tables, so every table outcome is constructively
    known."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def kernel(batches):
        import pandas as _pd

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": [
                        str(r.doc_id) for r in pdf.itertuples(index=False)
                    ],
                    "content": [
                        build(int(r.doc_id), r.text)
                        for r in pdf.itertuples(index=False)
                    ],
                }
            )

    return _fan(spark, docs).mapInPandas(
        kernel, schema="doc_id string, content binary"
    )


def _variant_table_rules(
    spark: SparkSession, sf_dir: str, fmt: str, build: Callable
) -> DataFrame:
    """Table machine-readability audit: each table of the synthetic
    ``fmt`` documents densifies to a grid, runs the reference's full
    22-rule battery via the shared CSV ingest path, and pass/fail is
    counted per variant.  Two narrow ``mapInPandas`` kernels + one hash
    aggregate — no other exchange."""
    res = WT.table_rule_results(_variant_table_docs(spark, sf_dir, build), fmt)
    return (
        res.withColumn("variant", F.col("doc_id").cast("long") % 3)
        .groupBy("variant", "rule_id", "passed")
        .agg(F.count("*").alias("n_tables"))
        .orderBy("variant", "rule_id", "passed")
    )


# lane name (queried as "<name>_extract") → (variant_doc, spans):
# variant_doc(v) is the (fmt, content, extract_document kwargs) payload
# of variant v, spans[v] its expected ordered (kind, text, media_ref)
# list.  The *_VARIANT_SPANS literals are hand-derived.
_VARIANT_EXTRACT_LANES = {
    # OpenDocument: a real ODS/ODT package per doc through the full grid
    # or layout lane (merged and hidden cells, a two-row merged header)
    "odf": (_odf_variant_doc, _ODF_VARIANT_SPANS),
    # EPUB: OCF → OPF spine → chapters through the HTML lane; a
    # non-linear cover must not extract
    "epub": (lambda v: ("epub", _epub_variant_doc(v), {}),
             _EPUB_VARIANT_SPANS),
    # Markdown: ATX + setext headings, inline markup, list, blockquote,
    # fenced code, GFM table, image
    "md": (lambda v: ("md", _MD_VARIANT_DOCS[v].encode("utf-8"), {}),
           _MD_VARIANT_SPANS),
    # Jupyter: markdown/code/raw cell dispatch, execute_result +
    # display_data + stream + error outputs, image media refs, ANSI
    # strip, list-form sources
    "ipynb": (lambda v: ("ipynb", _IPYNB_VARIANT_DOCS[v].encode("utf-8"), {}),
              _IPYNB_VARIANT_SPANS),
    # subtitles: SRT tags + multi-line cues; WebVTT NOTE blocks, cue
    # ids, settings, short + long timestamps, voice/class tags,
    # entities; BOM + index-less + out-of-order SRT with ASS overrides
    "subtitle": (lambda v: (_SUBTITLE_VARIANT_DOCS[v][0],
                            _SUBTITLE_VARIANT_DOCS[v][1].encode("utf-8"), {}),
                 _SUBTITLE_VARIANT_SPANS),
    # LaTeX: preamble title + \thanks strip, abstract transparency,
    # verbatim-protected comments, inline vs display math, itemize,
    # figure/table floats with caption→media alignment, tabular cells
    "latex": (lambda v: ("tex", _LATEX_VARIANT_DOCS[v].encode("utf-8"), {}),
              _LATEX_VARIANT_SPANS),
    # Word 97 binary: CFB multi-stream container, FIB, compressed +
    # UTF-16LE piece table, PAPX table/heading properties, field-code
    # strip, footnote/header regions
    "doc": (lambda v: ("doc", _DOC_VARIANT_DOCS[v], {}), _DOC_VARIANT_SPANS),
    # MediaWiki: template strip, link/ref cleanup, image caption →
    # media, redirect handling, math/code blocks, nowiki protection
    "wiki": (lambda v: ("wiki", _WIKI_VARIANT_DOCS[v].encode("utf-8"), {}),
             _WIKI_VARIANT_SPANS),
    # hOCR: header/caption/photo roles, page-image media refs, entity
    # unescape, orphan lines
    "hocr": (lambda v: ("hocr", _HOCR_VARIANT_DOCS[v], {}),
             _HOCR_VARIANT_SPANS),
    # PowerPoint 97 binary: CFB record walk, TextHeaderAtom typing,
    # bytes vs UTF-16 text atoms, CR paragraph split
    "ppt": (lambda v: ("ppt", _PPT_VARIANT_DOCS[v], {}), _PPT_VARIANT_SPANS),
    # email: MIME multipart walk, transfer decoding, RFC 2047 headers,
    # quote/signature boilerplate, HTML-body routing, attachments → media
    "eml": (lambda v: ("eml", _EML_VARIANT_DOCS[v], {}), _EML_VARIANT_SPANS),
    # delimiter dialects: the SAME table as TSV, semicolon .csv and pipe
    # .csv extracts one span list (the sniffer only fires on comma-free
    # samples, so reference comma parity is untouched)
    "dialect": (lambda v: (_DIALECT_VARIANT_DOCS[v][0],
                           _DIALECT_VARIANT_DOCS[v][1].encode(), {}),
                [_DIALECT_VARIANT_SPANS] * 3),
    # reStructuredText: adornment titles, inline cleanup, figure
    # caption→media, code/math directives, literal blocks, comment and
    # admonition drops, simple + grid tables
    "rst": (lambda v: ("rst", _RST_VARIANT_DOCS[v].encode("utf-8"), {}),
            _RST_VARIANT_SPANS),
    # AsciiDoc: title/heading levels, inline cleanup, captioned images,
    # source/literal/stem blocks, psv tables with span specs and
    # continuation cells
    "adoc": (lambda v: ("adoc", _ADOC_VARIANT_DOCS[v].encode("utf-8"), {}),
             _ADOC_VARIANT_SPANS),
    # Org-mode: #+TITLE, headline TODO/priority/tag stripping, captioned
    # images, src/fixed-width blocks, LaTeX-fragment math, drawer drops,
    # tables with rule rows and forced-break cells
    "org": (lambda v: ("org", _ORG_VARIANT_DOCS[v].encode("utf-8"), {}),
            _ORG_VARIANT_SPANS),
    # plain text: aligned table with ruler, CJK-wide gutters, and the
    # prose false-positive guard
    "txt": (lambda v: ("txt", _TXT_VARIANT_DOCS[v].encode("utf-8"), {}),
            _TXT_VARIANT_SPANS),
}


# lane name (queried as "<name>_table_rules") → (fmt, build): build is
# the operators/webtables.py variant-document builder.  The markup
# builders render the HTML variants' grids byte for byte, so those lanes
# share the verdict literals _WT_FAILS; pdf and fw have their own
# (_PDF_WT_FAILS, _FW_WT_FAILS).
_VARIANT_TABLE_LANES = {
    # outermost <table>s of a crawled page (colspan/rowspan → "" filler)
    "html": ("html", WT.variant_page),
    # README GFM pipe tables: empty cells state the span expansion,
    # <br> the embedded newline
    "md": ("md", WT.md_variant_doc),
    # {| … |} wikitables with HTML colspan/rowspan attributes; the
    # full-width indent survives the ASCII-only collapse
    "wiki": ("wiki", WT.wiki_variant_doc),
    # tabular environments: \multicolumn fillers, \newline breaks
    "tex": ("tex", WT.tex_variant_doc),
    # x-alignment blocks of the PDF layout lane: a row missing a run at
    # a column yields "" (the blank/merged-cell analog)
    "pdf": ("pdf", WT.variant_pdf),
    # Sphinx grid tables whose corner geometry expresses the spans
    "rst": ("rst", WT.rst_variant_doc),
    # psv cell specs (3+|, .2+|) and continuation lines
    "adoc": ("adoc", WT.adoc_variant_doc),
    # spans authored as explicit filler cells (Org tables cannot merge)
    "org": ("org", WT.org_variant_doc),
    # fixed-width terminal dumps: display-cell-aware gutter detection
    # must recover the grids, CJK-wide alignment included
    "fw": ("txt", WT.fw_variant_doc),
    # Word 97 TC80 merge flags in each row's sprmTDefTable
    "doc": ("doc", WT.doc_variant_doc),
}


def _extract_lane(name: str) -> Callable[[SparkSession, str], DataFrame]:
    variant_doc = _VARIANT_EXTRACT_LANES[name][0]
    return lambda spark, sf_dir: _variant_extract(spark, sf_dir, variant_doc)


def _table_rules_lane(name: str) -> Callable[[SparkSession, str], DataFrame]:
    fmt, build = _VARIANT_TABLE_LANES[name]
    return lambda spark, sf_dir: _variant_table_rules(
        spark, sf_dir, fmt, build
    )


def _extract_oracle(name: str) -> str:
    return _variant_extract_oracle_sql(_VARIANT_EXTRACT_LANES[name][1])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- Driver sample window (first 50 entries): the external
        # correctness gate hashes only these, so a stable core of
        # flagship lanes stays pinned while each round's NEWEST
        # families rotate in (VERDICT r4 next-round item 4).  The
        # local gate (tools/check_oracles.py) always runs all lanes.
        # core:
        "extract_span_stats": q_extract_span_stats,
        "extract_rule_results": q_extract_rule_results,
        "main_content_strip": q_main_content_strip,
        "summary_by_type": q_summary_by_type,
        "props_numeric": q_props_numeric,
        "rule_scan_docs": q_rule_scan_docs,
        "tpch_q1": q_tpch_q1,
        "quality_flags": q_quality_flags,
        # round 5:
        "takedown_purge": q_takedown_purge,
        "cdc_chunks": q_cdc_chunks,
        "mojibake_fix": q_mojibake_fix,
        "quantile_sketch": q_quantile_sketch,
        "lang_segments": q_lang_segments,
        "script_mix": q_script_mix,
        "interval_join": q_interval_join,
        # round 4 families (sketches, interleave, link graph,
        # tokenizers, retrieval, crawl QA, media near-dup, formats):
        "semantic_dedup": q_semantic_dedup,
        "winnow_fingerprints": q_winnow_fingerprints,
        "corpus_overlap_kmv": q_corpus_overlap_kmv,
        "corpus_hll_estimate": q_corpus_hll_estimate,
        "domain_distinct_hll": q_domain_distinct_hll,
        "cms_token_counts": q_cms_token_counts,
        "interleaved_segments": q_interleaved_segments,
        "interleaved_roundtrip": q_interleaved_roundtrip,
        "interleaved_doc_stats": q_interleaved_doc_stats,
        "interleaved_token_budget": q_interleaved_token_budget,
        "frequent_media_filter": q_frequent_media_filter,
        "media_quality_filter": q_media_quality_filter,
        "link_graph_degrees": q_link_graph_degrees,
        "pagerank_ranks": q_pagerank_ranks,
        "hits_scores": q_hits_scores,
        "anchor_texts": q_anchor_texts,
        "wordpiece_pair_scores": q_wordpiece_pair_scores,
        "bpe_pair_counts": q_bpe_pair_counts,
        "unigram_segments": q_unigram_segments,
        "bm25_topk": q_bm25_topk,
        "hybrid_rrf_topk": q_hybrid_rrf_topk,
        "ngram_lm_ppl": q_ngram_lm_ppl,
        "span_regression_diff": q_span_regression_diff,
        "robots_allowed": q_robots_allowed,
        "mime_sniff": q_mime_sniff,
        "image_dhash_dups": q_image_dhash_dups,
        "video_fold_dups": q_video_fold_dups,
        "exif_scan": q_exif_scan,
        "c4_line_filter": q_c4_line_filter,
        "structured_data": q_structured_data,
        "line_dedup": q_line_dedup,
        "site_boilerplate": q_site_boilerplate,
        "tfidf_top_terms": q_tfidf_top_terms,
        "url_canonical": q_url_canonical,
        "sitemap_urls": q_sitemap_urls,
        "text_normalize": q_text_normalize,
        "readability": q_readability,
        "bloom_new_docs": q_bloom_new_docs,
        "odf_extract": _extract_lane("odf"),
        "epub_extract": _extract_lane("epub"),
        "md_extract": _extract_lane("md"),
        # --- end of sample window ---
        "revenue_by_nation": q_revenue_by_nation,
        "top_orders_per_customer": q_top_orders_per_customer,
        "event_windows": q_event_windows,
        "event_hop_windows": q_event_hop_windows,
        "user_sessions": q_user_sessions,
        "rollup_orders": q_rollup_orders,
        "tpch_q3": q_tpch_q3,
        "customers_without_orders": q_customers_without_orders,
        "orders_grouping_sets": q_orders_grouping_sets,
        "token_stats_by_lang": q_token_stats_by_lang,
        "stopword_buckets": q_stopword_buckets,
        "lang_pred": q_lang_pred,
        "fingerprints": q_fingerprints,
        "exact_dedup_count": q_exact_dedup_count,
        "duplicate_groups": q_duplicate_groups,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "ngram_jaccard_prefix": q_ngram_jaccard_prefix,
        "cosine_topk": q_cosine_topk,
        "pair_score_filter": q_pair_score_filter,
        "ann_lsh_topk": q_ann_lsh_topk,
        "cleaning_funnel": q_cleaning_funnel,
        "near_dup_clusters": q_near_dup_clusters,
        "near_dup_clusters_star": q_near_dup_clusters_star,
        "cosine_pairs": q_cosine_pairs,
        "embedding_near_dups": q_embedding_near_dups,
        "minhash_index_query": q_minhash_index_query,
        "ivf_index_query": q_ivf_index_query,
        "repetition_stats": q_repetition_stats,
        "repetition_flags_default": q_repetition_flags_default,
        "dup_ngram_spans": q_dup_ngram_spans,
        "strip_dup_ngrams": q_strip_dup_ngrams,
        "pii_redaction": q_pii_redaction,
        "contamination": q_contamination,
        "split_manifest": q_split_manifest,
        "stratified_sample": q_stratified_sample,
        "domain_cap": q_domain_cap,
        "score_buckets": q_score_buckets,
        "doremi_mix_weights": q_doremi_mix_weights,
        "url_quality": q_url_quality,
        "warc_extract": q_warc_extract,
        "wet_roundtrip": q_wet_roundtrip,
        "cdxj_audit": q_cdxj_audit,
        "redirect_map": q_redirect_map,
        "cdx_range_fetch": q_cdx_range_fetch,
        "warc_revisit_dedup": q_warc_revisit_dedup,
        "html_table_rules": _table_rules_lane("html"),
        "md_table_rules": _table_rules_lane("md"),
        "wiki_table_rules": _table_rules_lane("wiki"),
        "page_metadata": q_page_metadata,
        "feed_entries": q_feed_entries,
        "frontier_schedule": q_frontier_schedule,
        "html_table_stats": q_html_table_stats,
        "pdf_table_rules": _table_rules_lane("pdf"),
        "pdf_table_stats": q_pdf_table_stats,
        "pdf_cjk_extract": q_pdf_cjk_extract,
        "pdf_columns_extract": q_pdf_columns_extract,
        "odf_rule_results": q_odf_rule_results,
        "ipynb_extract": _extract_lane("ipynb"),
        "subtitle_extract": _extract_lane("subtitle"),
        "transcript_windows": q_transcript_windows,
        "latex_extract": _extract_lane("latex"),
        "tex_table_rules": _table_rules_lane("tex"),
        "doc_extract": _extract_lane("doc"),
        "wiki_extract": _extract_lane("wiki"),
        "hocr_extract": _extract_lane("hocr"),
        "ocr_conf_stats": q_ocr_conf_stats,
        "ppt_extract": _extract_lane("ppt"),
        "render_text": q_render_text,
        "wiki_links": q_wiki_links,
        "eml_extract": _extract_lane("eml"),
        "dialect_extract": _extract_lane("dialect"),
        "rst_extract": _extract_lane("rst"),
        "rst_table_rules": _table_rules_lane("rst"),
        "crawl_delays": q_crawl_delays,
        "adoc_extract": _extract_lane("adoc"),
        "adoc_table_rules": _table_rules_lane("adoc"),
        "doc_table_rules": _table_rules_lane("doc"),
        "badwords_filter": q_badwords_filter,
        "fw_table_rules": _table_rules_lane("fw"),
        "txt_extract": _extract_lane("txt"),
        "org_extract": _extract_lane("org"),
        "org_table_rules": _table_rules_lane("org"),
        "auto_orient": q_auto_orient,
        "dsir_weights": q_dsir_weights,
        "pack_sequences": q_pack_sequences,
        "snapshot_delta": q_snapshot_delta,
        "cdx_latest": q_cdx_latest,
        "temperature_mix": q_temperature_mix,
        "training_order": q_training_order,
        "curriculum_order": q_curriculum_order,
        "corpus_datacard": q_corpus_datacard,
        "tokenizer_fertility": q_tokenizer_fertility,
        "hard_negatives": q_hard_negatives,
        "code_quality": q_code_quality,
        "license_scan": q_license_scan,
        "zorder_keys": q_zorder_keys,
        "corpus_diff": q_corpus_diff,
        "chunked_doc_topk": q_chunked_doc_topk,
        "ngram_top_counts": q_ngram_top_counts,
        "chunk_documents": q_chunk_documents,
        "pack_shards": q_pack_shards,
        "table_profile": q_table_profile,
        "quantized_topk": q_quantized_topk,
        "pq_adc_topk": q_pq_adc_topk,
        "ivfpq_index_query": q_ivfpq_index_query,
        "ivfpq_refined_topk": q_ivfpq_refined_topk,
        "media_context_pairs": q_media_context_pairs,
        "events_asof": q_events_asof,
    }


# ------------------------------------------------------------- oracle SQL

_TOKS = "list_filter(string_split(text, ' '), x -> x != '')"

_SPAN_STATS_SQL = f"""
WITH per_doc AS (
  SELECT
    len({_TOKS}) AS n,
    n_chars,
    CAST((5 - (len({_TOKS}) % 5)) % 5 AS BIGINT) AS pad,
  FROM documents
), cells AS (
  SELECT
    CAST((n + pad) / 5 AS BIGINT) AS n_rows,
    -- cell text: tokens tab-joined per row of 5 → per-doc total length =
    -- (chars minus the n-1 original separators) + 3*pad ('pad' tokens)
    -- + 4 tabs per row
    (n_chars - n + 1) + 3 * pad + 4 * CAST((n + pad) / 5 AS BIGINT) AS text_len
  FROM per_doc
)
SELECT 'cell' AS kind,
       CAST(SUM(n_rows) AS BIGINT) AS n_spans,
       CAST(SUM(text_len) AS BIGINT) AS total_text_len
FROM cells
UNION ALL
SELECT 'header' AS kind,
       CAST(5 * COUNT(*) AS BIGINT) AS n_spans,
       CAST(10 * COUNT(*) AS BIGINT) AS total_text_len
FROM documents
ORDER BY kind
"""

_RULE_RESULTS_SQL = """
WITH n AS (SELECT COUNT(*) AS c FROM documents)
SELECT r.rule_id, r.passed, n.c AS n_docs
FROM (VALUES
  ('L1-01', true), ('L1-02', true), ('L1-03', true), ('L1-04', true),
  ('L1-05', false), ('L1-06', true), ('L1-07', true), ('L1-08', true),
  ('L1-09', true), ('L1-10', true), ('L1-11', true), ('L1-12', true),
  ('L1-13', true), ('L1-14', true), ('L1-15', true), ('X-01', true),
  ('X-02', true), ('X-03', true), ('X-04', false), ('X-05', false),
  ('X-06', false), ('X-07', false)
) AS r(rule_id, passed), n
ORDER BY rule_id, passed
"""

_LANG_SCORE = {
    "en": "('the','a','of','and','to','in','is')",
    "es": "('el','la','de','y','que','en','los')",
    "de": "('der','die','das','und','nicht','ist','ein')",
    "fr": "('le','la','les','et','des','une','est')",
    "zh": "('的','是','了','在','有','和','不')",
}
_SCORE_COLS = ",\n    ".join(
    f"len(list_filter({_TOKS.replace('text', 'lower(text)')}, x -> x IN {v})) AS s_{k}"
    for k, v in _LANG_SCORE.items()
)
_LANG_PRED_SQL = f"""
WITH scored AS (
  SELECT lang,
    {_SCORE_COLS}
  FROM documents
), pred AS (
  SELECT lang,
    CASE
      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh
           AND s_en > 0 THEN 'en'
      WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0
           THEN 'es'
      WHEN s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
      WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
      WHEN s_zh > 0 THEN 'zh'
      ELSE 'und'
    END AS lang_pred
  FROM scored
)
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""

_MISSING_LIST = (
    "('不明','不詳','…','無記入','無回答','該当なし','なし','無し','n/a','na',"
    "'nan','未定','未記入','未入力','未回答','記載なし','対象外','空欄','空白',"
    "'不在','特になし','---','--','-','ー','―','？','?','わからない',"
    "'わかりません','なし（特記なし）','無し（詳細不明）','無効','省略','null','none')"
)


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_literal()
    out["ngram_jaccard_prefix"] = out["ngram_jaccard_pairs"]
    out["near_dup_clusters_star"] = out["near_dup_clusters"]
    out["minhash_near_dups"] = _minhash_oracle_sql()
    out["simhash_near_dups"] = _simhash_oracle_sql()
    out["ann_lsh_topk"] = _ann_oracle_sql()
    out["embedding_near_dups"] = _embedding_near_dups_oracle_sql()
    out["minhash_index_query"] = _minhash_index_oracle_sql()
    out["ivf_index_query"] = _IVF_INDEX_SQL
    out["repetition_stats"] = _REPETITION_SQL
    out["repetition_flags_default"] = _REPETITION_DEFAULT_SQL
    out["dup_ngram_spans"] = _DUP_NGRAM_SPANS_SQL
    out["strip_dup_ngrams"] = _STRIP_DUP_NGRAMS_SQL
    out["pii_redaction"] = _PII_REDACTION_SQL
    out["contamination"] = _contamination_oracle_sql()
    out["split_manifest"] = _SPLIT_MANIFEST_SQL
    out["stratified_sample"] = _STRATIFIED_SAMPLE_SQL
    out["domain_cap"] = _DOMAIN_CAP_SQL
    out["url_quality"] = _URL_QUALITY_SQL
    out["warc_extract"] = _WARC_EXTRACT_SQL
    out["wet_roundtrip"] = _WET_ROUNDTRIP_SQL
    out["cdxj_audit"] = _CDXJ_AUDIT_SQL
    out["redirect_map"] = _REDIRECT_MAP_SQL
    out["cdx_range_fetch"] = _CDX_RANGE_FETCH_SQL
    out["warc_revisit_dedup"] = _WARC_REVISIT_DEDUP_SQL
    out["html_table_rules"] = _table_rules_oracle_sql(_WT_FAILS)
    # md grids == html grids by construction → identical verdict matrix
    out["md_table_rules"] = _table_rules_oracle_sql(_WT_FAILS)
    out["page_metadata"] = _page_metadata_oracle_sql()
    out["feed_entries"] = _feed_entries_oracle_sql()
    out["frontier_schedule"] = _FRONTIER_SQL
    out["html_table_stats"] = _html_table_stats_oracle_sql()
    out["pdf_table_rules"] = _pdf_table_rules_oracle_sql()
    out["pdf_table_stats"] = _pdf_table_stats_oracle_sql()
    out["pdf_cjk_extract"] = _pdf_cjk_oracle_sql()
    out["pdf_columns_extract"] = _pdf_columns_oracle_sql()
    out["odf_extract"] = _extract_oracle("odf")
    out["odf_rule_results"] = _odf_rules_oracle_sql()
    out["ngram_lm_ppl"] = _NGRAM_LM_SQL
    out["epub_extract"] = _extract_oracle("epub")
    out["md_extract"] = _extract_oracle("md")
    out["ipynb_extract"] = _extract_oracle("ipynb")
    out["subtitle_extract"] = _extract_oracle("subtitle")
    out["transcript_windows"] = _TRANSCRIPT_WINDOWS_SQL
    out["latex_extract"] = _extract_oracle("latex")
    out["tex_table_rules"] = _table_rules_oracle_sql(_WT_FAILS)
    out["doc_extract"] = _extract_oracle("doc")
    out["wiki_extract"] = _extract_oracle("wiki")
    out["wiki_table_rules"] = _table_rules_oracle_sql(_WT_FAILS)
    out["hocr_extract"] = _extract_oracle("hocr")
    out["ocr_conf_stats"] = _ocr_conf_stats_oracle_sql()
    out["ppt_extract"] = _extract_oracle("ppt")
    out["render_text"] = _render_text_oracle_sql()
    out["wiki_links"] = _wiki_links_oracle_sql()
    out["eml_extract"] = _extract_oracle("eml")
    out["dialect_extract"] = _extract_oracle("dialect")
    out["rst_extract"] = _extract_oracle("rst")
    out["rst_table_rules"] = _table_rules_oracle_sql(_WT_FAILS)
    out["crawl_delays"] = _crawl_delays_oracle_sql()
    out["adoc_extract"] = _extract_oracle("adoc")
    out["adoc_table_rules"] = _table_rules_oracle_sql(_WT_FAILS)
    out["doc_table_rules"] = _table_rules_oracle_sql(_WT_FAILS)
    out["badwords_filter"] = _badwords_oracle_sql()
    out["fw_table_rules"] = _table_rules_oracle_sql(_FW_WT_FAILS)
    out["txt_extract"] = _extract_oracle("txt")
    out["org_extract"] = _extract_oracle("org")
    out["org_table_rules"] = _table_rules_oracle_sql(_WT_FAILS)
    out["bm25_topk"] = _BM25_SQL
    out["hybrid_rrf_topk"] = _HYBRID_RRF_SQL
    out["span_regression_diff"] = _SPAN_DIFF_SQL
    out["robots_allowed"] = _robots_oracle_sql()
    out["mime_sniff"] = _mime_oracle_sql()
    out["image_dhash_dups"] = _IMAGE_DHASH_SQL
    out["video_fold_dups"] = _IMAGE_DHASH_SQL  # same pair geometry
    out["exif_scan"] = _EXIF_SCAN_SQL
    out["c4_line_filter"] = _C4_SQL
    out["structured_data"] = _STRUCT_DATA_SQL
    out["auto_orient"] = _AUTO_ORIENT_SQL
    out["unigram_segments"] = _UNIGRAM_SQL
    out["temperature_mix"] = _TEMPERATURE_MIX_SQL
    out["training_order"] = _TRAINING_ORDER_SQL
    out["curriculum_order"] = _CURRICULUM_ORDER_SQL
    out["corpus_datacard"] = _DATACARD_SQL
    out["tokenizer_fertility"] = _FERTILITY_SQL
    out["hard_negatives"] = _HARD_NEGATIVES_SQL
    out["chunked_doc_topk"] = """
      WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 3
      ),
      scored AS (
        SELECT q.query_id, e.vec_id % 37 AS doc_id,
               list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(q.qv AS DOUBLE[])) AS cosine
        FROM embeddings e CROSS JOIN q
      ),
      pooled AS (
        SELECT query_id, doc_id, MAX(cosine) AS score,
               COUNT(*) AS n_chunks
        FROM scored GROUP BY query_id, doc_id
      ),
      r AS (
        SELECT query_id, doc_id, score, n_chunks,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rnk
        FROM pooled
      )
      SELECT query_id, doc_id, round(score, 6) AS score,
             CAST(n_chunks AS BIGINT) AS n_chunks,
             CAST(rnk AS INTEGER) AS rank
      FROM r WHERE rnk <= 5 ORDER BY query_id, rnk
    """
    out["code_quality"] = _CODE_QUALITY_SQL
    out["license_scan"] = _LICENSE_SCAN_SQL
    out["zorder_keys"] = _zorder_oracle_sql()
    out["corpus_diff"] = """
      WITH newc AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 11 != 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 13 = 0
      ),
      j AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               md5(o.text) AS ho, md5(n.text) AS hn
        FROM documents o FULL OUTER JOIN newc n
          ON o.doc_id = n.doc_id
      )
      SELECT CASE WHEN ho IS NULL THEN 'added'
                  WHEN hn IS NULL THEN 'removed'
                  WHEN ho = hn THEN 'same'
                  ELSE 'changed' END AS status,
             COUNT(*) AS n_docs
      FROM j GROUP BY status ORDER BY status
    """
    out["ngram_top_counts"] = _NGRAM_TOP_SQL
    out["bpe_pair_counts"] = _BPE_PAIRS_SQL
    out["chunk_documents"] = _CHUNK_SQL
    out["pack_shards"] = _PACK_SHARDS_SQL
    out["table_profile"] = _TABLE_PROFILE_SQL
    out["quantized_topk"] = _QUANTIZED_TOPK_SQL
    out["pq_adc_topk"] = _PQ_ADC_SQL
    out["ivfpq_index_query"] = _IVFPQ_SQL
    out["ivfpq_refined_topk"] = _IVFPQ_REFINED_SQL
    out["media_context_pairs"] = _MEDIA_CONTEXT_SQL
    out["interleaved_segments"] = _INTERLEAVED_SQL
    out["interleaved_roundtrip"] = _INTERLEAVED_SQL
    out["interleaved_doc_stats"] = _INTERLEAVED_STATS_SQL
    out["interleaved_token_budget"] = _INTERLEAVED_BUDGET_SQL
    out["frequent_media_filter"] = _FREQ_MEDIA_SQL
    out["media_quality_filter"] = _MEDIA_QUALITY_SQL
    out["events_asof"] = _EVENTS_ASOF_SQL
    out["link_graph_degrees"] = _LINK_DEGREES_SQL
    out["pagerank_ranks"] = _pagerank_oracle_sql()
    out["hits_scores"] = _hits_oracle_sql()
    out["anchor_texts"] = _ANCHOR_TEXTS_SQL
    out["url_canonical"] = _URL_CANONICAL_SQL
    out["sitemap_urls"] = _SITEMAP_URLS_SQL
    out["text_normalize"] = _TEXT_NORMALIZE_SQL
    out["readability"] = _READABILITY_SQL
    out["line_dedup"] = _LINE_DEDUP_SQL
    out["site_boilerplate"] = _SITE_BOILERPLATE_SQL
    out["tfidf_top_terms"] = _TFIDF_SQL
    out["bloom_new_docs"] = _BLOOM_NEW_DOCS_SQL
    out["semantic_dedup"] = _SEMANTIC_DEDUP_SQL
    out["dsir_weights"] = _dsir_oracle_sql()
    out["pack_sequences"] = _PACK_SEQUENCES_SQL
    out["snapshot_delta"] = _SNAPSHOT_DELTA_SQL
    out["cdx_latest"] = _CDX_LATEST_SQL
    out["takedown_purge"] = _TAKEDOWN_PURGE_SQL
    out["cdc_chunks"] = _CDC_CHUNKS_SQL
    out["mojibake_fix"] = _MOJIBAKE_FIX_SQL
    out["quantile_sketch"] = _QUANTILE_SKETCH_SQL
    out["lang_segments"] = _lang_segments_oracle_sql()
    out["script_mix"] = _SCRIPT_MIX_SQL
    out["interval_join"] = _INTERVAL_JOIN_SQL
    return out


# Link-graph oracles: the synthetic crawl's hyperlink structure is pure
# doc_id arithmetic (page i → (7i+3) mod N and (13i+5) mod N, i%10==0
# dangling), so DuckDB regenerates the exact graph without any HTML.

_LINK_EDGES_CTE = """
m AS (SELECT COUNT(*) AS c FROM documents),
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id * 7 + 3) % m.c AS dst
    FROM documents, m WHERE doc_id % 10 != 0
    UNION ALL
    SELECT doc_id AS src, (doc_id * 13 + 5) % m.c AS dst
    FROM documents, m WHERE doc_id % 10 != 0
  ) WHERE src != dst
)
"""

_LINK_DEGREES_SQL = f"""
WITH {_LINK_EDGES_CTE},
ends AS (
  SELECT src AS doc_id, 1 AS o, 0 AS i FROM e
  UNION ALL
  SELECT dst AS doc_id, 0 AS o, 1 AS i FROM e
)
SELECT doc_id,
       CAST(SUM(o) AS BIGINT) AS out_degree,
       CAST(SUM(i) AS BIGINT) AS in_degree
FROM ends GROUP BY doc_id ORDER BY doc_id
"""


def _pagerank_oracle_sql() -> str:
    """Unrolled {_PR_ITERS}-iteration PageRank as chained CTEs (DuckDB
    recursive CTEs can't aggregate over the working table, so the fixed
    iteration count is unrolled instead) — same damping, uniform
    teleport, and dangling-mass redistribution as operators.linkgraph
    .pagerank, term for term so the doubles match to well past the
    5dp rounding."""
    iters = []
    prev = "r0"
    for t in range(1, _PR_ITERS + 1):
        iters.append(f"""
r{t} AS (
  SELECT b.doc_id, b.od,
         (1 - {_PR_DAMPING}) / nn.c
           + {_PR_DAMPING} * (COALESCE(c.contrib, 0) + d.mass / nn.c)
           AS rank
  FROM base b
  LEFT JOIN (
    SELECT e.dst AS doc_id, SUM(r.rank / r.od) AS contrib
    FROM e JOIN {prev} r ON e.src = r.doc_id GROUP BY e.dst
  ) c USING (doc_id)
  CROSS JOIN (
    SELECT COALESCE(SUM(CASE WHEN od = 0 THEN rank END), 0) AS mass
    FROM {prev}
  ) d
  CROSS JOIN nn
)""")
        prev = f"r{t}"
    return f"""
WITH {_LINK_EDGES_CTE},
nodes AS (
  SELECT DISTINCT doc_id FROM (
    SELECT src AS doc_id FROM e UNION ALL SELECT dst AS doc_id FROM e
  )
),
deg AS (SELECT src AS doc_id, COUNT(*) AS od FROM e GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes),
base AS (
  SELECT n.doc_id, COALESCE(dg.od, 0) AS od
  FROM nodes n LEFT JOIN deg dg USING (doc_id)
),
r0 AS (SELECT doc_id, od, 1.0 / nn.c AS rank FROM base, nn),
{','.join(iters)}
SELECT doc_id, ROUND(rank * nn.c, 5) AS rank_scaled
FROM {prev}, nn ORDER BY doc_id
"""


_ANCHOR_TEXTS_SQL = """
WITH m AS (SELECT COUNT(*) AS c FROM documents),
raw AS (
  SELECT (doc_id * 7 + 3) % m.c AS dst,
         'read doc ' || CAST(((doc_id * 7 + 3) % m.c) % 11 AS VARCHAR)
           AS anchor
  FROM documents, m WHERE doc_id % 10 != 0
  UNION ALL
  SELECT (doc_id * 13 + 5) % m.c,
         'see doc ' || CAST(((doc_id * 13 + 5) % m.c) % 11 AS VARCHAR)
  FROM documents, m WHERE doc_id % 10 != 0
  UNION ALL
  SELECT doc_id, 'permalink' FROM documents
),
counts AS (
  SELECT dst, anchor, COUNT(*) AS n_occurrences
  FROM raw GROUP BY dst, anchor
),
ranked AS (
  SELECT dst, anchor, n_occurrences,
         ROW_NUMBER() OVER (
           PARTITION BY dst ORDER BY n_occurrences DESC, anchor
         ) AS rn
  FROM counts
)
SELECT dst AS doc_id, anchor,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn
"""


_URL_CANONICAL_SQL = """
SELECT doc_id,
       'https://sub' || CAST(doc_id % 5 AS VARCHAR)
         || '.src' || CAST(doc_id % 20 AS VARCHAR)
         || CAST(doc_id % 7 AS VARCHAR)
         || CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
            ELSE '.org.au' END
         || '/docs/' || CAST(doc_id AS VARCHAR)
         || '?ref=r' || CAST(doc_id % 2 AS VARCHAR)
         || CASE WHEN doc_id % 5 = 2 THEN '&z=9'
                 WHEN doc_id % 5 = 4 THEN '&x=~%2F'
                 ELSE '' END
         AS canonical_url,
       TRUE AS matches
FROM documents ORDER BY doc_id
"""


_READABILITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
sents AS (
  SELECT doc_id, t,
         CASE WHEN len(t) > 0 THEN
           array_to_string(
             [array_to_string(t[(i * 10 + 1):(i * 10 + 10)], ' ')
              for i in range(CAST(ceil(len(t) / 10.0) AS BIGINT))],
             '. ') || '.'
         ELSE '' END AS text
  FROM toks
),
ptoks AS (
  -- the Spark lane tokenizes the RE-PUNCTUATED text, so words carry
  -- their trailing periods; mirror that exactly (it changes the
  -- silent-e discount: 'merge.' ends in '.', not 'e')
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x != '') AS pt
  FROM sents
),
m AS (
  SELECT doc_id,
         CAST(len(pt) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS n_sentences,
         CAST(COALESCE(list_sum(list_transform(pt, w ->
           greatest(
             len(regexp_extract_all(lower(w), '[aeiouy]+'))
             - CASE WHEN regexp_matches(lower(w), '[^aeiouy]e$')
               THEN 1 ELSE 0 END,
             1))), 0) AS BIGINT) AS n_syllables
  FROM ptoks
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN ROUND(
         206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
         - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 5)
       END AS reading_ease,
       CASE WHEN n_words > 0 THEN ROUND(
         0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
         + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 5)
       END AS fk_grade
FROM m ORDER BY doc_id
"""


_TEXT_NORMALIZE_SQL = """
WITH messy AS (
  SELECT doc_id,
         text || ' e' || chr(769) || ' o' || chr(776) || ' a' || chr(778)
           AS text
  FROM documents
)
SELECT doc_id,
       CAST(length(nfc_normalize(text)) AS BIGINT) AS norm_len,
       right(nfc_normalize(text), 5) AS tail,
       nfc_normalize(text) != text AS changed
FROM messy ORDER BY doc_id
"""


_SITEMAP_URLS_SQL = """
SELECT 'https://cohort' || CAST(doc_id % 20 AS VARCHAR) || '/sitemap.xml'
         AS source_url,
       'url' AS kind,
       'https://sub' || CAST(doc_id % 5 AS VARCHAR)
         || '.src' || CAST(doc_id % 20 AS VARCHAR)
         || CAST(doc_id % 7 AS VARCHAR)
         || CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
            ELSE '.org.au' END
         || '/docs/' || CAST(doc_id AS VARCHAR)
         || '?ref=r' || CAST(doc_id % 2 AS VARCHAR) AS loc,
       '2026-01-0' || CAST(doc_id % 7 + 1 AS VARCHAR) AS lastmod,
       CAST(doc_id % 9 + 1 AS DOUBLE) / 10 AS priority
FROM documents ORDER BY loc
"""


_LINE_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
cpd AS (
  SELECT doc_id, CAST(ceil(len(t) / 8.0) AS BIGINT) AS ncl FROM toks
),
content AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[(i * 8 + 1):(i * 8 + 8)], ' ') AS line
  FROM (
    SELECT doc_id, t,
           unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS i
    FROM toks WHERE len(t) > 0
  )
),
alllines AS (
  SELECT doc_id, pos, line FROM content
  UNION ALL
  SELECT doc_id, ncl, 'subscribe to our newsletter today' FROM cpd
  UNION ALL
  SELECT doc_id, ncl + 1, 'shared footer ' || CAST(doc_id % 37 AS VARCHAR)
  FROM cpd
),
cnt AS (SELECT line, COUNT(*) AS c FROM alllines GROUP BY line),
kept AS (
  SELECT a.doc_id, a.pos, a.line
  FROM alllines a JOIN cnt USING (line) WHERE cnt.c < 2
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         length(string_agg(line, chr(10) ORDER BY pos)) AS out_len
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(cpd.ncl + 2 AS BIGINT) AS n_lines,
       CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(agg.out_len, 0) AS BIGINT) AS out_len
FROM documents d
JOIN cpd USING (doc_id)
LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


_SITE_BOILERPLATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
),
cpd AS (
  SELECT doc_id, source,
         CAST(ceil(len(t) / 8.0) AS BIGINT) AS ncl
  FROM toks
),
content AS (
  SELECT doc_id, source, CAST(i AS BIGINT) AS pos,
         array_to_string(t[(i * 8 + 1):(i * 8 + 8)], ' ') AS line
  FROM (
    SELECT doc_id, source, t,
           unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS i
    FROM toks WHERE len(t) > 0
  )
),
alllines AS (
  SELECT doc_id, source, pos, line FROM content
  UNION ALL
  SELECT doc_id, source, ncl, 'nav menu for ' || source FROM cpd
  UNION ALL
  SELECT doc_id, source, ncl + 1,
         'banner ' || CAST(doc_id % 2 AS VARCHAR) FROM cpd
  UNION ALL
  SELECT doc_id, source, ncl + 2,
         'promo ' || CAST(doc_id % 7 AS VARCHAR) FROM cpd
),
sp AS (
  SELECT source, COUNT(DISTINCT doc_id) AS site_pages
  FROM documents GROUP BY source
),
bl AS (
  SELECT source, line FROM (
    SELECT a.source, a.line,
           COUNT(DISTINCT a.doc_id) AS n_pages,
           any_value(sp.site_pages) AS site_pages
    FROM alllines a JOIN sp USING (source)
    GROUP BY a.source, a.line
  )
  WHERE n_pages >= 2
    AND CAST(n_pages AS DOUBLE) / site_pages >= 0.3
),
kept AS (
  SELECT a.doc_id, a.pos, a.line
  FROM alllines a
  LEFT JOIN bl ON a.source = bl.source AND a.line = bl.line
  WHERE bl.line IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         length(string_agg(line, chr(10) ORDER BY pos)) AS out_len
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       d.source AS site,
       CAST(cpd.ncl + 3 AS BIGINT) AS n_lines,
       CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(agg.out_len, 0) AS BIGINT) AS out_len
FROM documents d
JOIN cpd USING (doc_id)
LEFT JOIN agg USING (doc_id)
ORDER BY d.doc_id
"""


_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM documents),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (ln((n.c + 1.0) / (dfreq.df + 1.0)) + 1.0) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, score,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term
         ) AS rn
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       ROUND(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5 ORDER BY doc_id, rn
"""


# Engine-portable LSH oracles: the query lanes use md5-derived token
# hashes (dedup.py portable=True) and literal seeded hyperplanes, so the
# DuckDB side below reconstructs signatures / buckets bit-for-bit.


def _md5_int_sql(var: str, nhex: int) -> str:
    """SQL for the integer value of the first ``nhex`` hex chars of
    md5(var) — the DuckDB twin of Spark's conv(substring(md5(t),1,n),16,10)."""
    terms = [
        f"(strpos('0123456789abcdef', substr(md5({var}),{i},1))-1)"
        f"*{16 ** (nhex - i)}"
        for i in range(1, nhex + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def _minhash_oracle_sql(
    num_perm: int = 64, bands: int = 16, threshold: float = 0.2, seed: int = 42
) -> str:
    """Band-for-band MinHash-LSH twin of ``q_minhash_near_dups``
    (shingle_k=3): portable 28-bit token hashes → base-33 3-gram shingles
    (with the short-document fallback) → 64 permutation mins with the
    same seeded (a,b) constants → 16 bands of 4 keyed on the value string
    → candidate pairs → signature-estimated Jaccard ≥ threshold."""
    from machine_readability_checker_spark.operators.dedup import (
        MERSENNE_P,
        _perm_params,
    )

    a, b = _perm_params(num_perm, seed)
    rpb = num_perm // bands
    hex7 = _md5_int_sql("t", 7)
    mins = ",\n          ".join(
        f"list_min(list_transform(sh, s -> "
        f"({ai} * (s % {MERSENNE_P}) + {bi}) % {MERSENNE_P}))"
        for ai, bi in zip(a, b)
    )
    est = (
        f"len(list_filter(range(1, {num_perm + 1}), "
        f"i -> sa.sig[i] = sb.sig[i])) / {float(num_perm)}"
    )
    return f"""
        WITH tk AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 list_transform({_TOKS}, t -> {hex7}) AS th
          FROM documents
        ), base AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(th) >= 3
                   THEN [th[i]*1089 + th[i+1]*33 + th[i+2]
                         for i in range(1, len(th) - 1)]
                   ELSE [list_reduce(th[1:7], (acc, x) -> acc*33 + x)] END
                 ) AS sh
          FROM tk WHERE len(th) > 0
        ), sigs AS (
          SELECT doc_id, [{mins}] AS sig FROM base
        ), bandtab AS (
          SELECT doc_id, j AS band,
                 array_to_string(sig[{rpb}*j+1 : {rpb}*j+{rpb}], '-')
                   AS band_key
          FROM sigs CROSS JOIN (SELECT unnest(range(0, {bands})) AS j)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bandtab a JOIN bandtab b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, {est} AS jaccard_est
        FROM cand
        JOIN sigs sa ON sa.doc_id = cand.id_a
        JOIN sigs sb ON sb.doc_id = cand.id_b
        WHERE {est} >= {threshold}
        ORDER BY id_a, id_b
    """


def _minhash_index_oracle_sql(
    num_perm: int = 64, bands: int = 16, threshold: float = 0.2, seed: int = 42
) -> str:
    """Bipartite twin of ``q_minhash_index_query``: same portable
    signatures as ``_minhash_oracle_sql``, but candidates come from a
    query-side × corpus-side band join (md5-mod-8 split) instead of a
    self-join — the SQL mirror of probing the materialized index."""
    from machine_readability_checker_spark.operators.dedup import (
        MERSENNE_P,
        _perm_params,
    )

    a, b = _perm_params(num_perm, seed)
    rpb = num_perm // bands
    hex7 = _md5_int_sql("t", 7)
    split = _md5_int_sql("CAST(doc_id AS VARCHAR)", 2)
    mins = ",\n          ".join(
        f"list_min(list_transform(sh, s -> "
        f"({ai} * (s % {MERSENNE_P}) + {bi}) % {MERSENNE_P}))"
        for ai, bi in zip(a, b)
    )
    est = (
        f"len(list_filter(range(1, {num_perm + 1}), "
        f"i -> sa.sig[i] = sb.sig[i])) / {float(num_perm)}"
    )
    return f"""
        WITH tk AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 ({split} % 8 = 0) AS is_q,
                 list_transform({_TOKS}, t -> {hex7}) AS th
          FROM documents
        ), base AS (
          SELECT doc_id, is_q,
                 list_distinct(
                   CASE WHEN len(th) >= 3
                   THEN [th[i]*1089 + th[i+1]*33 + th[i+2]
                         for i in range(1, len(th) - 1)]
                   ELSE [list_reduce(th[1:7], (acc, x) -> acc*33 + x)] END
                 ) AS sh
          FROM tk WHERE len(th) > 0
        ), sigs AS (
          SELECT doc_id, is_q, [{mins}] AS sig FROM base
        ), bandtab AS (
          SELECT doc_id, is_q, j AS band,
                 array_to_string(sig[{rpb}*j+1 : {rpb}*j+{rpb}], '-')
                   AS band_key
          FROM sigs CROSS JOIN (SELECT unnest(range(0, {bands})) AS j)
        ), cand AS (
          SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS doc_id
          FROM bandtab q JOIN bandtab c
            ON q.band = c.band AND q.band_key = c.band_key
          WHERE q.is_q AND NOT c.is_q
        )
        SELECT cand.query_id, cand.doc_id, {est} AS jaccard_est
        FROM cand
        JOIN sigs sa ON sa.doc_id = cand.query_id
        JOIN sigs sb ON sb.doc_id = cand.doc_id
        WHERE {est} >= {threshold}
        ORDER BY cand.query_id, cand.doc_id
    """


# ---- full Gopher battery oracle, assembled per n-gram order ----------
# list-comprehension recomputation of every battery signal; O(m²) per
# document is fine at oracle scale (sf0.01, ≤100 tokens/doc)

def _sql_ngrams(n: int) -> str:
    return (
        f"[array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(toks)-{n}+2, 1))]"
    )


def _sql_dup_nonfirst_chars(arr: str) -> str:
    """Σ len over non-first occurrences (the dup line/para numerator)."""
    return (
        f"COALESCE(list_sum([CAST(len({arr}[i]) AS BIGINT) "
        f"for i in range(1, len({arr})+1) "
        f"if list_position({arr}[1:i-1], {arr}[i]) > 0]), 0)"
    )


def _sql_frac(num: str, den: str) -> str:
    return f"CASE WHEN {den} > 0 THEN CAST({num} AS BIGINT) / {den} ELSE 0.0 END"


_BAT_TOP = {
    n: (
        f"COALESCE(list_max([CAST(len([y for y in g{n} if y = g{n}[i]]) "
        f"AS BIGINT) * (len(g{n}[i]) - {n - 1}) "
        f"for i in range(1, len(g{n})+1)]), 0)"
    )
    for n in TS.TOP_NGRAM_CHAR_THRESHOLDS
}
_BAT_COV = {
    n: (
        f"COALESCE(list_sum([CAST(len(toks[j]) AS BIGINT) "
        f"for j in range(1, len(toks)+1) "
        f"if len([r for r in r{n} if r <= j and j <= r + {n - 1}]) > 0]), 0)"
    )
    for n in TS.DUP_NGRAM_CHAR_THRESHOLDS
}
_BAT_GRAM_COLS = ",\n      ".join(
    f"{_sql_ngrams(n)} AS g{n}"
    for n in list(TS.TOP_NGRAM_CHAR_THRESHOLDS)[1:]
    + list(TS.DUP_NGRAM_CHAR_THRESHOLDS)
)
_BAT_REP_COLS = ",\n      ".join(
    f"[i for i in range(1, len(g{n})+1) "
    f"if list_position(g{n}[1:i-1], g{n}[i]) > 0] AS r{n}"
    for n in TS.DUP_NGRAM_CHAR_THRESHOLDS
)
_BAT_STAT_COLS = ",\n      ".join(
    [
        _sql_frac("len(lines) - len(list_distinct(lines))", "len(lines)")
        + " AS dup_line_frac",
        _sql_frac("len(paras) - len(list_distinct(paras))", "len(paras)")
        + " AS dup_para_frac",
        _sql_frac(_sql_dup_nonfirst_chars("lines"), "lchars")
        + " AS dup_line_char_frac",
        _sql_frac(_sql_dup_nonfirst_chars("paras"), "pchars")
        + " AS dup_para_char_frac",
    ]
    + [
        _sql_frac(_BAT_TOP[n], "tchars") + f" AS top_{n}gram_char_frac"
        for n in TS.TOP_NGRAM_CHAR_THRESHOLDS
    ]
    + [
        _sql_frac(_BAT_COV[n], "tchars") + f" AS dup_{n}gram_char_frac"
        for n in TS.DUP_NGRAM_CHAR_THRESHOLDS
    ]
)
_BAT_OUT_FRACS = ",\n           ".join(
    f"round({c}, 6) AS {c}" for c in _BATTERY_FRACS
)
_BAT_OUT_FLAGS = ",\n           ".join(
    [
        f"dup_line_frac > {TS.MAX_DUP_LINE_FRAC} AS dup_lines",
        f"dup_para_frac > {TS.MAX_DUP_PARA_FRAC} AS dup_paras",
        f"dup_line_char_frac > {TS.MAX_DUP_LINE_CHAR_FRAC} AS dup_line_chars",
        f"dup_para_char_frac > {TS.MAX_DUP_PARA_CHAR_FRAC} AS dup_para_chars",
    ]
    + [
        f"top_{n}gram_char_frac > {t} AS top_{n}gram_chars"
        for n, t in TS.TOP_NGRAM_CHAR_THRESHOLDS.items()
    ]
    + [
        f"dup_{n}gram_char_frac > {t} AS dup_{n}gram_chars"
        for n, t in TS.DUP_NGRAM_CHAR_THRESHOLDS.items()
    ]
)

_REPETITION_SQL = f"""
    WITH docs AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
      UNION ALL
      SELECT 'bat-' || lpad(CAST(i AS VARCHAR), 2, '0'),
             repeat('p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 ', 2)
               || 'tail' || CAST(i AS VARCHAR)
               || chr(10) || 'LN dup' || chr(10) || 'LN dup'
               || chr(10) || 'LN ' || CAST(i AS VARCHAR)
               || chr(10) || chr(10) || 'PP dup'
               || chr(10) || chr(10) || 'PP dup'
      FROM range(12) t(i)
    ), t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM docs
    ), g AS (
      SELECT doc_id, toks,
      CASE WHEN len(toks) >= 2
      THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
      ELSE [] END AS g2,
      COALESCE(list_sum(list_transform(toks, x -> CAST(len(x) AS BIGINT))), 0) AS tchars,
      [x for x in string_split(text, chr(10)) if x != ''] AS lines,
      [x for x in regexp_split_to_array(text, '\\n\\s*\\n') if x != ''] AS paras,
      {_BAT_GRAM_COLS}
      FROM t
    ), rp AS (
      SELECT *,
      COALESCE(list_sum(list_transform(lines, x -> CAST(len(x) AS BIGINT))), 0) AS lchars,
      COALESCE(list_sum(list_transform(paras, x -> CAST(len(x) AS BIGINT))), 0) AS pchars,
      {_BAT_REP_COLS}
      FROM g
    ), top AS (
      SELECT doc_id, MAX(c) AS top_cnt FROM (
        SELECT doc_id, b, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(g2) AS b FROM g)
        GROUP BY doc_id, b
      ) GROUP BY doc_id
    ), stats AS (
      SELECT rp.doc_id,
        CASE WHEN len(toks) > 0
             THEN (len(toks) - len(list_distinct(toks))) / len(toks)
             ELSE 0.0 END AS dtf,
        CASE WHEN len(g2) > 0
             THEN (len(g2) - len(list_distinct(g2))) / len(g2)
             ELSE 0.0 END AS dbf,
        CASE WHEN len(g2) > 0
             THEN COALESCE(top.top_cnt, 0) / len(g2)
             ELSE 0.0 END AS tbf,
      {_BAT_STAT_COLS}
      FROM rp LEFT JOIN top ON rp.doc_id = top.doc_id
    )
    SELECT doc_id,
           round(dtf, 6) AS dup_token_frac,
           round(dbf, 6) AS dup_bigram_frac,
           round(tbf, 6) AS top_bigram_frac,
           {_BAT_OUT_FRACS},
           dtf > 0.6 AS too_many_dup_tokens,
           tbf > 0.1 AS looping_bigram,
           {_BAT_OUT_FLAGS}
    FROM stats ORDER BY doc_id
"""


def _pii_redaction_sql() -> str:
    """Twin of q_pii_redaction: same union, same patterns (Java regex ∩
    RE2 dialect), same replacement ORDER, DuckDB's regexp_replace needs
    the explicit 'g' flag."""
    from machine_readability_checker_spark.operators.textstats import (
        PII_RULES,
    )

    counts = ",\n      ".join(
        "CAST(len(regexp_extract_all(text, '{}')) AS INT) AS {}".format(
            pat,
            {"ip": "n_ips", "ipv6": "n_ipv6s"}.get(name, f"n_{name}s"),
        )
        for name, pat, _repl in PII_RULES
    )
    redacted = "text"
    for _name, pat, repl in PII_RULES:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH docs AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
      UNION ALL
      SELECT 'pii-' || lpad(CAST(i AS VARCHAR), 2, '0'),
             'ping 10.0.0.' || i || ' mail user' || i
               || '@ex-host.com call 555-123-' || CAST(i + 4000 AS VARCHAR)
               || ' card 4111-1111-2222-333' || CAST(i % 10 AS VARCHAR)
               || ' ssn 123-45-678' || CAST(i % 10 AS VARCHAR)
               || ' v6 2001:db8::8a2e:' || CAST(i + 100 AS VARCHAR)
               || ' done'
      FROM range(15) t(i)
    )
    SELECT doc_id,
      {counts},
      {redacted} AS text_redacted
    FROM docs ORDER BY doc_id
    """


_PII_REDACTION_SQL = _pii_redaction_sql()


# Twins of the ExactSubstr lanes (window W=8, min_count 2): windows via
# 1-based list_slice, duplicate keys by plain GROUP BY on the window
# string, maximal spans via the gaps-and-islands window pair, and the
# strip lane re-filters tokens with indexed list lambdas against the
# aligned (starts, ends) lists — no structs in lists, dodging the Arrow
# element-field-name trap from NOTES_r2.
_DUP_NGRAM_CTE = f"""
    WITH t AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_TOKS} AS toks
      FROM documents
    ), w AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             array_to_string(list_slice(toks, i, i + 7), ' ') AS win
      FROM t, LATERAL unnest(range(1, greatest(len(toks) - 6, 1))) AS u(i)
      WHERE len(toks) >= 8
    ), dup AS (
      SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2
    ), hits AS (
      SELECT w.doc_id, w.pos FROM w JOIN dup USING (win)
    ), isl AS (
      SELECT doc_id, pos,
        CASE WHEN max(pos + 8) OVER prev IS NULL
               OR pos > max(pos + 8) OVER prev - 1
             THEN 1 ELSE 0 END AS newisl
      FROM hits
      WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), grp AS (
      SELECT doc_id, pos,
        SUM(newisl) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ), spans AS (
      SELECT doc_id, CAST(MIN(pos) AS INT) AS start_tok,
             CAST(MAX(pos) + 8 AS INT) AS end_tok
      FROM grp GROUP BY doc_id, island
    )
"""

_DUP_NGRAM_SPANS_SQL = (
    _DUP_NGRAM_CTE
    + " SELECT doc_id, start_tok, end_tok FROM spans"
      " ORDER BY doc_id, start_tok"
)

_STRIP_DUP_NGRAMS_SQL = (
    _DUP_NGRAM_CTE
    + """
    , per_doc AS (
      SELECT doc_id,
             list(start_tok ORDER BY start_tok) AS starts,
             list(end_tok ORDER BY start_tok) AS ends
      FROM spans GROUP BY doc_id
    ), joined AS (
      SELECT t.doc_id, t.toks,
             COALESCE(p.starts, []) AS starts,
             COALESCE(p.ends, []) AS ends
      FROM t LEFT JOIN per_doc p USING (doc_id)
    ), kept AS (
      SELECT doc_id, toks,
        list_filter(
          toks,
          (x, i) -> len(list_filter(
            starts, (s, j) -> (i - 1) >= s AND (i - 1) < ends[j]
          )) = 0
        ) AS keep
      FROM joined
    )
    SELECT doc_id,
           -- DuckDB's array_to_string([]) is NULL; Spark's concat_ws is ''
           COALESCE(array_to_string(keep, ' '), '') AS text,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(toks) - len(keep) AS INT) AS n_dup_tokens
    FROM kept ORDER BY doc_id
"""
)


# Twin of q_repetition_flags_default: same doc union (the loopy family
# rebuilt in SQL), PRODUCTION thresholds 0.6 / 0.18.
_REPETITION_DEFAULT_SQL = f"""
    WITH docs AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
      UNION ALL
      SELECT 'loop-' || lpad(CAST(i AS VARCHAR), 2, '0'),
             repeat('spam ham ', CAST(i + 10 AS INT))
               || 'unique tail ' || CAST(i AS VARCHAR)
      FROM range(20) t(i)
    ), t AS (
      SELECT doc_id, {_TOKS} AS toks FROM docs
    ), bg AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2
             THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             ELSE [] END AS bgs
      FROM t
    ), top AS (
      SELECT doc_id, MAX(c) AS top_cnt FROM (
        SELECT doc_id, b, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(bgs) AS b FROM bg)
        GROUP BY doc_id, b
      ) GROUP BY doc_id
    ), stats AS (
      SELECT bg.doc_id,
        CASE WHEN len(toks) > 0
             THEN (len(toks) - len(list_distinct(toks))) / len(toks)
             ELSE 0.0 END AS dtf,
        CASE WHEN len(bgs) > 0
             THEN COALESCE(top.top_cnt, 0) / len(bgs)
             ELSE 0.0 END AS tbf
      FROM bg LEFT JOIN top ON bg.doc_id = top.doc_id
    )
    SELECT doc_id,
           round(tbf, 6) AS top_bigram_frac,
           dtf > 0.6 AS too_many_dup_tokens,
           tbf > 0.18 AS looping_bigram
    FROM stats ORDER BY doc_id
"""


def _contamination_oracle_sql(min_common: int = 5) -> str:
    """Twin of ``q_contamination``: portable 3-gram shingle sets, unnest
    both sides, count distinct shared shingles per (corpus, bench) pair."""
    hex7 = _md5_int_sql("t", 7)
    split = _md5_int_sql("CAST(doc_id AS VARCHAR)", 2)
    return f"""
        WITH tk AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 ({split} % 8 = 0) AS is_b,
                 list_transform({_TOKS}, t -> {hex7}) AS th
          FROM documents
        ), base AS (
          SELECT doc_id, is_b,
                 list_distinct(
                   CASE WHEN len(th) >= 3
                   THEN [th[i]*1089 + th[i+1]*33 + th[i+2]
                         for i in range(1, len(th) - 1)]
                   ELSE [list_reduce(th[1:7], (acc, x) -> acc*33 + x)] END
                 ) AS sh
          FROM tk WHERE len(th) > 0
        ), cs AS (
          SELECT doc_id AS corpus_id, unnest(sh) AS s FROM base WHERE NOT is_b
        ), bs AS (
          SELECT doc_id AS bench_id, unnest(sh) AS s FROM base WHERE is_b
        )
        SELECT corpus_id, bench_id, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM cs JOIN bs USING (s)
        GROUP BY corpus_id, bench_id
        HAVING COUNT(*) >= {min_common}
        ORDER BY corpus_id, bench_id
    """


_HASH_BUCKET = (
    "("
    + _md5_int_sql("CAST(doc_id AS VARCHAR)", 6)
    + " % 10000)"
)

_SPLIT_MANIFEST_SQL = f"""
    WITH b AS (
      SELECT lang, {_TOKS} AS toks,
        CASE WHEN {_HASH_BUCKET} < 9000 THEN 'train'
             WHEN {_HASH_BUCKET} < 9500 THEN 'valid'
             ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang AS stratum,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
    FROM b GROUP BY split, lang ORDER BY split, stratum
"""

# mirrors q_url_quality: same synthesized URL, same host regexp, same
# two-level public-suffix table, same blocklist, same aggregate
_URL_QUALITY_SQL = """
    WITH u AS (
      SELECT doc_id, text, lang,
        'https://sub' || CAST(doc_id % 5 AS VARCHAR) || '.' || source ||
        CAST(doc_id % 7 AS VARCHAR) ||
        CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
             ELSE '.org.au' END ||
        '/docs/' || CAST(doc_id AS VARCHAR) ||
        '?ref=r' || CAST(doc_id % 2 AS VARCHAR) AS url
      FROM documents
    ), p AS (
      SELECT doc_id, text, lang,
        lower(regexp_extract(
          url, '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host
      FROM u
    ), r AS (
      SELECT *, string_split(host, '.') AS labels FROM p
    ), d AS (
      SELECT doc_id, text, lang, host,
        labels[-1] AS tld,
        CASE WHEN len(labels) <= 1 THEN host
             WHEN (labels[-2] || '.' || labels[-1]) IN
                  ('co.uk','org.uk','gov.uk','ac.uk','co.jp','ne.jp',
                   'or.jp','com.au','net.au','org.au','com.br','co.in',
                   'co.kr','com.cn','com.mx') AND len(labels) >= 3
               THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
             ELSE labels[-2] || '.' || labels[-1] END AS registered_domain
      FROM r
    )
    SELECT registered_domain, tld,
      COUNT(*) AS n_docs,
      CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      COUNT(DISTINCT lang) AS n_langs,
      COUNT(DISTINCT host) AS n_hosts
    FROM d
    WHERE registered_domain NOT IN ('src00.com', 'src12.co.uk')
    GROUP BY registered_domain, tld
    ORDER BY registered_domain, tld
"""


# mirrors q_warc_extract: the WARC/HTTP/charset/HTML round trip must
# reproduce these exact derived fields for every document — the Spark
# side computes them THROUGH the codec chain, the oracle from first
# principles
_WARC_EXTRACT_SQL = """
    SELECT doc_id,
      'https://sub' || CAST(doc_id % 5 AS VARCHAR) || '.' || source ||
      CAST(doc_id % 7 AS VARCHAR) ||
      CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
           ELSE '.org.au' END ||
      '/docs/' || CAST(doc_id AS VARCHAR) ||
      '?ref=r' || CAST(doc_id % 2 AS VARCHAR) AS url,
      'utf-8' AS charset,
      'doc ' || CAST(doc_id AS VARCHAR) AS title,
      TRUE AS body_ok
    FROM documents ORDER BY doc_id
"""


# mirrors q_wet_roundtrip: mod-8 sharding is arithmetic and the WET
# write/read is byte-exact, so every per-shard counter is the plain
# document count and chars_total is the corpus text volume — computed
# THROUGH the gzip-member codec on the Spark side, from first
# principles here
_WET_ROUNDTRIP_SQL = """
    SELECT CAST(doc_id % 8 AS INT) AS shard,
           COUNT(*) AS n_docs,
           COUNT(*) AS n_text_ok,
           COUNT(*) AS n_url_ok,
           CAST(SUM(LENGTH(COALESCE(text, ''))) AS BIGINT) AS chars_total
    FROM documents GROUP BY 1 ORDER BY 1
"""

# mirrors q_cdxj_audit: a correct index range-reads every capture back
# with matching URI + payload digest, so all three audit counters per
# shard equal the arithmetic document count
_CDXJ_AUDIT_SQL = """
    SELECT CAST(doc_id % 8 AS INT) AS shard,
           COUNT(*) AS n_captures,
           COUNT(*) AS n_uri_ok,
           COUNT(*) AS n_digest_ok
    FROM documents GROUP BY 1 ORDER BY 1
"""


# mirrors q_cdx_range_fetch: mod-8 sharding and the %3 selection are
# arithmetic; a correct index + range reader fetches exactly the
# selected docs with byte-exact text
_CDX_RANGE_FETCH_SQL = """
    SELECT CAST(doc_id % 8 AS INT) AS shard,
           COUNT(*) AS n_docs,
           COUNT(*) AS n_text_ok
    FROM documents WHERE doc_id % 3 = 0
    GROUP BY 1 ORDER BY 1
"""


# mirrors q_warc_revisit_dedup: the payload depends only on doc_id % 7,
# so per group a correct dedup stores exactly one full record, archives
# n-1 revisits, and every resolved range-read returns the group bytes
_WARC_REVISIT_DEDUP_SQL = """
    SELECT CAST(doc_id % 7 AS INT) AS grp,
           COUNT(*) AS n_captures,
           COUNT(*) - 1 AS n_revisits,
           COUNT(*) AS n_fetched,
           COUNT(*) AS n_body_ok
    FROM documents GROUP BY 1 ORDER BY 1
"""


# mirrors q_redirect_map: the oracle iterates the same single-successor
# function with a recursive CTE (hop-capped at 6); a src is cyclic iff
# it is still on a node with a successor at the cap
_REDIRECT_MAP_SQL = """
    WITH RECURSIVE e AS (
      SELECT 'https://r.test/' || CAST(doc_id AS VARCHAR) AS src,
             'https://r.test/' || CAST(
               CASE WHEN doc_id % 16 = 10 THEN doc_id - 1
                    WHEN doc_id + 1 >= (SELECT COUNT(*) FROM documents)
                         THEN 0
                    ELSE doc_id + 1 END AS VARCHAR) AS dst
      FROM documents WHERE doc_id % 4 <> 0
    ),
    walk(src, cur, hops) AS (
      SELECT src, dst, 1 FROM e
      UNION ALL
      SELECT w.src, e.dst, w.hops + 1
      FROM walk w JOIN e ON e.src = w.cur
      WHERE w.hops < 6
    ),
    last AS (SELECT src, MAX(hops) AS hops FROM walk GROUP BY src)
    SELECT w.src,
           w.cur AS final,
           w.hops,
           (w.hops = 6 AND w.cur IN (SELECT src FROM e)) AS cyclic
    FROM walk w JOIN last l ON l.src = w.src AND l.hops = w.hops
    ORDER BY w.src
"""


# mirrors the html_table_rules lane: the per-variant table payloads are fixed
# (operators/webtables.py VARIANT_TABLES), so the battery outcome per
# (variant, rule) is a constant — the Spark side computes it THROUGH
# html-parse → grid capture → CSV round-trip → 22-rule battery, the
# oracle states it as literals joined against per-variant page counts.
# The same literals are pinned by tests/test_html_tables.py against the
# single-node core, so drift in either side breaks one of the gates.
_WT_RULE_IDS = [f"L1-{i:02d}" for i in range(1, 16)] + [
    f"X-{i:02d}" for i in range(1, 8)
]
_WT_FAILS = {
    0: {"X-04", "X-05", "X-06", "X-07"},
    1: {"L1-06", "L1-09", "X-03", "X-04", "X-05", "X-06", "X-07"},
    2: {
        "L1-05", "L1-07", "L1-08", "L1-14", "X-01", "X-03",
        "X-04", "X-05", "X-06", "X-07",
    },
}
# per-variant captured tables: (table_idx, n_rows, n_cols, kept)
_WT_DIMS = {
    0: [(0, 4, 3, True)],
    1: [(0, 4, 4, True)],
    2: [(0, 1, 2, False), (1, 6, 3, True)],
}


def _table_rules_oracle_sql(fails) -> str:
    """Oracle of a ``<name>_table_rules`` lane with one table per doc:
    ``fails[v]`` is the set of rule ids variant v's table fails."""
    vals = ",\n      ".join(
        f"({v}, '{r}', {'FALSE' if r in fails[v] else 'TRUE'})"
        for v in (0, 1, 2)
        for r in _WT_RULE_IDS
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, rule_id, passed) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant, e.rule_id, e.passed,
           c.n AS n_tables
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant, rule_id, passed
    """


def _html_table_stats_oracle_sql() -> str:
    vals = ",\n      ".join(
        f"({v}, {ti}, {nr}, {nc}, {'TRUE' if kept else 'FALSE'})"
        for v in (0, 1, 2)
        for ti, nr, nc, kept in _WT_DIMS[v]
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, table_idx, n_rows, n_cols, kept) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant,
           CAST(e.table_idx AS INT) AS table_idx,
           CAST(e.n_rows AS INT) AS n_rows,
           CAST(e.n_cols AS INT) AS n_cols,
           e.kept, c.n AS n_pages
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant, table_idx
    """


# mirrors the pdf_table_rules lane and q_pdf_table_stats: the
# per-variant PDF table payloads are fixed (operators/webtables.py
# PDF_VARIANT_ROWS), so the battery outcome per (variant, rule) is a
# constant — the Spark side computes it THROUGH pdf-write → flate
# inflate → text-run parse → line cluster → x-alignment block → densify
# → CSV round-trip → battery; the oracle states it as literals (pinned
# against the single-node core by tests/test_pdf_tables.py).
_PDF_WT_FAILS = {
    0: {"X-04", "X-05", "X-06", "X-07"},
    1: {"L1-07", "L1-09", "X-03", "X-04", "X-05", "X-06", "X-07"},
    2: {"L1-05", "X-04", "X-05", "X-06", "X-07"},
}
# per-variant detected tables: (table_idx, n_rows, n_cols, kept)
_PDF_WT_DIMS = {
    0: [(0, 4, 3, True)],
    1: [(0, 4, 4, True)],
    2: [(0, 4, 3, True), (1, 2, 2, True)],
}
# variant 2 carries TWO tables per doc, both with identical outcomes
_PDF_WT_TABLES_PER_DOC = {0: 1, 1: 1, 2: 2}


def _pdf_table_rules_oracle_sql() -> str:
    vals = ",\n      ".join(
        f"({v}, '{r}', {'FALSE' if r in _PDF_WT_FAILS[v] else 'TRUE'}, "
        f"{_PDF_WT_TABLES_PER_DOC[v]})"
        for v in (0, 1, 2)
        for r in _WT_RULE_IDS
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, rule_id, passed, per_doc) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant, e.rule_id, e.passed,
           c.n * e.per_doc AS n_tables
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant, rule_id, passed
    """


def _pdf_table_stats_oracle_sql() -> str:
    vals = ",\n      ".join(
        f"({v}, {ti}, {nr}, {nc}, {'TRUE' if kept else 'FALSE'})"
        for v in (0, 1, 2)
        for ti, nr, nc, kept in _PDF_WT_DIMS[v]
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, table_idx, n_rows, n_cols, kept) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant,
           CAST(e.table_idx AS INT) AS table_idx,
           CAST(e.n_rows AS INT) AS n_rows,
           CAST(e.n_cols AS INT) AS n_cols,
           e.kept, c.n AS n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant, table_idx
    """


def _pdf_cjk_oracle_sql() -> str:
    """Mirrors ``q_pdf_cjk_extract``: the Spark side computes the rows
    THROUGH pdf-write → filter decode → ToUnicode CMap → text-run parse
    → layout analysis; the oracle states them as literals (the fixed
    ``_CJK_VARIANT_SPANS`` payloads, pinned against the single-node
    core by tests/test_pdf_cid_filters.py)."""
    vals = ",\n      ".join(
        "({}, '{}', '{}')".format(v, kind, text.replace("'", "''"))
        for v in (0, 1, 2)
        for kind, text in _CJK_VARIANT_SPANS[v]
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, kind, text) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant, e.kind, e.text,
           c.n AS n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant, kind, text
    """


# DuckDB twin of operators.ngram_lm: same tokenizer, same padded-gram
# counting (sentinel contexts included), same Stupid Backoff chain with
# α=0.4 and the coalesce(count,1)/N unseen-unigram floor.
_LM_TOKS = (
    "list_filter(string_split(regexp_replace(lower(text), "
    "'[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' '), x -> x != '')"
)

_NGRAM_LM_SQL = f"""
    WITH padded AS (
      SELECT doc_id,
             list_concat(['<s>', '<s>'], {_LM_TOKS}) AS p,
             CAST(len({_LM_TOKS}) AS INTEGER) AS n_tokens
      FROM documents
    ), counts AS (
      SELECT gram, COUNT(*) AS c FROM (
        SELECT array_to_string(p[e:e], ' ') AS gram
        FROM (SELECT p, unnest(range(1, len(p) + 1)) AS e FROM padded)
        UNION ALL
        SELECT array_to_string(p[e - 1:e], ' ') AS gram
        FROM (SELECT p, unnest(range(2, len(p) + 1)) AS e FROM padded)
        UNION ALL
        SELECT array_to_string(p[e - 2:e], ' ') AS gram
        FROM (SELECT p, unnest(range(3, len(p) + 1)) AS e FROM padded)
      ) GROUP BY gram
    ), ntot AS (
      SELECT SUM(c) AS n FROM counts
      WHERE len(string_split(gram, ' ')) = 1 AND gram <> '<s>'
    ), pos AS (
      SELECT doc_id,
             array_to_string(p[e - 2:e], ' ') AS g3,
             array_to_string(p[e - 2:e - 1], ' ') AS c3,
             array_to_string(p[e - 1:e], ' ') AS g2,
             array_to_string(p[e - 1:e - 1], ' ') AS c2,
             array_to_string(p[e:e], ' ') AS g1
      FROM (SELECT doc_id, p, unnest(range(3, len(p) + 1)) AS e
            FROM padded WHERE len(p) >= 3)
    ), scored AS (
      SELECT pos.doc_id,
        CASE
          WHEN cg3.c IS NOT NULL AND cc3.c IS NOT NULL
            THEN ln(cg3.c * 1.0 / cc3.c)
          WHEN cg2.c IS NOT NULL AND cc2.c IS NOT NULL
            THEN ln(0.4 * cg2.c / cc2.c)
          ELSE ln(0.4 * 0.4 * COALESCE(cg1.c, 1) / (SELECT n FROM ntot))
        END AS log_s
      FROM pos
      LEFT JOIN counts cg3 ON cg3.gram = pos.g3
      LEFT JOIN counts cc3 ON cc3.gram = pos.c3
      LEFT JOIN counts cg2 ON cg2.gram = pos.g2
      LEFT JOIN counts cc2 ON cc2.gram = pos.c2
      LEFT JOIN counts cg1 ON cg1.gram = pos.g1
    ), agg AS (
      SELECT doc_id, SUM(log_s) AS lss, COUNT(*) AS n_pos
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           d.n_tokens,
           CASE WHEN d.n_tokens > 0 THEN ROUND(a.lss, 5) END
             AS log_score_sum,
           CASE WHEN d.n_tokens > 0
                THEN ROUND(exp(-a.lss / d.n_tokens), 5) END AS perplexity
    FROM padded d LEFT JOIN agg a ON a.doc_id = d.doc_id
    ORDER BY d.doc_id
"""


def _sql_str(s: str) -> str:
    """SQL string literal with tab/newline-safe rendering (DuckDB
    VALUES)."""
    return (
        "'"
        + s.replace("'", "''")
        .replace("\t", "' || chr(9) || '")
        .replace("\n", "' || chr(10) || '")
        + "'"
    )


def _odf_rules_oracle_sql() -> str:
    """Mirrors ``q_odf_rule_results``: expected verdict per rule per ODS
    variant as literals; counts come from the even/odd doc_id split."""
    vals = ",\n      ".join(
        "({}, {}, {})".format(v, _sql_str(rule_id), "TRUE" if p else "FALSE")
        for v in (0, 2)
        for (rule_id, p) in _ODF_VARIANT_RULES[v]
    )
    return f"""
    WITH counts AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS variant,
             COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, rule_id, passed) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant, e.rule_id,
           e.passed, c.n AS n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant, rule_id
    """


def _pdf_columns_oracle_sql() -> str:
    """Mirrors ``q_pdf_columns_extract``: the Spark side computes span
    order THROUGH write → decode → line cluster → XY-cut column
    reorder → layout analysis; the oracle states the expected ordered
    spans as literals (pinned by tests/test_pdf_columns.py)."""
    vals = ",\n      ".join(
        "({}, {}, '{}', '{}')".format(
            v, idx, kind, text.replace("'", "''").replace("\t", "' || chr(9) || '")
        )
        for v in (0, 1, 2)
        for idx, (kind, text) in enumerate(_COL_VARIANT_SPANS[v])
    )
    return f"""
    WITH counts AS (
      SELECT doc_id % 3 AS variant, COUNT(*) AS n
      FROM documents GROUP BY 1
    ), expect(variant, idx, kind, text) AS (VALUES
      {vals}
    )
    SELECT CAST(e.variant AS BIGINT) AS variant,
           CAST(e.idx AS INT) AS idx, e.kind, e.text,
           c.n AS n_docs
    FROM expect e JOIN counts c ON c.variant = e.variant
    ORDER BY variant, idx
    """


_DOMAIN_CAP_SQL = f"""
    WITH r AS (
      SELECT doc_id, source, row_number() OVER (
        PARTITION BY source
        ORDER BY {_HASH_BUCKET}, CAST(doc_id AS VARCHAR)) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM r WHERE rn <= 8 ORDER BY source, doc_id
"""


# keep rate per language = min(1, (n_min/n)^(1-α)) at α = 0.5, applied
# through the same md5 integer-threshold arithmetic the split lanes use
_TEMPERATURE_MIX_SQL = f"""
    WITH c AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), m AS (
      SELECT MIN(n) AS n_min FROM c
    ), t AS (
      SELECT lang, CAST(round(
        least(1.0, power(n_min * 1.0 / n, 0.5)) * 10000) AS BIGINT) AS thresh
      FROM c CROSS JOIN m
    )
    SELECT d.lang, COUNT(*) AS n_docs
    FROM documents d JOIN t ON d.lang = t.lang
    WHERE {_HASH_BUCKET} < t.thresh
    GROUP BY d.lang ORDER BY d.lang
"""


_BPE_PAIRS_SQL = f"""
    WITH w AS (
      SELECT tok AS word, COUNT(*) AS freq
      FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
      GROUP BY tok
    ), p AS (
      SELECT substr(word, CAST(i AS INTEGER), 1) || ' ' ||
             substr(word, CAST(i AS INTEGER) + 1, 1) AS pair,
             freq
      FROM (SELECT word, freq, unnest(range(1, len(word))) AS i FROM w)
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS count
    FROM p GROUP BY pair ORDER BY count DESC, pair LIMIT 20
"""


_TRAINING_ORDER_SQL = f"""
    SELECT doc_id,
           CAST(({_HASH_BUCKET}) % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (
             PARTITION BY ({_HASH_BUCKET}) % 8
             ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
           ) AS INTEGER) AS position
    FROM documents
    ORDER BY shard, position
"""


_CURRICULUM_ORDER_SQL = f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS score,
           CAST(({_HASH_BUCKET}) % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (
             PARTITION BY ({_HASH_BUCKET}) % 8
             ORDER BY length(text),
                      md5(CAST(doc_id AS VARCHAR)),
                      CAST(doc_id AS VARCHAR)
           ) AS INTEGER) AS position
    FROM documents
    ORDER BY shard, position
"""


_FERTILITY_SQL = f"""
    WITH per_doc AS (
      SELECT lang,
             len({_TOKS}) AS w,
             len(list_filter(
               regexp_extract_all(
                 text, '[A-Za-z]+|\\d+|[^A-Za-z\\d\\s]'),
               x -> x != '')) AS s,
             strlen(text) AS b
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(s) AS BIGINT) AS n_subwords,
           round(CAST(SUM(s) AS DOUBLE) / SUM(w), 6) AS fertility,
           round(CAST(SUM(b) AS DOUBLE) / SUM(s), 6)
             AS bytes_per_subword
    FROM per_doc GROUP BY lang ORDER BY lang
"""


_HARD_NEGATIVES_SQL = """
    WITH n AS (SELECT COUNT(*) AS c FROM embeddings),
    anchors AS (
      SELECT vec_id AS anchor_id, embedding AS av
      FROM embeddings WHERE vec_id < 4
    ),
    pos AS (
      SELECT vec_id AS anchor_id, (vec_id * 7 + 13) % n.c AS pid
      FROM embeddings, n WHERE vec_id < 4
    ),
    cand AS (
      SELECT a.anchor_id, e.vec_id,
             list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]),
               CAST(a.av AS DOUBLE[])) AS cosine
      FROM anchors a CROSS JOIN embeddings e
      WHERE e.vec_id != a.anchor_id
        AND NOT EXISTS (
          SELECT 1 FROM pos p
          WHERE p.anchor_id = a.anchor_id AND p.pid = e.vec_id
        )
    ),
    r AS (
      SELECT anchor_id, vec_id, cosine,
             row_number() OVER (
               PARTITION BY anchor_id
               ORDER BY cosine DESC, vec_id) AS rnk
      FROM cand
    )
    SELECT anchor_id, vec_id, round(cosine, 6) AS cosine,
           CAST(rnk AS INTEGER) AS rank
    FROM r WHERE rnk <= 3 ORDER BY anchor_id, rnk
"""


#: SQL twin of ``_code_variant_text`` + ``codestats.detect_license``
_CODE_VARIANT_SQL = """
      CASE doc_id % 7
        WHEN 0 THEN 'SPDX-License-Identifier: MIT' || chr(10) || text
        WHEN 1 THEN 'Permission is hereby granted, free of charge. '
                    || text
        WHEN 2 THEN '// auto-generated do not edit' || chr(10) || text
        WHEN 3 THEN text || chr(10) || repeat('x', 1200)
        ELSE text END
"""

_LICENSE_CASE_SQL = """
      CASE
        WHEN regexp_matches(t,
          'SPDX-License-Identifier:\\s*([A-Za-z0-9.+-]+)')
          THEN lower(regexp_extract(t,
            'SPDX-License-Identifier:\\s*([A-Za-z0-9.+-]+)', 1))
        WHEN regexp_matches(t,
          '(?i)Permission is hereby granted, free of charge')
          THEN 'mit'
        WHEN regexp_matches(t,
          '(?i)Licensed under the Apache License, Version 2\\.0')
          THEN 'apache-2.0'
        WHEN regexp_matches(t,
          '(?i)GNU (Lesser |Affero )?General Public License')
          THEN 'gpl'
        WHEN regexp_matches(t,
          '(?i)Redistribution and use in source and binary forms')
          THEN 'bsd'
        WHEN regexp_matches(t,
          '(?i)Mozilla Public License,? (Version |v\\.? ?)2\\.0')
          THEN 'mpl-2.0'
        WHEN regexp_matches(t,
          '(?i)This is free and unencumbered software')
          THEN 'unlicense'
        ELSE 'none' END
"""

_CODE_QUALITY_SQL = f"""
    WITH v AS (
      SELECT doc_id, {_CODE_VARIANT_SQL} AS t FROM documents
    ),
    s AS (
      SELECT doc_id, t, string_split(t, chr(10)) AS parts FROM v
    ),
    q AS (
      SELECT doc_id,
             CAST(len(parts) AS INTEGER) AS n_lines,
             CAST(COALESCE(
               list_max([length(x) for x in parts]), 0) AS INTEGER)
               AS max_line_len,
             round(CAST(list_sum([length(x) for x in parts]) AS DOUBLE)
                   / len(parts), 4) AS mean_line_len,
             round(CASE WHEN length(t) > 0
               THEN CAST(length(regexp_replace(
                      t, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(t)
               ELSE 0.0 END, 6) AS alpha_frac,
             regexp_matches(t,
               '(?i)(auto-?generated|do not edit|generated by)')
               AS autogen,
             {_LICENSE_CASE_SQL} AS license
      FROM s
    )
    SELECT doc_id, n_lines, max_line_len, mean_line_len, alpha_frac,
           autogen, license,
           (max_line_len <= 1000 AND mean_line_len <= 100.0
            AND alpha_frac >= 0.25 AND NOT autogen) AS keep
    FROM q ORDER BY doc_id
"""

_LICENSE_SCAN_SQL = f"""
    WITH v AS (
      SELECT doc_id, {_CODE_VARIANT_SQL} AS t FROM documents
    ),
    lab AS (
      SELECT {_LICENSE_CASE_SQL} AS license FROM v
    )
    SELECT license, COUNT(*) AS n_docs
    FROM lab GROUP BY license ORDER BY license
"""


def _zorder_oracle_sql() -> str:
    """The 8-bit Morton interleave unrolled into the same shift/mask
    terms the JVM expression computes."""
    terms = []
    for i in range(8):
        terms.append(f"(((xa >> {i}) & 1) << {2 * i})")
        terms.append(f"(((xb >> {i}) & 1) << {2 * i + 1})")
    expr = " | ".join(terms)
    return f"""
      WITH c AS (
        SELECT doc_id,
               (doc_id * 13) % 256 AS xa,
               (doc_id * 29) % 256 AS xb
        FROM documents
      )
      SELECT doc_id, CAST(xa AS BIGINT) AS xa,
             CAST(xb AS BIGINT) AS xb,
             CAST({expr} AS BIGINT) AS zkey
      FROM c ORDER BY doc_id
    """


_DATACARD_SQL = f"""
    WITH per_doc AS (
      SELECT len({_TOKS}) AS nt,
             length(text) AS nc,
             COALESCE(lang, 'und') AS lg
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS n_chars,
             CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_tokens,
             round(AVG(nt), 4) AS mean_tokens,
             round(quantile_cont(nt, 0.5), 4) AS p50_tokens,
             round(quantile_cont(nt, 0.9), 4) AS p90_tokens
      FROM per_doc
    ),
    lc AS (
      SELECT lg, COUNT(*) AS n FROM per_doc GROUP BY lg
    ),
    lm AS (
      SELECT (SELECT COUNT(*) FROM lc) AS n_langs,
             lg AS top_lang,
             round(CAST(n AS DOUBLE) /
                   (SELECT SUM(n) FROM lc), 6) AS top_lang_frac
      FROM lc ORDER BY n DESC, lg DESC LIMIT 1
    )
    SELECT s.n_docs, s.n_chars, s.n_tokens, s.mean_tokens,
           s.p50_tokens, s.p90_tokens,
           lm.n_langs, lm.top_lang, lm.top_lang_frac
    FROM stats s, lm
"""


_NGRAM_TOP_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             array_to_string(toks[i + 1 : i + 2], ' ') AS ngram
      FROM (SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - 1, 0))) AS i
            FROM t)
    )
    SELECT ngram, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM g GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram LIMIT 20
"""


_STRATIFIED_SAMPLE_SQL = f"""
    SELECT lang, COUNT(*) AS n_docs
    FROM documents
    WHERE {_HASH_BUCKET} < CAST(round(
      (CASE WHEN lang = 'de' THEN 1.0
            WHEN lang = 'en' THEN 0.4 ELSE 0.1 END) * 10000) AS BIGINT)
    GROUP BY lang ORDER BY lang
"""


# chunk_tokens=32, overlap=8 → stride 24; chunk i = tokens
# [i·24+1, i·24+32] (1-based inclusive slice = Spark's slice(start, len))
_CHUNK_SQL = f"""
    WITH t AS (
      SELECT doc_id, toks FROM (
        SELECT doc_id, {_TOKS} AS toks FROM documents
      ) WHERE len(toks) > 0
    ), m AS (
      SELECT doc_id, toks,
             1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT)
               AS nch
      FROM t
    ), e AS (
      SELECT doc_id, toks, unnest(range(0, nch)) AS ci FROM m
    )
    SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
           array_to_string(toks[ci*24+1 : ci*24+32], ' ') AS chunk_text,
           CAST(least(32, len(toks) - ci*24) AS INTEGER) AS n_tokens
    FROM e ORDER BY doc_id, chunk_idx
"""

# the sequential running-total twin of the two-phase parallel prefix sum
_PACK_SHARDS_SQL = f"""
    WITH t AS (
      SELECT doc_id, COALESCE(len({_TOKS}), 0) AS tc FROM documents
    )
    SELECT doc_id, CAST(tc AS INTEGER) AS n_tokens,
           CAST(floor(COALESCE(SUM(tc) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / 2000.0) AS INTEGER) AS shard
    FROM t ORDER BY doc_id
"""


def _profile_col_sql(c: str) -> str:
    r = f"CAST({c} AS VARCHAR)"
    return f"""
      SELECT '{c}' AS "column", COUNT(*) AS n_rows,
             COUNT(*) - COUNT({c}) AS n_nulls,
             COUNT(DISTINCT {c}) AS n_distinct,
             CAST(MIN(len({r})) AS INT) AS min_len,
             CAST(MAX(len({r})) AS INT) AS max_len
      FROM documents"""


_TABLE_PROFILE_SQL = (
    "\n      UNION ALL\n".join(
        _profile_col_sql(c)
        for c in ("doc_id", "text", "lang", "source", "n_chars")
    )
    + '\n      ORDER BY "column"'
)


# DuckDB's NATIVE ASOF JOIN is the oracle for the union+window
# decomposition in operators/temporal.py
_EVENTS_ASOF_SQL = """
    WITH c AS (
      SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts, value AS pv, event_id AS pe
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           round(p.pv, 6) AS last_purchase_value,
           p.pe AS last_purchase_event
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
"""


_QUANTIZED_TOPK_SQL = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), s AS (
      SELECT vec_id, ev,
             list_max(list_transform(ev, x -> abs(x))) / 127.0 AS sc
      FROM v
    ), q AS (
      SELECT vec_id,
             CASE WHEN sc > 0
                  THEN list_transform(ev, x -> round(x / sc))
                  ELSE list_transform(ev, x -> 0.0) END AS qv
      FROM s
    ), qq AS (
      SELECT ev AS qev FROM v WHERE vec_id = 0
    )
    SELECT q.vec_id,
           round(list_cosine_similarity(q.qv, qq.qev), 6) AS cosine
    FROM q CROSS JOIN qq
    ORDER BY list_cosine_similarity(q.qv, qq.qev) DESC, q.vec_id
    LIMIT 10
"""


# Interleaved caption mining: rebuild the deterministic synthetic span
# table (token at off % 7 == 3 → media span) and the ±3-span text
# contexts with windowed string_agg frames.
_MEDIA_CONTEXT_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), p AS (
      SELECT doc_id, toks, unnest(range(0, len(toks))) AS off FROM t
    ), s AS (
      SELECT doc_id, CAST(off AS INTEGER) AS off,
             CASE WHEN off % 7 = 3 THEN 'media' ELSE 'text' END AS kind,
             CASE WHEN off % 7 = 3 THEN '' ELSE toks[off + 1] END AS txt,
             CASE WHEN off % 7 = 3 THEN 'img_' || doc_id || '_' || off
                  ELSE '' END AS media_ref
      FROM p
    ), c AS (
      SELECT doc_id, off, kind, txt, media_ref,
             string_agg(CASE WHEN kind = 'text' THEN txt END, ' ') OVER (
               PARTITION BY doc_id ORDER BY off
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS context_before,
             string_agg(CASE WHEN kind = 'text' THEN txt END, ' ') OVER (
               PARTITION BY doc_id ORDER BY off
               ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS context_after
      FROM s
    )
    SELECT doc_id, media_ref, off AS offset, txt AS alt_text,
           coalesce(context_before, '') AS context_before,
           coalesce(context_after, '') AS context_after
    FROM c WHERE kind = 'media' ORDER BY doc_id, off
"""


# Interleaved segment assembly: same synthetic span corpus, then
# gaps-and-islands — a span's chunk index k = number of media spans
# strictly before it; text chunk k renders before media k, so sorting
# segments by (k, text-before-media) reproduces span order.
_INTERLEAVED_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), p AS (
      SELECT doc_id, toks, unnest(range(0, len(toks))) AS off FROM t
    ), s AS (
      SELECT doc_id, CAST(off AS INTEGER) AS off,
             CASE WHEN off % 7 = 3 THEN 'media' ELSE 'main' END AS kind,
             CASE WHEN off % 7 = 3 THEN 'alt ' || toks[off + 1]
                  WHEN off % 11 = 5 THEN ''
                  ELSE toks[off + 1] END AS txt,
             CASE WHEN off % 7 = 3 THEN 'img_' || doc_id || '_' || off
                  ELSE '' END AS media_ref
      FROM p
    ), kept AS (
      SELECT * FROM s WHERE kind = 'media' OR txt <> ''
    ), chunked AS (
      SELECT *, count(CASE WHEN kind = 'media' THEN 1 END) OVER (
               PARTITION BY doc_id ORDER BY off
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS k
      FROM kept
    ), segs AS (
      SELECT doc_id, k, 1 AS ord, 'text' AS seg_type,
             string_agg(txt, chr(10) || chr(10) ORDER BY off) AS seg_text,
             '' AS media_ref
      FROM chunked WHERE kind <> 'media' GROUP BY doc_id, k
      UNION ALL
      SELECT doc_id, k, 2 AS ord, 'media' AS seg_type, txt AS seg_text,
             media_ref
      FROM chunked WHERE kind = 'media'
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY k, ord)
                - 1 AS INTEGER) AS seg_idx,
           seg_type, seg_text, media_ref
    FROM segs ORDER BY doc_id, seg_idx
"""


# Doc-level interleaved quality stats: aggregate the flat segment CTE
# per doc; max_media_run is a second gaps-and-islands pass (seg_idx −
# row_number over the media segments groups consecutive runs); flags
# mirror operators/interleave.py's interleaved_filter defaults.
_INTERLEAVED_STATS_SQL = f"""
    WITH flat AS ({_INTERLEAVED_SQL.replace("ORDER BY doc_id, seg_idx", "")}
    ), runs AS (
      SELECT doc_id,
             seg_idx - row_number() OVER (
               PARTITION BY doc_id ORDER BY seg_idx) AS grp
      FROM flat WHERE seg_type = 'media'
    ), runlen AS (
      SELECT doc_id, CAST(count(*) AS INTEGER) AS rl
      FROM runs GROUP BY doc_id, grp
    ), maxrun AS (
      SELECT doc_id, max(rl) AS max_media_run FROM runlen GROUP BY doc_id
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS INTEGER) AS n_segments,
             CAST(count(CASE WHEN seg_type = 'media' THEN 1 END)
                  AS INTEGER) AS n_media_segments,
             CAST(count(CASE WHEN seg_type = 'text' THEN 1 END)
                  AS INTEGER) AS n_text_segments,
             CAST(coalesce(sum(CASE WHEN seg_type = 'text'
                                    THEN length(seg_text) END), 0)
                  AS BIGINT) AS text_chars,
             CAST(count(DISTINCT CASE WHEN seg_type = 'media'
                                      THEN media_ref END)
                  AS INTEGER) AS distinct_media_refs
      FROM flat GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_segments, a.n_media_segments, a.n_text_segments,
           a.text_chars, a.distinct_media_refs,
           a.n_media_segments - a.distinct_media_refs AS dup_media_refs,
           coalesce(m.max_media_run, 0) AS max_media_run,
           round(a.n_media_segments::DOUBLE / a.n_segments, 6)
             AS media_frac,
           a.n_media_segments <= 30 AS il_images_ok,
           round(a.n_media_segments::DOUBLE / a.n_segments, 6) <= 0.5
             AS il_media_frac_ok,
           coalesce(m.max_media_run, 0) <= 8 AS il_media_run_ok,
           a.text_chars >= 1 AS il_text_ok,
           a.n_media_segments - a.distinct_media_refs <= 2
             AS il_dup_media_ok,
           (a.n_media_segments <= 30
            AND round(a.n_media_segments::DOUBLE / a.n_segments, 6) <= 0.5
            AND coalesce(m.max_media_run, 0) <= 8
            AND a.text_chars >= 1
            AND a.n_media_segments - a.distinct_media_refs <= 2)
             AS il_keep
    FROM agg a LEFT JOIN maxrun m USING (doc_id)
    ORDER BY a.doc_id
"""


# Multimodal token budget: text tokens re-tokenized from the flat
# segment CTE (regex whitespace — segment text embeds the \n\n
# joiner), 576-token image cost, pack_shards prefix-sum protocol.
_INTERLEAVED_BUDGET_SQL = f"""
    WITH flat AS ({_INTERLEAVED_SQL.replace("ORDER BY doc_id, seg_idx", "")}
    ), per_doc AS (
      SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN seg_type = 'text' THEN
               len(list_filter(regexp_split_to_array(seg_text, '\\s+'),
                               x -> x != '')) END), 0) AS BIGINT)
               AS text_tokens,
             CAST(count(CASE WHEN seg_type = 'media' THEN 1 END) * 576
               AS BIGINT) AS media_tokens
      FROM flat GROUP BY doc_id
    )
    SELECT doc_id, text_tokens, media_tokens,
           text_tokens + media_tokens AS total_tokens,
           CAST(floor(coalesce(SUM(text_tokens + media_tokens) OVER (
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / 50000.0) AS INTEGER) AS shard
    FROM per_doc ORDER BY doc_id
"""


# Frequent-media removal: hot identities (alt token, the digest
# stand-in) counted over media segments; hot media rows drop; the
# remaining rows re-chunk (second gaps-and-islands) so text runs
# re-merge; per-doc dropped count joined back onto every row.
_FREQ_MEDIA_SQL = f"""
    WITH flat AS ({_INTERLEAVED_SQL.replace("ORDER BY doc_id, seg_idx", "")}
    ), keyed AS (
      SELECT *, seg_text || '@' ||
             regexp_extract(media_ref, '_([0-9]+)$', 1) AS k_id
      FROM flat
    ), hot AS (
      SELECT k_id FROM keyed WHERE seg_type = 'media'
      GROUP BY k_id HAVING count(*) > 15
    ), kept AS (
      SELECT f.doc_id, f.seg_idx, f.seg_type, f.seg_text, f.media_ref
      FROM keyed f
      LEFT JOIN hot h
        ON f.seg_type = 'media' AND f.k_id = h.k_id
      WHERE h.k_id IS NULL
    ), dropped AS (
      SELECT doc_id,
             CAST(count(CASE WHEN seg_type = 'media' THEN 1 END)
                  AS INTEGER) AS n_all_media
      FROM flat GROUP BY doc_id
    ), kept_media AS (
      SELECT doc_id,
             CAST(count(CASE WHEN seg_type = 'media' THEN 1 END)
                  AS INTEGER) AS n_kept_media
      FROM kept GROUP BY doc_id
    ), chunked AS (
      SELECT *, count(CASE WHEN seg_type = 'media' THEN 1 END) OVER (
               PARTITION BY doc_id ORDER BY seg_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS k
      FROM kept
    ), segs AS (
      SELECT doc_id, k, 1 AS ord, 'text' AS seg_type,
             string_agg(seg_text, chr(10) || chr(10) ORDER BY seg_idx)
               AS seg_text,
             '' AS media_ref
      FROM chunked WHERE seg_type = 'text' GROUP BY doc_id, k
      UNION ALL
      SELECT doc_id, k, 2 AS ord, 'media' AS seg_type, seg_text,
             media_ref
      FROM chunked WHERE seg_type = 'media'
    )
    SELECT s.doc_id,
           CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.k, s.ord)
                - 1 AS INTEGER) AS seg_idx,
           s.seg_type, s.seg_text, s.media_ref,
           d.n_all_media - coalesce(m.n_kept_media, 0) AS n_media_dropped
    FROM segs s
    JOIN dropped d ON s.doc_id = d.doc_id
    LEFT JOIN kept_media m ON s.doc_id = m.doc_id
    ORDER BY s.doc_id, seg_idx
"""


# Media quality gate: arithmetic features (width/height/decode error
# from doc_id + span offset), LAION-style bad set (decode error, dims
# < 64, aspect > 4 either way), then the shared drop + re-merge shape.
_MEDIA_QUALITY_SQL = f"""
    WITH flat AS ({_INTERLEAVED_SQL.replace("ORDER BY doc_id, seg_idx", "")}
    ), keyed AS (
      SELECT *,
             CAST(regexp_extract(media_ref, '_([0-9]+)$', 1) AS BIGINT)
               AS off
      FROM flat
    ), feat AS (
      SELECT *,
             16 + (doc_id * 7 + off) % 120 AS w,
             16 + (doc_id * 11 + off) % 120 AS h,
             (doc_id + off) % 13 = 0 AS err
      FROM keyed WHERE seg_type = 'media'
    ), bad AS (
      SELECT doc_id, media_ref FROM feat
      WHERE err OR w < 64 OR h < 64
         OR CAST(w AS DOUBLE) / h > 4.0 OR CAST(h AS DOUBLE) / w > 4.0
    ), kept AS (
      SELECT f.doc_id, f.seg_idx, f.seg_type, f.seg_text, f.media_ref
      FROM flat f
      LEFT JOIN bad b
        ON f.seg_type = 'media' AND f.doc_id = b.doc_id
       AND f.media_ref = b.media_ref
      WHERE b.media_ref IS NULL
    ), dropped AS (
      SELECT doc_id,
             CAST(count(CASE WHEN seg_type = 'media' THEN 1 END)
                  AS INTEGER) AS n_all_media
      FROM flat GROUP BY doc_id
    ), kept_media AS (
      SELECT doc_id,
             CAST(count(CASE WHEN seg_type = 'media' THEN 1 END)
                  AS INTEGER) AS n_kept_media
      FROM kept GROUP BY doc_id
    ), chunked AS (
      SELECT *, count(CASE WHEN seg_type = 'media' THEN 1 END) OVER (
               PARTITION BY doc_id ORDER BY seg_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS k
      FROM kept
    ), segs AS (
      SELECT doc_id, k, 1 AS ord, 'text' AS seg_type,
             string_agg(seg_text, chr(10) || chr(10) ORDER BY seg_idx)
               AS seg_text,
             '' AS media_ref
      FROM chunked WHERE seg_type = 'text' GROUP BY doc_id, k
      UNION ALL
      SELECT doc_id, k, 2 AS ord, 'media' AS seg_type, seg_text,
             media_ref
      FROM chunked WHERE seg_type = 'media'
    )
    SELECT s.doc_id,
           CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.k, s.ord)
                - 1 AS INTEGER) AS seg_idx,
           s.seg_type, s.seg_text, s.media_ref,
           d.n_all_media - coalesce(m.n_kept_media, 0) AS n_media_dropped
    FROM segs s
    JOIN dropped d ON s.doc_id = d.doc_id
    LEFT JOIN kept_media m ON s.doc_id = m.doc_id
    ORDER BY s.doc_id, seg_idx
"""


# IVF-PQ with both quantizers in seed mode: coarse cells = the 4
# lowest-id vectors; PQ codebooks = the 16-dim slices of the RESIDUALS
# of those same vectors; ADC per probed cell uses that cell's residual
# query.  Elementwise residuals via list_transform over index ranges
# (DuckDB has no zip_with).
_IVFPQ_SQL = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), c AS (
      SELECT ev AS cv, row_number() OVER (ORDER BY vec_id) - 1 AS cell
      FROM v
      QUALIFY row_number() OVER (ORDER BY vec_id) <= 4
    ), assign AS (
      SELECT vec_id, ev, cell, cv FROM (
        SELECT v.vec_id, v.ev, c.cell, c.cv,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_distance(v.ev, c.cv), c.cell
               ) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ), resid AS (
      SELECT vec_id, cell,
             list_transform(range(1, 65), i -> ev[i] - cv[i]) AS rv
      FROM assign
    ), subs AS (
      SELECT vec_id, cell, s.sub,
             list_slice(rv, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
      FROM resid CROSS JOIN (VALUES (0), (1), (2), (3)) s(sub)
    ), cb AS (
      SELECT sub,
             row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS code,
             sv AS cw
      FROM subs
      WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 4)
    ), codes AS (
      SELECT vec_id, cell, sub, code FROM (
        SELECT subs.vec_id, subs.cell, subs.sub, cb.code,
               row_number() OVER (
                 PARTITION BY subs.vec_id, subs.sub
                 ORDER BY list_distance(subs.sv, cb.cw), cb.code
               ) AS rn
        FROM subs JOIN cb ON subs.sub = cb.sub
      ) WHERE rn = 1
    ), q AS (
      SELECT ev AS qv FROM v WHERE vec_id = 0
    ), probe AS (
      SELECT cell, cv FROM c CROSS JOIN q
      ORDER BY list_distance(cv, qv), cell LIMIT 2
    ), qsub AS (
      SELECT p.cell, s.sub,
             list_slice(
               list_transform(range(1, 65), i -> q.qv[i] - p.cv[i]),
               s.sub * 16 + 1, s.sub * 16 + 16) AS qs
      FROM probe p CROSS JOIN q
      CROSS JOIN (VALUES (0), (1), (2), (3)) s(sub)
    ), adc AS (
      SELECT co.vec_id, co.cell,
             SUM(power(list_distance(qs.qs, cb.cw), 2)) AS dist
      FROM codes co
      JOIN cb ON co.sub = cb.sub AND co.code = cb.code
      JOIN qsub qs ON qs.cell = co.cell AND qs.sub = co.sub
      GROUP BY co.vec_id, co.cell
    ), top AS (
      SELECT vec_id, cell, dist FROM adc ORDER BY dist, vec_id LIMIT 10
    )
    SELECT vec_id, CAST(cell AS INTEGER) AS cell, round(dist, 6) AS adc
    FROM top ORDER BY vec_id
"""

# Same quantizers as _IVFPQ_SQL, then the exact-refine tail: ADC
# shortlist of 40 re-ranked by exact squared L2 against the raw
# embedding, exact top-10 wins (FAISS IndexRefineFlat).
_IVFPQ_REFINED_SQL = _IVFPQ_SQL.replace(
    """, top AS (
      SELECT vec_id, cell, dist FROM adc ORDER BY dist, vec_id LIMIT 10
    )
    SELECT vec_id, CAST(cell AS INTEGER) AS cell, round(dist, 6) AS adc
    FROM top ORDER BY vec_id""",
    """, short AS (
      SELECT vec_id, cell FROM adc ORDER BY dist, vec_id LIMIT 40
    ), exact AS (
      SELECT s.vec_id, s.cell,
             power(list_distance(v.ev, (SELECT qv FROM q)), 2) AS dist
      FROM short s JOIN v ON v.vec_id = s.vec_id
    ), top AS (
      SELECT vec_id, cell, dist FROM exact ORDER BY dist, vec_id LIMIT 10
    )
    SELECT vec_id, CAST(cell AS INTEGER) AS cell, round(dist, 6) AS dist
    FROM top ORDER BY vec_id""",
)


# PQ with iters=0 and m=4/k=4: codebooks = the 16-dim slices of the 4
# lowest-id vectors, codes = per-subspace argmin L2 (ties to lowest code),
# ADC = sum over subspaces of squared query→codeword distance.
_PQ_ADC_SQL = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), subs AS (
      SELECT vec_id, s.sub, list_slice(ev, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
      FROM v CROSS JOIN (VALUES (0), (1), (2), (3)) s(sub)
    ), cb AS (
      SELECT sub,
             row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS code,
             sv AS cw
      FROM subs
      WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 4)
    ), assign AS (
      SELECT vec_id, sub, code FROM (
        SELECT subs.vec_id, subs.sub, cb.code,
               row_number() OVER (
                 PARTITION BY subs.vec_id, subs.sub
                 ORDER BY list_distance(subs.sv, cb.cw), cb.code
               ) AS rn
        FROM subs JOIN cb ON subs.sub = cb.sub
      ) WHERE rn = 1
    ), qsub AS (
      SELECT sub, sv AS qv FROM subs WHERE vec_id = 0
    ), adc AS (
      SELECT a.vec_id, SUM(power(list_distance(q.qv, c.cw), 2)) AS dist
      FROM assign a
      JOIN cb c ON a.sub = c.sub AND a.code = c.code
      JOIN qsub q ON a.sub = q.sub
      GROUP BY a.vec_id
    ), codes AS (
      SELECT vec_id,
             CAST(MAX(CASE WHEN sub = 0 THEN code END) AS INTEGER) AS code0,
             CAST(MAX(CASE WHEN sub = 1 THEN code END) AS INTEGER) AS code1,
             CAST(MAX(CASE WHEN sub = 2 THEN code END) AS INTEGER) AS code2,
             CAST(MAX(CASE WHEN sub = 3 THEN code END) AS INTEGER) AS code3
      FROM assign GROUP BY vec_id
    ), top AS (
      SELECT vec_id, dist FROM adc ORDER BY dist, vec_id LIMIT 10
    )
    SELECT t.vec_id, c.code0, c.code1, c.code2, c.code3,
           round(t.dist, 6) AS adc
    FROM top t JOIN codes c USING (vec_id)
    ORDER BY t.vec_id
"""


_IVF_INDEX_SQL = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), c AS (
      SELECT vec_id, ev AS cv,
             row_number() OVER (ORDER BY vec_id) - 1 AS cell_id
      FROM v
      QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
    ), assign AS (
      SELECT vec_id, ev, cell_id FROM (
        SELECT v.vec_id, v.ev, c.cell_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_distance(v.ev, c.cv), c.cell_id
               ) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ), q AS (
      SELECT ev AS qv FROM v WHERE vec_id = 0
    ), probe AS (
      SELECT cell_id FROM c CROSS JOIN q
      ORDER BY list_distance(cv, qv), cell_id LIMIT 2
    )
    SELECT a.vec_id, CAST(a.cell_id AS INTEGER) AS cell,
           round(list_cosine_similarity(a.ev, q.qv), 6) AS cosine
    FROM assign a JOIN probe p ON a.cell_id = p.cell_id CROSS JOIN q
    ORDER BY list_cosine_similarity(a.ev, q.qv) DESC, a.vec_id
    LIMIT 10
"""


def _simhash_oracle_sql(bits: int = 32, max_hamming: int = 4) -> str:
    """Twin of ``q_simhash_near_dups``.  The banded bucket join is
    recall-complete (pigeonhole: bands > max_hamming) and false positives
    are removed by the true-Hamming filter, so the banding is pure
    optimization — the oracle is the plain all-pairs Hamming ≤ max filter
    over identical portable SimHash values."""
    hex8 = _md5_int_sql("t", bits // 4)
    bit_terms = "\n               + ".join(
        f"(CASE WHEN 2*list_sum(list_transform(hs, h -> (h // {1 << b}) % 2))"
        f" - len(hs) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
        WITH tk AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 list_transform({_TOKS}, t -> {hex8}) AS hs
          FROM documents
        ), sim AS (
          SELECT doc_id, ({bit_terms}) AS sh
          FROM tk WHERE len(hs) > 0
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
        ORDER BY id_a, id_b
    """


def _plane_lit(plane) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _bucket_expr_sql(n_planes: int, dim: int, seed: int) -> str:
    from machine_readability_checker_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(dim, n_planes, seed)
    return " + ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_lit(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def _ann_oracle_sql(
    k: int = 5, n_planes: int = 4, dim: int = 64, seed: int = 42
) -> str:
    """Twin of ``q_ann_lsh_topk``: bucket assignment with the same literal
    seeded hyperplanes, within-bucket cosine ranking."""
    bucket = _bucket_expr_sql(n_planes, dim, seed)
    return f"""
        WITH c AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), cb AS (
          SELECT vec_id, v, ({bucket}) AS bucket FROM c
        ), ranked AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 list_cosine_similarity(c.v, q.v) AS cos_raw,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id
                 ) AS rank
          FROM cb c JOIN cb q ON c.bucket = q.bucket
          WHERE q.vec_id < 4
        )
        SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
               CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def _embedding_near_dups_oracle_sql(
    threshold: float = 0.45, n_planes: int = 4, dim: int = 64, seed: int = 42
) -> str:
    """Twin of ``q_embedding_near_dups``: cosine ≥ threshold within
    identical hyperplane buckets."""
    bucket = _bucket_expr_sql(n_planes, dim, seed)
    return f"""
        WITH c AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), cb AS (
          SELECT vec_id, v, ({bucket}) AS bucket FROM c
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM cb a JOIN cb b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= {threshold}
        ORDER BY id_a, id_b
    """


def _oracle_sql_literal() -> dict[str, str]:
    return {
        "extract_span_stats": _SPAN_STATS_SQL,
        "extract_rule_results": _RULE_RESULTS_SQL,
        "main_content_strip": f"""
            WITH per_doc AS (
              SELECT doc_id,
                     len({_TOKS}) AS n,
                     n_chars,
                     CAST((5 - (len({_TOKS}) % 5)) % 5 AS BIGINT) AS pad
              FROM documents
            )
            SELECT doc_id,
                   CAST((n + pad) / 5 AS BIGINT) AS n_cells,
                   (n_chars - n + 1) + 3 * pad
                     + 4 * CAST((n + pad) / 5 AS BIGINT) AS content_len
            FROM per_doc ORDER BY doc_id
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(SUM(l_quantity), 2) AS sum_qty,
                   round(SUM(l_extendedprice), 2) AS sum_base_price,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(SUM(o_totalprice), 2) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
                   CAST(rn AS INTEGER) AS rn
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                     ) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "event_windows": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                     AS hour_start,
                   event_type,
                   COUNT(*) AS n_events,
                   round(SUM(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "event_hop_windows": """
            WITH h AS (
              SELECT event_type, value,
                     date_trunc('hour', ts) - to_hours(CAST(i AS BIGINT))
                       AS ws
              FROM (SELECT *, unnest(range(0, 2)) AS i FROM events)
              WHERE date_trunc('hour', ts) - to_hours(CAST(i AS BIGINT))
                      > ts - INTERVAL 2 HOUR
            )
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type,
                   COUNT(*) AS n_events,
                   round(SUM(value), 2) AS sum_value
            FROM h GROUP BY 1, 2 ORDER BY window_start, event_type
        """,
        "user_sessions": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL
                            OR epoch(ts) - epoch(prev_ts) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM (
                SELECT user_id, ts,
                       lag(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_ts
                FROM events
              )
            )
            SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "rollup_orders": """
            SELECT o_orderpriority, o_orderstatus,
                   COUNT(*) AS n_orders,
                   round(SUM(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
            ORDER BY o_orderpriority, o_orderstatus
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1995-03-15'
              AND l_shipdate > DATE '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "customers_without_orders": """
            SELECT c_nationkey, COUNT(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
            )
            GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        "orders_grouping_sets": """
            SELECT o_orderpriority, o_orderstatus,
                   COUNT(*) AS n_orders,
                   round(SUM(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY CUBE (o_orderpriority, o_orderstatus)
            ORDER BY o_orderpriority, o_orderstatus
        """,
        "summary_by_type": """
            SELECT event_type, COUNT(*) AS total,
                   CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS passed,
                   round(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) * 100.0
                         / COUNT(*), 1) AS pass_rate_pct
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "props_numeric": r"""
            WITH k AS (
              SELECT regexp_extract(props, '"k": (\d+)', 1) AS kv FROM events
            )
            SELECT (regexp_full_match(trim(kv), '[0-9.\-]+')
                    AND TRY_CAST(trim(kv) AS DOUBLE) IS NOT NULL) AS is_clean,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(kv AS INT)) AS BIGINT) AS sum_k
            FROM k GROUP BY 1 ORDER BY 1
        """,
        "rule_scan_docs": f"""
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN regexp_matches(text, '[\n,;/]')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_multivalue,
                   CAST(SUM(CASE WHEN regexp_matches(text,
                       '[①-⑳⓪-⓿Ⅰ-Ⅻ㊤㊥㊦㊧㊨㈱㈲㈹℡〒〓※]')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_platform_chars,
                   CAST(SUM(CASE WHEN contains(text, '　') THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_fw_space,
                   CAST(SUM(len(list_filter({_TOKS},
                       x -> lower(trim(x)) IN {_MISSING_LIST}))) AS BIGINT)
                     AS n_missing_tokens
            FROM documents GROUP BY source ORDER BY source
        """,
        "token_stats_by_lang": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
                   CAST(MAX(len({_TOKS})) AS BIGINT) AS max_tokens,
                   round(AVG(len({_TOKS})), 4) AS avg_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "stopword_buckets": f"""
            WITH r AS (
              SELECT CASE WHEN len({_TOKS}) > 0
                     THEN CAST(len(list_filter({_TOKS},
                          x -> x IN ('the','a','of','and','to','in','is')))
                          AS DOUBLE) / len({_TOKS})
                     ELSE 0.0 END AS ratio
              FROM documents
            )
            SELECT CAST(floor(ratio * 20) AS INT) AS bucket,
                   COUNT(*) AS n_docs
            FROM r GROUP BY 1 ORDER BY 1
        """,
        "lang_pred": _LANG_PRED_SQL,
        "fingerprints": r"""
            SELECT source, COUNT(*) AS n_docs,
                   COUNT(DISTINCT md5(lower(
                     regexp_replace(text, '[^\p{L}\p{N}]', '', 'g')
                   ))) AS n_distinct_fp
            FROM documents GROUP BY source ORDER BY source
        """,
        "quality_flags": f"""
            SELECT lang,
                   CAST(SUM(CASE WHEN len({_TOKS}) < 5 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_too_short,
                   CAST(SUM(CASE WHEN (CASE WHEN length(text) > 0 THEN
                       CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                            AS DOUBLE) / length(text) ELSE 0.0 END) < 0.5
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_low_alpha,
                   CAST(SUM(CASE WHEN len(list_filter({_TOKS},
                       x -> x IN ('the','a','of','and','to','in','is'))) = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_no_stopwords
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "exact_dedup_count": """
            SELECT COUNT(*) AS n_after_dedup,
                   COUNT(DISTINCT text) AS n_distinct_texts
            FROM (
              SELECT text, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
              ) AS rn FROM documents
            ) WHERE rn = 1
        """,
        "duplicate_groups": """
            SELECT md5(text) AS content_hash,
                   COUNT(*) AS n_dups,
                   array_to_string(
                     list_sort(list(CAST(doc_id AS VARCHAR))), ','
                   ) AS doc_ids_csv
            FROM documents
            GROUP BY md5(text)
            HAVING COUNT(*) > 1
            ORDER BY content_hash
        """,
        "cosine_topk": """
            WITH q AS (
              SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
              WHERE vec_id = 0
            )
            SELECT e.vec_id,
                   round(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
            FROM embeddings e, q
            ORDER BY list_cosine_similarity(
              CAST(e.embedding AS DOUBLE[]), q.qv) DESC, e.vec_id
            LIMIT 10
        """,
        "cms_token_counts": f"""
            WITH toks AS (
              SELECT unnest({_TOKS}) AS token FROM documents
            ),
            rows4(row) AS (SELECT unnest(range(0, 4))),
            cms AS (
              SELECT row, bucket, COUNT(*) AS cnt FROM (
                SELECT r.row,
                       CAST('0x' || substr(md5(
                         CAST(r.row AS VARCHAR) || ':' || t.token), 1, 13)
                       AS BIGINT) % 512 AS bucket
                FROM toks t CROSS JOIN rows4 r
              ) GROUP BY row, bucket
            ),
            qset AS (
              SELECT DISTINCT token FROM toks
              WHERE substr(md5(token), 1, 1) = '0'
            ),
            qk AS (
              SELECT q.token, r.row,
                     CAST('0x' || substr(md5(
                       CAST(r.row AS VARCHAR) || ':' || q.token), 1, 13)
                     AS BIGINT) % 512 AS bucket
              FROM qset q CROSS JOIN rows4 r
            ),
            est AS (
              SELECT token, MIN(COALESCE(cms.cnt, 0)) AS est
              FROM qk LEFT JOIN cms USING (row, bucket)
              GROUP BY token
            ),
            ex AS (
              SELECT token, COUNT(*) AS n_exact FROM toks GROUP BY token
            )
            SELECT e.token, e.est, ex.n_exact,
                   e.est >= ex.n_exact AS ok
            FROM est e JOIN ex USING (token)
            ORDER BY e.token
        """,
        "winnow_fingerprints": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ),
            th AS (
              SELECT doc_id,
                     [CAST('0x' || substr(md5(x), 1, 7) AS BIGINT)
                      for x in t] AS hs
              FROM toks WHERE len(t) >= 3
            ),
            grams AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                     hs[i] * 1089 + hs[i + 1] * 33 + hs[i + 2] AS h
              FROM (
                SELECT doc_id, hs,
                       unnest(range(1, len(hs) - 1)) AS i
                FROM th
              )
            ),
            sel AS (
              SELECT doc_id, pos AS e,
                     min(h) OVER w AS fp,
                     min_by(pos, h * 1048576 + (1048575 - pos)) OVER w
                       AS fpos
              FROM grams
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
            )
            SELECT DISTINCT doc_id, fpos AS pos, fp
            FROM sel WHERE e >= 3
            ORDER BY doc_id, pos, fp
        """,
        "corpus_overlap_kmv": """
            WITH a_vals AS (
              SELECT DISTINCT md5(text) AS h FROM documents
            ),
            b_vals AS (
              SELECT DISTINCT md5(
                CASE WHEN doc_id % 2 = 0 THEN text
                     ELSE text || ' v2' END) AS h
              FROM documents
            ),
            a_sk AS (SELECT h FROM a_vals ORDER BY h LIMIT 32),
            b_sk AS (SELECT h FROM b_vals ORDER BY h LIMIT 32),
            u_sk AS (
              SELECT h FROM (
                SELECT h FROM a_sk UNION SELECT h FROM b_sk
              ) ORDER BY h LIMIT 32
            ),
            tag AS (
              SELECT u.h,
                     CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
                     CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
              FROM u_sk u
              LEFT JOIN a_sk a ON u.h = a.h
              LEFT JOIN b_sk b ON u.h = b.h
            ),
            m AS (
              SELECT COUNT(*) AS kk, SUM(in_a * in_b) AS n_both,
                     SUM(in_a) AS n_a, SUM(in_b) AS n_b
              FROM tag
            ),
            ea AS (
              SELECT CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 31.0 / (CAST('0x' || substr(max(h), 1, 13) AS BIGINT)
                             / 4503599627370496.0) END AS est
              FROM a_sk
            ),
            eb AS (
              SELECT CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 31.0 / (CAST('0x' || substr(max(h), 1, 13) AS BIGINT)
                             / 4503599627370496.0) END AS est
              FROM b_sk
            )
            SELECT round(ea.est, 4) AS a_distinct_est,
                   round(eb.est, 4) AS b_distinct_est,
                   round(m.n_both / m.kk, 6) AS jaccard_est,
                   round(m.n_both / m.n_b, 6) AS containment_b_in_a,
                   round(m.n_both / m.n_a, 6) AS containment_a_in_b,
                   CAST(m.kk AS BIGINT) AS k_used
            FROM m, ea, eb
        """,
        "corpus_hll_estimate": """
            WITH a_h AS (
              SELECT CAST('0x' || substr(md5(text), 1, 13) AS BIGINT)
                     AS h
              FROM documents
            ),
            b_h AS (
              SELECT CAST('0x' || substr(md5(
                       CASE WHEN doc_id % 2 = 0 THEN text
                            ELSE text || ' v2' END), 1, 13) AS BIGINT)
                     AS h
              FROM documents
            ),
            a_reg AS (
              SELECT h % 64 AS idx,
                     MAX(CASE WHEN h >> 6 = 0 THEN 47
                         ELSE 47 - length(bin(h >> 6)) END) AS rnk
              FROM a_h GROUP BY idx
            ),
            b_reg AS (
              SELECT h % 64 AS idx,
                     MAX(CASE WHEN h >> 6 = 0 THEN 47
                         ELSE 47 - length(bin(h >> 6)) END) AS rnk
              FROM b_h GROUP BY idx
            ),
            u_reg AS (
              SELECT idx, MAX(rnk) AS rnk FROM (
                SELECT idx, rnk FROM a_reg
                UNION ALL SELECT idx, rnk FROM b_reg
              ) GROUP BY idx
            ),
            ea AS (
              SELECT 64 - COUNT(*) AS v,
                     COALESCE(SUM(CAST(1 AS BIGINT) << (47 - rnk)), 0)
                       AS s_ne
              FROM a_reg
            ),
            eb AS (
              SELECT 64 - COUNT(*) AS v,
                     COALESCE(SUM(CAST(1 AS BIGINT) << (47 - rnk)), 0)
                       AS s_ne
              FROM b_reg
            ),
            eu AS (
              SELECT 64 - COUNT(*) AS v,
                     COALESCE(SUM(CAST(1 AS BIGINT) << (47 - rnk)), 0)
                       AS s_ne
              FROM u_reg
            ),
            fa AS (
              SELECT CASE
                WHEN (0.709 * 576460752303423488.0) /
                     CAST(s_ne + v * (CAST(1 AS BIGINT) << 47)
                          AS DOUBLE) <= 160.0 AND v > 0
                THEN 64.0 * ln(64.0 / v)
                ELSE (0.709 * 576460752303423488.0) /
                     CAST(s_ne + v * (CAST(1 AS BIGINT) << 47)
                          AS DOUBLE) END AS est
              FROM ea
            ),
            fb AS (
              SELECT CASE
                WHEN (0.709 * 576460752303423488.0) /
                     CAST(s_ne + v * (CAST(1 AS BIGINT) << 47)
                          AS DOUBLE) <= 160.0 AND v > 0
                THEN 64.0 * ln(64.0 / v)
                ELSE (0.709 * 576460752303423488.0) /
                     CAST(s_ne + v * (CAST(1 AS BIGINT) << 47)
                          AS DOUBLE) END AS est
              FROM eb
            ),
            fu AS (
              SELECT CASE
                WHEN (0.709 * 576460752303423488.0) /
                     CAST(s_ne + v * (CAST(1 AS BIGINT) << 47)
                          AS DOUBLE) <= 160.0 AND v > 0
                THEN 64.0 * ln(64.0 / v)
                ELSE (0.709 * 576460752303423488.0) /
                     CAST(s_ne + v * (CAST(1 AS BIGINT) << 47)
                          AS DOUBLE) END AS est
              FROM eu
            )
            SELECT round(fa.est, 4) AS a_est,
                   round(fb.est, 4) AS b_est,
                   round(fu.est, 4) AS union_est,
                   round(greatest(0.0, fa.est + fb.est - fu.est), 4)
                     AS intersect_est,
                   round(greatest(0.0, fa.est + fb.est - fu.est)
                         / fu.est, 6) AS jaccard_est
            FROM fa, fb, fu
        """,
        "domain_distinct_hll": """
            WITH hh AS (
              SELECT source,
                     CAST('0x' || substr(md5(text), 1, 13) AS BIGINT)
                       AS h
              FROM documents
            ),
            reg AS (
              SELECT source, h % 64 AS idx,
                     MAX(CASE WHEN h >> 6 = 0 THEN 47
                         ELSE 47 - length(bin(h >> 6)) END) AS rnk
              FROM hh GROUP BY source, idx
            ),
            e AS (
              SELECT source, 64 - COUNT(*) AS v,
                     COALESCE(SUM(CAST(1 AS BIGINT) << (47 - rnk)), 0)
                       AS s_ne
              FROM reg GROUP BY source
            ),
            f AS (
              SELECT source, v,
                     (0.709 * 576460752303423488.0) /
                     CAST(s_ne + v * (CAST(1 AS BIGINT) << 47)
                          AS DOUBLE) AS raw
              FROM e
            )
            SELECT source,
                   round(CASE WHEN raw <= 160.0 AND v > 0
                     THEN 64.0 * ln(64.0 / v)
                     ELSE raw END, 4) AS n_distinct_est,
                   (raw <= 160.0 AND v > 0) AS linear_counting
            FROM f ORDER BY source
        """,
        "score_buckets": """
            WITH s AS (
              SELECT doc_id, lang,
                     CAST(length(text) AS BIGINT) AS score
              FROM documents
            ),
            r AS (
              SELECT doc_id, lang, score,
                     percent_rank() OVER (
                       PARTITION BY lang ORDER BY score) AS pr
              FROM s
            )
            SELECT doc_id, lang, score,
                   CASE
                     WHEN pr < CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE)
                       THEN 'head'
                     WHEN pr < CAST(2 AS DOUBLE) / CAST(3 AS DOUBLE)
                       THEN 'middle'
                     ELSE 'tail' END AS bucket
            FROM r ORDER BY doc_id
        """,
        "wordpiece_pair_scores": f"""
            WITH toks AS (
              SELECT unnest({_TOKS}) AS word FROM documents
            ),
            wf AS (
              SELECT word, COUNT(*) AS freq FROM toks GROUP BY word
            ),
            syms AS (
              SELECT freq,
                     [CASE WHEN i = 1 THEN substr(word, i, 1)
                           ELSE '##' || substr(word, i, 1) END
                      for i in range(1, length(word) + 1)] AS s
              FROM wf
            ),
            sc AS (
              SELECT sym, SUM(freq) AS n_sym FROM (
                SELECT unnest(s) AS sym, freq FROM syms
              ) GROUP BY sym
            ),
            pc AS (
              SELECT pair, SUM(freq) AS cnt FROM (
                SELECT s[i] || ' ' || s[i + 1] AS pair, freq
                FROM (
                  SELECT s, freq, unnest(range(1, len(s))) AS i
                  FROM syms WHERE len(s) >= 2
                )
              ) GROUP BY pair
            )
            SELECT p.pair, CAST(p.cnt AS BIGINT) AS "count",
                   CAST(p.cnt AS DOUBLE)
                     / CAST(a.n_sym * b.n_sym AS DOUBLE) AS score
            FROM pc p
            JOIN sc a ON a.sym = split_part(p.pair, ' ', 1)
            JOIN sc b ON b.sym = split_part(p.pair, ' ', 2)
            ORDER BY score DESC, p.pair LIMIT 20
        """,
        "doremi_mix_weights": """
            WITH l AS (
              SELECT source AS domain,
                     CAST((doc_id * 37) % 101 AS DOUBLE)
                       / CAST(101 AS DOUBLE) AS lp,
                     CAST((doc_id * 61) % 103 AS DOUBLE)
                       / CAST(103 AS DOUBLE) AS lr
              FROM documents
            ),
            ex AS (
              SELECT domain, AVG(greatest(lp - lr, 0.0)) AS lam
              FROM l GROUP BY domain
            ),
            kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM ex),
            steps AS (SELECT unnest(range(1, 101)) AS t),
            un AS (
              SELECT t, domain, lam,
                     exp(0.5 * t * lam) AS u
              FROM ex CROSS JOIN steps
            ),
            al AS (
              SELECT t, domain, lam,
                     u / SUM(u) OVER (PARTITION BY t) AS a
              FROM un
            ),
            sm AS (
              SELECT domain, lam,
                     (1.0 - 0.001) * a + 0.001 / kk.k AS ap
              FROM al, kk
            )
            SELECT domain, round(lam, 6) AS excess_loss,
                   round(SUM(ap) / 100.0, 6) AS weight
            FROM sm GROUP BY domain, lam ORDER BY domain
        """,
        "pair_score_filter": """
            WITH n AS (SELECT COUNT(*) AS c FROM embeddings),
            p AS (
              SELECT vec_id AS pair_id, vec_id AS text_id,
                     (vec_id * 7 + 13) % n.c AS media_id
              FROM embeddings, n
            ),
            s AS (
              SELECT p.pair_id, p.media_id,
                     list_cosine_similarity(
                       CAST(t.embedding AS DOUBLE[]),
                       CAST(m.embedding AS DOUBLE[])) AS sc
              FROM p
              JOIN embeddings t ON t.vec_id = p.text_id
              JOIN embeddings m ON m.vec_id = p.media_id
            )
            SELECT pair_id, media_id, round(sc, 6) AS pair_score
            FROM s WHERE sc >= 0.2
            ORDER BY pair_id
        """,
        "ngram_jaccard_pairs": f"""
            WITH t AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     {_TOKS} AS toks
              FROM documents
            ), sh AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE [array_to_string(toks[i:i+2], ' ')
                      for i in range(1, len(toks) - 1)] END
              )) AS shingle FROM t
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
            ), common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, n_common,
                   round(CAST(n_common AS DOUBLE)
                         / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE)
                  / (sa.set_size + sb.set_size - n_common) >= 0.8
            ORDER BY id_a, id_b
        """,
        "cleaning_funnel": rf"""
            WITH s1 AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text, row_number() OVER (
                  PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM documents
              ) WHERE rn = 1
            ), s2 AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text, row_number() OVER (
                  PARTITION BY md5(lower(
                    regexp_replace(text, '[^\p{{L}}\p{{N}}]', '', 'g')))
                  ORDER BY doc_id) AS rn
                FROM s1
              ) WHERE rn = 1
            ), s3 AS (
              SELECT doc_id, text FROM s2
              WHERE len({_TOKS}) >= 5
            ), s3s AS (
              SELECT doc_id, {_SCORE_COLS} FROM s3
            ), s4 AS (
              SELECT doc_id FROM s3s
              WHERE greatest(s_en, s_es, s_de, s_fr, s_zh) > 0
            )
            SELECT * FROM (
              SELECT 0 AS stage_idx, 'raw' AS stage,
                     (SELECT COUNT(*) FROM documents) AS n_docs
              UNION ALL SELECT 1, 'exact_dedup', (SELECT COUNT(*) FROM s1)
              UNION ALL SELECT 2, 'normalized_dedup', (SELECT COUNT(*) FROM s2)
              UNION ALL SELECT 3, 'min_tokens', (SELECT COUNT(*) FROM s3)
              UNION ALL SELECT 4, 'lang_known', (SELECT COUNT(*) FROM s4)
            ) ORDER BY stage_idx
        """,
        # ngram_jaccard_prefix shares the exact semantics of
        # ngram_jaccard_pairs; its oracle is added programmatically below
        "near_dup_clusters": f"""
            WITH RECURSIVE t AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     {_TOKS} AS toks
              FROM documents
            ), sh AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                ELSE [array_to_string(toks[i:i+2], ' ')
                      for i in range(1, len(toks) - 1)] END
              )) AS shingle FROM t
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
            ), common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), pairs AS (
              SELECT id_a, id_b FROM common
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE CAST(n_common AS DOUBLE)
                    / (sa.set_size + sb.set_size - n_common) >= 0.8
            ), edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ), reach(u, label) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges) seed
              UNION
              SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
            )
            SELECT u AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY u ORDER BY doc_id
        """,
        "cosine_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6)
                     AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) >= 0.4
            ORDER BY id_a, id_b
        """,
        # minhash_near_dups / simhash_near_dups / ann_lsh_topk /
        # embedding_near_dups: banded LSH bucketing and hyperplane
        # signatures are not ANSI-SQL-expressible → rows-only.
    }
