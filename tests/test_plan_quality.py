"""Physical-plan regression tests.

At 100 TB the plan IS the performance: these tests pin the plan
properties the engine relies on, so a refactor that silently loses a
broadcast, adds an exchange, or re-triggers the Generate-pushdown trap
(see operators/dedup.py ngram docstring) fails CI instead of shipping a
5× regression.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from machine_readability_checker_spark.operators import dedup, similarity
from machine_readability_checker_spark.operators.extract import extract
from machine_readability_checker_spark.operators.repartition import (
    salted_repartition,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_is_narrow_single_exchange(spark):
    """Extraction must stay embarrassingly parallel: exactly one exchange
    (the explicit salted skew repartition), zero otherwise."""
    raw = E._docs_as_csv(spark, SF)
    assert _plan(extract(raw)).count("Exchange") == 0
    assert _plan(extract(salted_repartition(raw, 8))).count("Exchange") == 1


def test_star_join_broadcasts_dimensions(spark):
    """orders ⋈ customer ⋈ nation must broadcast the dims — a shuffle
    join on the fact table's key would add two full exchanges."""
    plan = _plan(E.q_revenue_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_scan_pushdown_and_column_pruning(spark):
    """tpch_q1's filter must reach the parquet scan, and the scan must
    read only the referenced columns, not the whole lineitem schema."""
    plan = _plan(E.q_tpch_q1(spark, SF))
    scan = plan.split("FileScan")[1]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema  # widest column pruned away
    for col in ("l_quantity", "l_extendedprice", "l_discount"):
        assert col in read_schema


def test_minhash_signatures_no_shuffle(spark):
    """Signature computation is per-document work inside an Arrow UDF —
    any Exchange here means someone reintroduced a reduction shuffle."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    plan = _plan(dedup.minhash_signatures(docs, shingle_k=3))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_ngram_plan_avoids_generate_pushdown_trap(spark):
    """The shingle HOF chain must not be inlined into a pre-scan Filter
    (InferFiltersFromGenerate + pushdown re-evaluates the token-hash
    transform per element — O(n²·k); see dedup.ngram_jaccard_pairs)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    plan = _plan(dedup.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.8))
    for scan_part in plan.split("FileScan")[1:]:
        data_filters = scan_part.split("DataFilters:")[1].splitlines()[0]
        assert "element_at(transform" not in data_filters
        assert "xxhash64" not in data_filters


def test_lsh_topk_broadcasts_queries(spark):
    """ANN bucket join must broadcast the (small) query table."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(similarity.lsh_bucket_topk(emb, queries, k=5, n_planes=4, dim=64))
    assert "BroadcastHashJoin" in plan


def test_exact_dedup_single_shuffle_on_hash(spark):
    """exact_dedup must shuffle once, keyed on the md5 hash — never on
    the raw text column."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    plan = _plan(dedup.exact_dedup(docs))
    assert plan.count("Exchange") == 1
    exchange_line = [ln for ln in plan.splitlines() if "Exchange" in ln][0]
    assert "_h" in exchange_line and "text" not in exchange_line


def test_rule_scan_reads_only_needed_columns(spark):
    """Native rule scan over documents must prune to exactly the columns
    it uses (text + the source grouping key) — reading doc_id/lang/
    n_chars would inflate scan IO for nothing."""
    plan = _plan(E.q_rule_scan_docs(spark, SF))
    scan = plan.split("FileScan")[1]
    read_schema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "source" in read_schema
    for unused in ("doc_id", "lang", "n_chars"):
        assert unused not in read_schema


def test_cleaning_funnel_single_pass(spark):
    """The funnel must label each document once: exactly the two dedup
    window shuffles plus the final aggregation — not a per-stage recount
    (the old shape re-executed stages 1..k-1 to count stage k, so the
    window dedups ran ~4x)."""
    from machine_readability_checker_spark.operators import textstats as TS

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    f = TS.cleaning_funnel(docs)
    plan = _plan(f)
    assert plan.count("Window") == 2
    assert plan.count("Exchange hashpartitioning") == 2
    rows = {r["stage"]: r["n_docs"] for r in f.collect()}
    assert (
        rows["raw"]
        >= rows["exact_dedup"]
        >= rows["normalized_dedup"]
        >= rows["min_tokens"]
        >= rows["lang_known"]
    )


def test_repetition_stats_is_narrow(spark):
    """The repetition scan is per-row expression work: zero exchanges,
    and the staged _toks/_bg/_bgsort projections must not collapse back
    into one nested expression (the collapse re-derives the token chain
    per element access — measured ~28x slower at sf0.1; the fast plan
    keeps the stage columns as separate Project levels or aliases
    evaluated once)."""
    from machine_readability_checker_spark.operators import textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = textstats.with_repetition_stats(docs)
    plan = _plan(df)
    assert plan.count("Exchange") == 0
    # the full Gopher battery stays a narrow per-row map too — every
    # n-gram family is sorted per row, never exploded to a shuffle
    full = textstats.with_repetition_stats(docs, battery=True)
    assert _plan(full).count("Exchange") == 0


def test_c4_line_stats_is_narrow_jvm_only(spark):
    """The C4 line battery is per-row expression work (split /
    higher-order filter / array_join / regexp_count): zero exchanges
    and zero Python eval nodes — at 100 TB the pass is scan-bound."""
    from machine_readability_checker_spark.operators import textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(textstats.with_c4_line_stats(docs))
    assert plan.count("Exchange") == 0
    assert "EvalPython" not in plan


def test_contamination_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (small) benchmark shingle side:
    the corpus shingle table is never shuffled for the join — the only
    exchange is the final (corpus_id, bench_id) count aggregation over
    the matched sliver."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    is_b = E._is_query_doc(F.col("doc_id"))
    pairs = dedup.contamination_pairs(
        docs.filter(~is_b), docs.filter(is_b), max_df=None
    )
    plan = _plan(pairs)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exchanges: broadcast distribution + the pair-count aggregation;
    # the corpus side itself must not be hash-repartitioned on shingle
    assert plan.count("Exchange hashpartitioning") <= 1


def test_pack_shards_avoids_global_window(spark):
    """Token-budget packing must never funnel the corpus through a
    single task: the naive Window.orderBy(id) running total plans an
    Exchange SinglePartition; the two-phase prefix sum plans only
    parallel range/hash exchanges."""
    from machine_readability_checker_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        sampling.pack_shards(docs, budget_tokens=2000, checkpoint=False)
    )
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan  # the parallel id-order phase
    assert "Window" in plan  # per-partition running totals


def test_asof_join_stays_parallel(spark):
    """The as-of join's union + running-last decomposition must shuffle
    on the key, never through a single task (a global-ordered window
    would plan Exchange SinglePartition)."""
    from machine_readability_checker_spark.operators.temporal import (
        asof_join_last,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    plan = _plan(asof_join_last(left, right, value_cols=["value"]))
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan


def test_dup_ngram_spans_plan_shape(spark):
    """ExactSubstr spans must stay a count-aggregate + one equi-join +
    per-doc windows: no cartesian/nested-loop anywhere (the pair-free
    property is what makes it viable at corpus scale — a hot window
    collapses in the map-side combine instead of exploding into pairs),
    and the window-key aggregate must show a partial (map-side) phase."""
    docs = E._t(spark, SF, "documents").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    plan = _plan(dedup.duplicate_ngram_spans(docs, window=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partial_count before the exchange = map-side combine on window keys
    assert "partial_count" in plan


def test_ivfpq_refined_query_pruned_zero_exchange(spark, tmp_path):
    """The refined IVF-PQ query must keep the ADC plan shape: ONE
    partition-pruned scan (PartitionFilters on cell), zero exchanges —
    the refine stage re-ranks the shortlist rows in place, never
    re-scanning or joining the corpus."""
    rows = [
        (i, [float((i * 7 + j) % 13) for j in range(16)]) for i in range(64)
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents, cbs = similarity.train_ivfpq(
        corpus, n_cells=4, m=4, k=4, cell_iters=0, pq_iters=0
    )
    path = str(tmp_path / "ivfpq_ref")
    similarity.write_ivfpq_index(corpus, path, cents, cbs, store_vectors=True)
    q = similarity.query_ivfpq_index_refined(
        spark, path, rows[0][1], cents, cbs, k=5, n_probe=2, shortlist=20
    )
    plan = _plan(q)
    assert plan.count("Exchange") == 0
    assert plan.count("FileScan") == 1
    part_filters = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters


def test_html_table_rules_single_exchange(spark):
    """The web-table battery is two chained narrow mapInPandas kernels
    (page synth, grid battery) + one hash aggregate: the only exchange
    in the plan must be that aggregate's — any second exchange means a
    shuffle crept in between the kernels."""
    df = E.queries()["html_table_rules"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("MapInPandas") == 2


_VARIANT_LANES = sorted(
    [f"{n}_table_rules" for n in E._VARIANT_TABLE_LANES if n != "html"]
    + ["html_table_stats", "pdf_table_stats"]
    + [f"{n}_extract" for n in E._VARIANT_EXTRACT_LANES]
)


@pytest.mark.parametrize("lane", _VARIANT_LANES)
def test_variant_lane_plan_shape(spark, lane):
    """Every other variant lane keeps the same shape: narrow kernels (a
    document builder + the table kernel for table lanes, the extraction
    kernel alone otherwise) and one hash aggregate as the only hash
    exchange."""
    plan = _plan(E.queries()[lane](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("MapInPandas") == (1 if lane.endswith("_extract") else 2)


def test_tfidf_plan_jvm_only_with_group_limit(spark):
    """TF-IDF must stay whole-JVM (no Python in the hot path) and the
    per-document top-k must pre-prune map-side (WindowGroupLimit), not
    shuffle every (doc, term) row into the window."""
    plan = _plan(E.q_tfidf_top_terms(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan
    # N arrives as a broadcast 1-row join, never a driver collect
    assert "BroadcastNestedLoopJoin" in plan


def test_line_dedup_plan_shape(spark):
    """Duplicate-line strip: all-JVM, the line table joined against the
    (small) dup set with a hashed-key join — and no cartesian anywhere
    (the 1-row N-broadcast of tfidf is the only sanctioned nested-loop
    in this family)."""
    from machine_readability_checker_spark.operators.linededup import (
        strip_dup_lines,
    )

    plan = _plan(strip_dup_lines(E._multiline_docs(spark, SF)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_winnow_plan_shape(spark):
    """Winnowing: the two window aggregates share one per-document
    exchange; gram hashing is the materialized rolling polynomial —
    zero Python, no cartesian (match pairs use the hashed fp join)."""
    from machine_readability_checker_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_match_pairs,
    )

    docs = E._t(spark, SF, "documents").select("doc_id", "text")
    fps = winnow_fingerprints(docs, k=3, w=4, portable=True)
    plan = _plan(fps)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # ONE exchange for the per-doc window (plus nothing else wide)
    assert plan.count("Exchange hashpartitioning") <= 2
    pplan = _plan(winnow_match_pairs(fps))
    assert "CartesianProduct" not in pplan
    assert "BatchEvalPython" not in pplan


def test_pair_score_plan_shape(spark):
    """CLIP-score gating over precomputed tower tables: two hash joins
    (one broadcast), the cosine entirely JVM-side — no Python, no
    cartesian anywhere (the towers are model OUTPUT tables here; the
    stand-in embedder kernels are the only sanctioned Arrow steps and
    they sit outside this path)."""
    plan = _plan(E.q_pair_score_filter(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_site_boilerplate_plan_shape(spark):
    """Site-scoped boilerplate strip: all-JVM; the per-site page-count
    aggregate rides a BROADCAST join onto the (site, line) aggregate
    (sites ≪ pages), the corpus-side line table hits the boilerplate
    set through a LEFT ANTI hashed join, and no cartesian appears."""
    from machine_readability_checker_spark.operators.linededup import (
        strip_site_boilerplate,
    )

    plan = _plan(
        strip_site_boilerplate(E._site_docs(spark, SF), site_col="source")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_pagerank_iteration_plan(spark):
    """One PageRank iteration must carry the dangling mass as a 1-row
    BROADCAST (never a driver action or a wide cross join) and keep the
    contribution aggregate partial (map-side combine defuses in-degree
    skew)."""
    from machine_readability_checker_spark.operators import linkgraph as LG

    g = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    df = LG.pagerank(g, n_iter=1)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # dangling scalar: broadcast nested-loop over ONE row
    assert "BroadcastNestedLoopJoin" in plan
    # the per-dst sum is a partial+final hash aggregate pair
    assert plan.count("HashAggregate") >= 2


def test_semantic_dedup_pairs_plan_shape(spark):
    """SemDeDup's within-cluster self-join must be an equality join on
    the cell key (SMJ/SHJ after one shuffle per side) — a cartesian or
    nested-loop here is the O(N²) the paper's clustering exists to
    avoid — and all cosine math stays JVM-side."""
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    cents = similarity.kmeans_centroids(emb, k=4, iters=0)
    plan = _plan(similarity.semantic_dedup_pairs(emb, cents, tau=0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_plan_shape(spark):
    """DSIR at scale: the hashed-model weight join must BROADCAST the
    ≤hash_buckets-row model (the corpus never shuffles toward the
    model), selection must compile to TakeOrderedAndProject (per-
    partition top-k, never a global sort), and everything stays
    JVM-side."""
    from machine_readability_checker_spark.operators import dsir

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    lr = dsir.dsir_log_ratios(
        dsir.feature_counts(docs, hash_buckets=256),
        dsir.feature_counts(docs.filter("lang = 'en'"), hash_buckets=256),
    )
    w = dsir.dsir_weights(docs, lr, hash_buckets=256, broadcast_model=True)
    plan = _plan(dsir.dsir_select(w, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_redirect_rewrite_broadcasts_alias_map(spark):
    """Edge rewrite must broadcast the (small) resolved map — a
    shuffle join keyed on the corpus-sized edge table's dst would add
    two full exchanges at 100 TB."""
    from machine_readability_checker_spark.operators.redirects import (
        resolve_redirect_map,
        rewrite_edges_dst,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    graph = spark.createDataFrame(
        [("p", "a"), ("q", "x")], "src string, dst string"
    )
    plan = _plan(rewrite_edges_dst(graph, resolve_redirect_map(edges)))
    assert "BroadcastHashJoin" in plan
    # the graph side must not be exchanged for the rewrite
    assert "CartesianProduct" not in plan


def test_wet_write_single_exchange(spark):
    """The WET sink is one explicit shard exchange + in-partition sort
    feeding the streaming writer kernel — nothing else may shuffle."""
    from machine_readability_checker_spark.sources.warcsink import (
        _shard_writer_kernel,
        _with_shards,
        _MANIFEST_SCHEMA,
    )

    docs = spark.range(0, 64).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("u"), F.col("id")).alias("rurl"),
        F.concat(F.lit("t"), F.col("id")).alias("rtext"),
    )
    sharded = _with_shards(docs, 4, "rid", "mod")
    staged = sharded.repartition(4, F.col("shard")).sortWithinPartitions(
        "shard", "position"
    )
    plan = _plan(
        staged.mapInPandas(
            _shard_writer_kernel("/tmp/_plan_probe", "x.gz", lambda r: b"",
                                 "2026-01-01T00:00:00Z"),
            schema=_MANIFEST_SCHEMA,
        )
    )
    assert plan.count("Exchange") == 1
    # in-partition sort only — a global Sort would serialize the write
    assert "rangepartitioning" not in plan.lower()


def test_pack_interleaved_avoids_global_window(spark):
    """The multimodal token-budget packer rides the same two-phase
    prefix sum as pack_shards: parallel range exchange + per-partition
    windows, never Exchange SinglePartition."""
    from machine_readability_checker_spark.operators.interleave import (
        interleaved_segments,
        pack_interleaved,
    )

    seg = interleaved_segments(
        E._synth_interleaved(spark, SF)
    )
    plan = _plan(pack_interleaved(seg, checkpoint=False))
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan
    assert "Window" in plan


def test_drop_frequent_media_no_cartesian_one_corpus_agg(spark):
    """Frequent-media removal: the only corpus-wide aggregate is the
    key count (map-side partials); no cartesian product anywhere; the
    segment rewrite is a key join, not a broadcast of the corpus."""
    from machine_readability_checker_spark.operators.interleave import (
        drop_frequent_media,
        interleaved_segments,
    )

    seg = interleaved_segments(E._synth_interleaved(spark, SF))
    keys = seg.select(
        "doc_id",
        F.explode(
            F.filter(F.col("segments"), lambda s: s["type"] == "media")
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.text").alias("key"),
    )
    plan = _plan(drop_frequent_media(seg, keys, max_occurrences=5))
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # partial aggregation present for the key count
    assert "partial_count" in plan


def test_resolve_media_payloads_hashed_once(spark, tmp_path):
    """The sidecar read path: each distinct payload is fetched and
    hashed once (dropDuplicates on the digest plans a hash aggregate,
    not a window), and nothing plans a cartesian."""
    from machine_readability_checker_spark.operators.interleave import (
        interleaved_segments,
        resolve_media_segments,
    )
    from machine_readability_checker_spark.sources.warcsink import (
        build_cdxj,
        write_warc_resources,
    )

    rows = [
        (f"d{i}", [{"kind": "media", "text": "", "media_ref": "m.bin",
                    "offset": 0}])
        for i in range(4)
    ]
    from machine_readability_checker_spark.model import SPAN_STRUCT
    from pyspark.sql import types as T

    seg = interleaved_segments(
        spark.createDataFrame(
            rows,
            T.StructType([
                T.StructField("doc_id", T.StringType()),
                T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
            ]),
        )
    ).select("doc_id", "segments")
    store = spark.createDataFrame(
        [(f"d{i}", "m.bin", bytearray(b"payload")) for i in range(4)],
        "doc_id string, media_ref string, content binary",
    )
    warc_dir = str(tmp_path / "w")
    write_warc_resources(store, warc_dir, n_shards=1, dedup=True).collect()
    idx = build_cdxj(spark, f"{warc_dir}/*.warc.gz")
    out = resolve_media_segments(spark, seg, idx, warc_dir)
    plan = _plan(out)
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # and the result is correct: 4 refs resolve off ONE stored payload
    got = out.collect()
    assert len(got) == 4
    assert all(bytes(r["content"]) == b"payload" for r in got)


def test_session_l_aggregate_lanes_stay_jvm_and_bounded(spark):
    """Session-L aggregate families: the data card is two aggregates +
    a broadcast cross (no Python, no window), the code-quality scan is
    a zero-exchange narrow map, and the license inventory is one
    aggregate exchange."""
    from machine_readability_checker_spark.operators import (
        codestats as CS,
        datacard as DC,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    card = _plan(DC.corpus_datacard(docs))
    assert "BatchEvalPython" not in card and "ArrowEvalPython" not in card
    assert "Window" not in card
    assert "BroadcastExchange" in card

    cq = _plan(CS.code_quality_stats(docs))
    assert "Exchange" not in cq  # pure narrow scan
    assert "EvalPython" not in cq

    lc = _plan(CS.license_counts(docs))
    assert lc.count("Exchange") == 1
    assert "EvalPython" not in lc


def test_fertility_and_buckets_scale_plans(spark):
    """tokenizer_fertility is one map-side-combined aggregate; the
    score_buckets thresholds plan broadcasts cutoffs onto a narrow
    scan (re-pinned here at the lane shape, not just unit fixtures)."""
    from machine_readability_checker_spark.operators import (
        sampling,
        textstats as TS,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    fert = _plan(TS.tokenizer_fertility(docs))
    assert fert.count("Exchange") == 1
    assert "EvalPython" not in fert and "Window" not in fert

    scored = docs.select(
        "doc_id", "lang", F.length("text").cast("long").alias("score")
    )
    sb = _plan(sampling.score_buckets(scored, score_col="score", by="lang"))
    assert "Window" not in sb
    assert "BroadcastHashJoin" in sb
