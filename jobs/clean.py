"""spark-submit entry point: training-data cleaning over extracted spans.

Chains the extraction output into the training-data prep lane:

    read spans table (jobs/extract.py output, or --gen to self-generate)
      → main-content text per document (cell spans joined; headers and
        annotations are boilerplate)
      → cleaning funnel (exact dedup → normalized dedup → min tokens →
        [Gopher repetition flags, --drop-repetitive] → [model-based
        quality score, --quality-model] → [LM perplexity under a
        corpus-trained trigram Stupid Backoff model, --ppl-filter] →
        [language known, --require-known-lang; --lang-model swaps the
        stopword heuristic for the 16-language char-n-gram classifier])
      → benchmark decontamination (--benchmark eval-set parquet;
        n-gram-overlap hits dropped)
      → near-duplicate clustering (3-gram Jaccard pairs → connected
        components) → keep-list
      → write cleaned corpus + funnel stats + cluster map, print one
        JSON stats line

Usage:
    spark-submit --master local[32] --py-files dist/engine.zip \\
        jobs/clean.py --input /tmp/mrc_out/data --out /tmp/mrc_clean
    spark-submit ... jobs/clean.py --gen 2000 --out /tmp/mrc_clean
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from machine_readability_checker_spark.model import RAW_SCHEMA  # noqa: E402
from machine_readability_checker_spark.operators import (  # noqa: E402
    dedup as D,
    textstats as TS,
)
from machine_readability_checker_spark.operators.extract import extract  # noqa: E402
from machine_readability_checker_spark.operators.repartition import (  # noqa: E402
    salted_repartition,
)
from machine_readability_checker_spark.session import get_spark  # noqa: E402
from machine_readability_checker_spark.sources.fixtures import gen_corpus  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of extracted spans")
    ap.add_argument(
        "--input-wet", metavar="GLOB",
        help="consume WET conversion records (*.warc.wet.gz — the "
        "Common Crawl pre-extracted-text interchange) directly as the "
        "cleaning input: text rides as-is, no span rendering — the "
        "path that points this funnel at a real CC segment",
    )
    ap.add_argument(
        "--input-iceberg", metavar="TABLE_ROOT",
        help="read the spans table from an Iceberg-layout table root "
        "(jobs/extract.py --iceberg output); --version time-travels",
    )
    ap.add_argument("--version", type=int, default=None)
    ap.add_argument("--gen", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--cores", type=int, default=None,
        help="run on local[N] (default: spark-submit's --master, else "
        "local[SPARK_GRAFT_CPUS or this host's CPUs])",
    )
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument(
        "--require-known-lang", action="store_true",
        help="also drop documents whose stopword-vote language ID is "
        "'und' (off by default: synthetic/tabular corpora are mostly "
        "language-free and would be wiped out)",
    )
    ap.add_argument(
        "--fix-mojibake", action="store_true",
        help="repair UTF-8-as-cp1252/latin-1 double encoding before "
        "cleaning (ftfy-style, guarded/never destructive - "
        "operators.textstats.fix_mojibake); the JSON line gains "
        "mojibake_fixed",
    )
    ap.add_argument(
        "--c4-lines", action="store_true",
        help="add the C4 line battery (Raffel et al. 2020): rewrite "
        "every document to its surviving lines (terminal punctuation, "
        ">=3 words, no javascript/cookie-policy boilerplate) and drop "
        "pages with lorem ipsum, curly braces, or fewer than 5 "
        "surviving sentences; all later stages see the rewritten text. "
        "Meant for line-structured web prose — tabular/synthetic "
        "corpora without terminal punctuation will be wiped out "
        "(same caveat as --require-known-lang)",
    )
    ap.add_argument(
        "--badwords", metavar="FILE",
        help="add the C4 bad-words page gate: drop any page containing "
        "a whole-word (case-insensitive) match of a phrase from FILE "
        "(one per line, # comments); the conventional source is the "
        "public LDNOOBW word list — the repo ships none",
    )
    ap.add_argument(
        "--drop-repetitive", action="store_true",
        help="add the Gopher-style repetition stage to the funnel "
        "(dup-token / looping-bigram flags)",
    )
    ap.add_argument(
        "--quality-model", action="store_true",
        help="add the CCNet-style model-based quality stage to the "
        "funnel: a hashed-n-gram logistic classifier trained on the "
        "seeded prose-vs-junk fixtures, persisted under <out>/"
        "quality_model; documents scoring below the threshold are "
        "dropped (scoring is a broadcast weight vector, narrow map)",
    )
    ap.add_argument(
        "--quality-threshold", type=float, default=None,
        help="absolute quality_prob cutoff; when omitted the cutoff is "
        "calibrated per-corpus as the --quality-tail quantile of the "
        "score distribution (CCNet drops the perplexity TAIL bucket, "
        "not an absolute score — an absolute 0.5 would zero out any "
        "corpus whose domain differs from the training prose)",
    )
    ap.add_argument(
        "--quality-tail", type=float, default=0.2,
        help="fraction of lowest-scoring documents the calibrated "
        "threshold drops (ignored when --quality-threshold is given)",
    )
    ap.add_argument(
        "--ppl-filter", action="store_true",
        help="add the CCNet-style LM-perplexity stage to the funnel: a "
        "trigram Stupid Backoff model is trained ON THIS CORPUS "
        "(operators.ngram_lm; counts persisted under <out>/ppl_model) "
        "and each document is scored under it; the highest-perplexity "
        "--ppl-tail fraction is dropped.  Scoring auto-routes: models "
        "under the broadcast budget ride a task-broadcast dict (narrow "
        "map), larger models take the distributed join scorer and are "
        "never collected to the driver (see --ppl-scorer)",
    )
    ap.add_argument(
        "--ppl-scorer", choices=["auto", "broadcast", "join"],
        default="auto",
        help="perplexity scorer path: 'auto' (default) refuses the "
        "collect-to-driver broadcast above "
        f"{2_000_000:,} model rows and uses the join scorer instead "
        "(ngram_lm.BROADCAST_MAX_MODEL_ROWS); 'broadcast'/'join' force "
        "a path (both pinned exactly equal by tests)",
    )
    ap.add_argument(
        "--ppl-threshold", type=float, default=None,
        help="absolute perplexity cutoff (documents ABOVE it drop); "
        "when omitted the cutoff is calibrated per-corpus as the "
        "(1 - --ppl-tail) quantile of the perplexity distribution",
    )
    ap.add_argument(
        "--ppl-tail", type=float, default=0.2,
        help="fraction of highest-perplexity documents the calibrated "
        "threshold drops (ignored when --ppl-threshold is given)",
    )
    ap.add_argument(
        "--ppl-min-count", type=int, default=2,
        help="n-gram count pruning floor for the perplexity model "
        "(default 2: singleton bi/trigrams — the bulk of a web-corpus "
        "count table — are pruned, bounding the model; unigrams always "
        "survive.  Set 1 to keep every n-gram: the auto scorer then "
        "routes large models through the join path rather than "
        "collecting them)",
    )
    ap.add_argument(
        "--ppl-buckets", action="store_true",
        help="additionally bucket the CLEANED corpus into CCNet "
        "head/middle/tail perplexity terciles (Wenzek et al. 2020) "
        "under the --ppl-filter model: writes <out>/buckets parquet "
        "(doc_id, perplexity, bucket) and reports per-bucket counts; "
        "bucketing is the scale path (one percentile_approx aggregate "
        "broadcast onto a narrow scan — the corpus never shuffles)",
    )
    ap.add_argument(
        "--lang-model", action="store_true",
        help="dispatch the lang_known stage from the 5-language "
        "stopword heuristic to the 16-language char-n-gram multinomial "
        "classifier (trained on the seeded per-language corpus, "
        "persisted under <out>/lang_model); documents whose model "
        "confidence is below --lang-prob-threshold are dropped — "
        "requires --require-known-lang",
    )
    ap.add_argument("--lang-prob-threshold", type=float, default=0.5)
    ap.add_argument(
        "--benchmark",
        help="parquet path of an eval set (doc_id, text); documents "
        "sharing >= --min-common 3-gram shingles with any benchmark "
        "document are dropped before near-dup clustering",
    )
    ap.add_argument("--min-common", type=int, default=5)
    ap.add_argument(
        "--min-compression-ratio", type=float, default=None,
        help="drop documents whose zlib compression ratio falls below "
        "this (RPv2-style signal: templated/keyword-stuffed pages "
        "compress far below prose; ~0.3 is a conservative floor)",
    )
    ap.add_argument(
        "--overlap-against", metavar="PARQUET",
        help="KMV-sketch corpus algebra against a PRIOR corpus "
        "(parquet with a text column, e.g. an earlier run's cleaned/): "
        "stats gain distinct-count estimates for both corpora plus "
        "Jaccard and containment (what fraction of THIS cleaned corpus "
        "is already in the prior one — the 'is this crawl worth "
        "mixing in' signal).  Cost: one extra scan per corpus; "
        "everything else is k-row arithmetic",
    )
    ap.add_argument("--overlap-k", type=int, default=1024)
    ap.add_argument(
        "--export-jsonl", type=int, default=0, metavar="N_SHARDS",
        help="additionally export the cleaned corpus as N deterministic "
        "gzipped-JSONL shards under <out>/jsonl (the C4/Dolma/RedPajama "
        "interchange shape; byte-reproducible) with a parquet manifest "
        "under <out>/jsonl_manifest",
    )
    ap.add_argument(
        "--code-filters", action="store_true",
        help="add the StarCoder-style code-corpus gate to the funnel "
        "(max/mean line length, ASCII-alpha floor, auto-generated "
        "markers) — stage `code_ok`; for source-code corpora",
    )
    ap.add_argument(
        "--datacard", action="store_true",
        help="write <out>/datacard.json — the computed dataset card "
        "(doc/char/token totals, length percentiles, language mix) "
        "with the funnel counts and calibrated thresholds recorded as "
        "provenance",
    )
    ap.add_argument(
        "--export-arrow", type=int, default=0, metavar="N_SHARDS",
        help="additionally export the cleaned corpus as N Arrow IPC "
        "file shards under <out>/arrow (the zero-copy format "
        "memory-mapping loaders consume; byte-reproducible) with a "
        "parquet manifest under <out>/arrow_manifest; the stats line "
        "gains an `arrow` block with a pyarrow read-back row audit",
    )
    ap.add_argument(
        "--export-wet", type=int, default=0, metavar="N_SHARDS",
        help="additionally export the cleaned corpus as N WET shards "
        "(*.warc.wet.gz, one gzip member per conversion record — the "
        "Common Crawl interchange format; byte-reproducible) under "
        "<out>/wet with a parquet manifest under <out>/wet_manifest",
    )
    args = ap.parse_args()

    spark = get_spark(
        "mrc-clean-job",
        master=f"local[{args.cores}]" if args.cores else None,
    )
    # size everything from the session the job really got
    args.cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()

    extracted = None
    if args.input_wet:
        extracted = None  # WET text needs no span rendering below
    elif args.input_iceberg:
        from machine_readability_checker_spark.sources.iceberg_table import (
            IcebergLayoutTable,
        )

        table = IcebergLayoutTable(args.input_iceberg)
        version = args.version
        if version is None:
            cur = table.current_snapshot()
            version = int(cur["version"]) if cur else None
        extracted = table.read(spark, version=version)
    elif args.input:
        extracted = spark.read.parquet(args.input)
    elif args.gen:
        raw = spark.createDataFrame(gen_corpus(args.gen), schema=RAW_SCHEMA)
        extracted = extract(salted_repartition(raw, max(8, args.cores)))
    else:
        ap.error("need --input, --input-wet, --input-iceberg or --gen")
        return

    # boilerplate strip: main content = cell/main/line spans.  One
    # narrow array expression — the spans array is already in document
    # order, so rendering must NOT round-trip through
    # explode→groupBy→collect_list (that spelling shuffled the whole
    # corpus to reassemble documents that were never apart, and
    # collect_list after a shuffle has no ordering guarantee).
    from machine_readability_checker_spark.operators.render import (
        render_training_text,
    )

    if args.input_wet:
        from machine_readability_checker_spark.sources.warc import read_wet

        texts = read_wet(spark, args.input_wet).select(
            "doc_id", "text"
        )
    else:
        texts = (
            render_training_text(extracted, style="plain")
            .select("doc_id", "text")
        )
    mojibake_fixed = 0
    if args.fix_mojibake:
        # persist the flagged frame: the count and every later stage then
        # share one extract+render pass (the drop reads from the cache)
        texts = TS.fix_mojibake(texts).persist()
        mojibake_fixed = texts.filter("mojibake_fixed").count()
        texts = texts.drop("mojibake_fixed")
    else:
        texts = texts.persist()

    qmodel = None
    qthreshold = args.quality_threshold
    if args.quality_model:
        from machine_readability_checker_spark.operators import (
            quality_model as QM,
        )

        qmodel = QM.train_quality_model(QM.seeded_training_frame(spark))
        # persist the fitted weights next to the output so a re-run (or
        # a downstream scorer) loads the exact model this corpus saw
        qmodel.write().overwrite().save(
            os.path.join(args.out, "quality_model")
        )
        if qthreshold is None:
            # CCNet-style calibration: one extra narrow scan +
            # approxQuantile aggregate over the corpus scores; drops
            # the lowest --quality-tail fraction regardless of where
            # the corpus domain sits relative to the training prose
            qthreshold = QM.score_quality(qmodel, texts).approxQuantile(
                "quality_prob", [args.quality_tail], 0.001
            )[0]

    pmodel = None
    pthreshold = args.ppl_threshold
    if args.ppl_buckets and not args.ppl_filter:
        ap.error("--ppl-buckets requires --ppl-filter")
    if args.ppl_filter:
        from machine_readability_checker_spark.operators import (
            ngram_lm as NGLM,
        )

        pmodel = NGLM.ngram_lm_train(
            texts, n=3, min_count=args.ppl_min_count
        ).persist()
        # persist the counts so a re-run / downstream scorer sees the
        # exact model this corpus was filtered under
        pmodel.write.mode("overwrite").parquet(
            os.path.join(args.out, "ppl_model")
        )
        if pthreshold is None:
            # CCNet-style calibration: drop the highest-perplexity
            # tail.  score_perplexity auto-routes — a model past the
            # broadcast budget calibrates through the join scorer too
            pthreshold = (
                NGLM.score_perplexity(texts, pmodel, mode=args.ppl_scorer)
                .approxQuantile("perplexity", [1.0 - args.ppl_tail], 0.001)
            )[0]

    lmodel = None
    if args.lang_model:
        if not args.require_known_lang:
            ap.error("--lang-model requires --require-known-lang")
        from machine_readability_checker_spark.operators import (
            lang_model as LMOD,
        )

        lmodel = LMOD.train_lang_model(LMOD.seeded_lang_corpus(spark))
        lmodel.write().overwrite().save(os.path.join(args.out, "lang_model"))

    # ONE labeling pass produces both the reported funnel counts and the
    # materialized survivors — stats can never describe a corpus that was
    # not actually built, and the dedup window shuffles run exactly once
    # (the old per-stage recount re-executed stages 1..k-1 for stage k)
    badwords = None
    if args.badwords:
        with open(args.badwords, encoding="utf-8") as fh:
            badwords = [
                ln.strip() for ln in fh
                if ln.strip() and not ln.startswith("#")
            ]

    labeled = TS.label_drop_stage(
        texts,
        badwords=badwords,
        require_known_lang=args.require_known_lang,
        drop_repetitive=args.drop_repetitive,
        quality_model=qmodel,
        quality_threshold=qthreshold if qthreshold is not None else 0.5,
        lang_model=lmodel,
        lang_prob_threshold=args.lang_prob_threshold,
        ppl_model=pmodel,
        ppl_threshold=pthreshold,
        ppl_scorer=args.ppl_scorer,
        min_compression_ratio=args.min_compression_ratio,
        c4_lines=args.c4_lines,
        code_filters=args.code_filters,
    ).persist()
    funnel_df = TS.funnel_from_labels(
        labeled,
        badwords=badwords is not None,
        require_known_lang=args.require_known_lang,
        drop_repetitive=args.drop_repetitive,
        model_quality=qmodel is not None,
        lm_ppl=pmodel is not None,
        compression=args.min_compression_ratio is not None,
        c4_lines=args.c4_lines,
        code_filters=args.code_filters,
    )
    funnel_df.write.mode("overwrite").parquet(os.path.join(args.out, "funnel"))
    funnel_rows = {
        r["stage"]: r["n_docs"]
        for r in sorted(
            spark.read.parquet(os.path.join(args.out, "funnel")).collect(),
            key=lambda r: r["stage_idx"],
        )
    }
    survivors = labeled.filter(F.col("_drop").isNull()).drop("_drop").persist()

    n_contaminated = 0
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        before = survivors.count()
        survivors = D.decontaminate(
            survivors, bench, shingle_k=3, min_common=args.min_common
        ).persist()
        n_contaminated = before - survivors.count()

    # default max_df=1000 is the scale-safe hot-shingle cap; it is sound
    # here because exact duplicates were already removed by the funnel's
    # dedup stages (a >1000-member identical-text cluster can no longer
    # zero out its own intersections)
    pairs = D.ngram_jaccard_pairs(survivors, shingle_k=3, threshold=args.jaccard)
    clusters = D.near_dup_clusters(pairs)
    clusters.write.mode("overwrite").parquet(os.path.join(args.out, "clusters"))
    cleaned = D.dedup_keep_list(survivors, clusters)
    cleaned.write.mode("overwrite").parquet(os.path.join(args.out, "cleaned"))
    if args.export_jsonl:
        from machine_readability_checker_spark.operators.sampling import (
            write_jsonl_shards,
        )

        write_jsonl_shards(
            cleaned.select("doc_id", "text"),
            os.path.join(args.out, "jsonl"),
            n_shards=args.export_jsonl,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "jsonl_manifest")
        )
    arrow_stats = {}
    if args.export_arrow:
        import pyarrow as pa

        from machine_readability_checker_spark.operators.sampling import (
            write_arrow_shards,
        )

        arrow_dir = os.path.join(args.out, "arrow")
        write_arrow_shards(
            cleaned.select("doc_id", "text"),
            arrow_dir,
            n_shards=args.export_arrow,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "arrow_manifest")
        )
        man = spark.read.parquet(
            os.path.join(args.out, "arrow_manifest")
        ).collect()
        back = sum(
            pa.ipc.open_file(r["path"]).read_all().num_rows for r in man
        )
        n_clean = spark.read.parquet(
            os.path.join(args.out, "cleaned")
        ).count()
        arrow_stats = {
            "arrow": {
                "shards": len(man),
                "rows": back,
                # audit against the CLEANED corpus, not the manifest's
                # own bookkeeping — a dropped shard must flip this
                "matches": back == n_clean,
            }
        }

    if args.export_wet:
        from machine_readability_checker_spark.sources.warcsink import (
            write_wet,
        )

        # cleaned carries no URL at this stage; a URN target URI keeps
        # the records self-identifying (WET readers join on the
        # record-id-embedded doc id anyway)
        write_wet(
            cleaned.select(
                "doc_id",
                F.concat(F.lit("urn:mrc:doc/"), F.col("doc_id")).alias(
                    "url"
                ),
                "text",
            ),
            os.path.join(args.out, "wet"),
            n_shards=args.export_wet,
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "wet_manifest")
        )

    bucket_stats = {}
    if args.ppl_buckets:
        from machine_readability_checker_spark.operators import (
            ngram_lm as NGLM2,
        )
        from machine_readability_checker_spark.operators.sampling import (
            score_buckets,
        )

        scored = NGLM2.score_perplexity(
            spark.read.parquet(os.path.join(args.out, "cleaned")), pmodel,
            mode=args.ppl_scorer,
        ).filter(F.col("perplexity").isNotNull())
        bucketed = score_buckets(
            scored, score_col="perplexity", by=None
        ).select("doc_id", "perplexity", "bucket")
        bucketed.write.mode("overwrite").parquet(
            os.path.join(args.out, "buckets")
        )
        bucket_stats = {
            "ppl_buckets": {
                r["bucket"]: r["n"]
                for r in spark.read.parquet(
                    os.path.join(args.out, "buckets")
                )
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        }

    overlap_stats = {}
    if args.overlap_against:
        from machine_readability_checker_spark.operators import (
            sketches as SK,
        )

        k = args.overlap_k
        prior = spark.read.parquet(args.overlap_against).select("text")
        new = spark.read.parquet(
            os.path.join(args.out, "cleaned")
        ).select("text")
        s_prior = SK.kmv_sketch(prior, "text", k).persist()
        s_new = SK.kmv_sketch(new, "text", k).persist()
        ov = SK.kmv_overlap(s_prior, s_new, k).first()
        e_prior = SK.kmv_distinct_estimate(s_prior, k).first()
        e_new = SK.kmv_distinct_estimate(s_new, k).first()
        overlap_stats = {
            "overlap": {
                "prior_distinct_est": round(e_prior["n_distinct_est"], 1),
                "new_distinct_est": round(e_new["n_distinct_est"], 1),
                "jaccard_est": round(ov["jaccard_est"] or 0.0, 4),
                "new_in_prior_est": round(
                    ov["containment_b_in_a"] or 0.0, 4
                ),
                "k": k,
            }
        }

    datacard_stats = {}
    if args.datacard:
        from machine_readability_checker_spark.operators import (
            datacard as DC,
        )

        card_path = os.path.join(args.out, "datacard.json")
        DC.write_datacard(
            DC.corpus_datacard(
                spark.read.parquet(os.path.join(args.out, "cleaned"))
            ),
            card_path,
            extra={
                "funnel": funnel_rows,
                "ppl_threshold": pthreshold,
                "quality_threshold": qthreshold,
            },
        )
        datacard_stats = {"datacard": card_path}

    n_in = survivors.count()
    n_out = spark.read.parquet(os.path.join(args.out, "cleaned")).count()
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "docs_in": texts.count(),
                "mojibake_fixed": mojibake_fixed,
                "docs_after_funnel": n_in,
                "docs_cleaned": n_out,
                "near_dup_removed": n_in - n_out,
                "contaminated_removed": n_contaminated,
                "funnel": funnel_rows,
                **bucket_stats,
                **arrow_stats,
                **datacard_stats,
                **overlap_stats,
                "quality_threshold": (
                    round(qthreshold, 6) if qmodel is not None else None
                ),
                "ppl_threshold": (
                    round(pthreshold, 4) if pmodel is not None else None
                ),
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_in / wall, 1) if wall > 0 else None,
                "cores": args.cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
