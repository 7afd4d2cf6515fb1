"""spark-submit entry point: incremental corpus ingest with index-backed
near-duplicate rejection.

The 100 TB shape this demonstrates: a standing corpus plus a materialized
banded-MinHash index; each new batch is checked against the CORPUS via
partition-pruned index probes (never a corpus self-join, never a corpus
scan), deduplicated within itself, and the survivors are APPENDED to both
the corpus table and the index — so the next batch's probes see them.

    read new batch (or --gen to self-generate with planted duplicates)
      → probe the minhash index (band-partition-pruned reads)
      → reject near-dups of the existing corpus (jaccard_est ≥ --threshold)
      → intra-batch dedup (exact + banded-MinHash, same threshold)
      → append survivors to corpus parquet + their band entries to the
        index → one JSON stats line

Usage:
    spark-submit --master local[32] --py-files dist/engine.zip \\
        jobs/ingest.py --corpus /data/docs --index /data/mh_index \\
        --new /data/batch.parquet --threshold 0.5
    spark-submit ... jobs/ingest.py --corpus ... --index ... --gen 500

First run: if --index does not exist it is built from --corpus (one-off
batch job); an empty/missing corpus starts cold.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from machine_readability_checker_spark.operators import dedup as D  # noqa: E402
from machine_readability_checker_spark.session import get_spark  # noqa: E402

MH = dict(num_perm=64, bands=16, shingle_k=3)


def _gen_batch(spark, n: int, seed_tag: str):
    """Self-generated demo batch: ~1/3 copies of corpus-style texts
    (near-dup bait), 2/3 fresh texts."""
    return spark.range(n).select(
        F.concat(F.lit(f"{seed_tag}-"), F.col("id").cast("string")).alias(
            "doc_id"
        ),
        F.when(
            F.pmod(F.col("id"), 3) == 0,
            F.concat(
                F.lit("shared boilerplate text that repeats across batches "
                      "with common tokens "),
                F.pmod(F.col("id"), 7).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(f"fresh document {seed_tag} number "),
                F.col("id").cast("string"),
                F.lit(" with distinct content tokens "),
                F.md5(F.concat(F.lit(seed_tag), F.col("id").cast("string"))),
            )
        )
        .alias("text"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="corpus parquet dir")
    ap.add_argument("--index", required=True, help="minhash index dir")
    ap.add_argument("--new", help="new-batch parquet (doc_id, text)")
    ap.add_argument("--gen", type=int, default=0, help="self-generate N docs")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument(
        "--cores", type=int, default=None,
        help="run on local[N] (default: spark-submit's --master, else "
        "local[SPARK_GRAFT_CPUS or this host's CPUs])",
    )
    ap.add_argument("--n-buckets", type=int, default=64)
    args = ap.parse_args()

    spark = get_spark(
        "mrc-ingest-job",
        master=f"local[{args.cores}]" if args.cores else None,
    )
    # size everything from the session the job really got
    args.cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("WARN")
    stats = run(spark, args)
    print(json.dumps(stats))
    spark.stop()


def _index_has_data(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def run(spark, args) -> dict:
    """One ingest wave; returns the stats dict (testable in-process —
    ``main`` owns session lifecycle and JSON printing)."""
    t0 = time.time()

    if args.new:
        batch = spark.read.parquet(args.new).select("doc_id", "text")
    elif args.gen:
        batch = _gen_batch(spark, args.gen, f"b{int(t0)}")
    else:
        raise SystemExit("need --new or --gen")
    batch = batch.localCheckpoint(eager=False)

    corpus_exists = os.path.isdir(args.corpus) and any(
        f.endswith(".parquet") for f in os.listdir(args.corpus)
    )
    # gate the bootstrap on index DATA, not directory existence: a
    # pre-created or crash-leftover empty dir must not skip both the
    # bootstrap and the probe (silent corpus/index drift — ADVICE r2)
    if not _index_has_data(args.index) and corpus_exists:
        # one-off batch build from the standing corpus
        D.write_minhash_index(
            spark.read.parquet(args.corpus),
            args.index,
            n_buckets=args.n_buckets,
            **MH,
        )

    # 1. reject near-dups of the EXISTING corpus via pruned index
    # probes; a cold start (no index data yet) skips the probe — the
    # first accepted batch creates the index via the append below
    if _index_has_data(args.index):
        hits = D.query_minhash_index(
            spark,
            args.index,
            batch,
            threshold=args.threshold,
            n_buckets=args.n_buckets,
            **MH,
        )
        dup_ids = (
            hits.select(F.col("query_id").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        fresh = batch.join(dup_ids, "doc_id", "left_anti")
    else:
        dup_ids = batch.select("doc_id").limit(0)
        fresh = batch
    fresh = fresh.localCheckpoint(eager=False)

    # 2. intra-batch dedup: exact, then banded-MinHash pairs clustered
    # with the star-contraction CC (O(log n) rounds even on chain-shaped
    # pair graphs) — exactly one keeper per near-dup cluster, vs a
    # pair-based max-id drop that over-removes chains
    deduped = D.exact_dedup(fresh)
    pairs = D.minhash_lsh_pairs(deduped, threshold=args.threshold, **MH)
    clusters = D.near_dup_clusters_star(pairs)
    accepted = D.dedup_keep_list(deduped, clusters).localCheckpoint(
        eager=False
    )

    # 3. append survivors' band entries to the index FIRST, then the
    # docs to the corpus: if the job dies between the two writes, an
    # indexed-but-absent doc merely over-rejects one batch's re-send
    # (re-probing is idempotent), while the reverse order leaves an
    # unindexed corpus doc that every future batch silently duplicates
    # (fail-closed — ADVICE r2).  Same parameters, so the NEXT batch's
    # probes see these docs.
    D.minhash_index_entries(
        accepted, n_buckets=args.n_buckets, **MH
    ).repartition("band", "bucket").write.mode("append").partitionBy(
        "band", "bucket"
    ).parquet(args.index)
    accepted.write.mode("append").parquet(args.corpus)

    # one conditional aggregate for ALL stats (was three count() jobs):
    # label every batch doc with its fate and sum the labels
    stats = (
        batch.select("doc_id")
        .join(dup_ids.withColumn("_rej", F.lit(1)), "doc_id", "left")
        .join(
            accepted.select("doc_id").withColumn("_acc", F.lit(1)),
            "doc_id",
            "left",
        )
        .agg(
            F.count("*").alias("n_batch"),
            F.sum(F.coalesce(F.col("_rej"), F.lit(0))).alias("n_rej"),
            F.sum(F.coalesce(F.col("_acc"), F.lit(0))).alias("n_acc"),
        )
        .collect()[0]
    )
    n_batch, n_rej, n_acc = (
        stats["n_batch"],
        int(stats["n_rej"] or 0),
        int(stats["n_acc"] or 0),
    )
    return {
        "batch_docs": n_batch,
        "corpus_dup_rejected": n_rej,
        "intra_batch_removed": n_batch - n_rej - n_acc,
        "accepted": n_acc,
        "wall_sec": round(time.time() - t0, 2),
        "cores": args.cores,
    }


if __name__ == "__main__":
    main()
