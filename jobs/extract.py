"""spark-submit entry point: resumable distributed extraction job.

Usage (local example; on a cluster drop --master and let the submitter
choose, shipping the package with --py-files):

    python tools/make_pyfiles.py dist/engine.zip
    spark-submit --master local[32] --py-files dist/engine.zip \
        jobs/extract.py --gen 5000 --out /tmp/mrc_out --splits 16

Pipeline: read/generate docs_raw → deterministic split assignment →
salted repartition → mapInPandas extraction kernel → partitioned parquet
write + atomic per-split manifest commit → per-partition lineage table.
Prints one JSON stats line on completion.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from machine_readability_checker_spark.model import RAW_SCHEMA  # noqa: E402
from machine_readability_checker_spark.operators.extract import (  # noqa: E402
    extract,
    lineage_table,
)
from machine_readability_checker_spark.operators.repartition import (  # noqa: E402
    salted_repartition,
    split_id,
)
from machine_readability_checker_spark.plans.manifest import (  # noqa: E402
    ManifestStore,
    run_resumable,
)
from machine_readability_checker_spark.session import get_spark  # noqa: E402
from machine_readability_checker_spark.sources.fixtures import gen_corpus  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of docs_raw")
    ap.add_argument(
        "--warc",
        help="path/glob of *.warc(.gz) files to ingest instead of parquet "
        "(HTTP-200 response records become docs_raw; file = task granule)",
    )
    ap.add_argument(
        "--archive",
        help="path/glob of .tar/.tar.{gz,bz2,xz}/.tgz/.tbz2/.txz/.zip document bundles to "
        "ingest instead of parquet (members become docs_raw rows; "
        "archive file = task granule; oversized/corrupt members "
        "quarantine)",
    )
    ap.add_argument(
        "--mbox",
        help="path/glob of mbox(.gz) mail archives to ingest instead of "
        "parquet (RFC 4155 split + mboxrd unquoting; messages become "
        "fmt=eml docs_raw rows; archive = task granule)",
    )
    ap.add_argument(
        "--wikidump",
        help="path/glob of MediaWiki pages-articles *.xml(.bz2) dump "
        "parts to ingest instead of parquet (main-namespace pages "
        "become docs_raw rows with fmt=wiki; dump part = task granule; "
        "redirects skipped)",
    )
    ap.add_argument(
        "--min-ocr-conf", type=float, default=None, metavar="PCT",
        help="drop hOCR documents whose mean word confidence falls "
        "below this (0-100) BEFORE span extraction — garbage scans "
        "never reach the corpus; dropped count reported as "
        "ocr_dropped.  Non-hocr rows are untouched (filter + union, "
        "the confidence kernel only ever sees the hocr sliver)",
    )
    ap.add_argument(
        "--html-classifier", choices=["fixed", "context"], default="fixed",
        help="HTML block classifier: 'fixed' (thresholds; the span-"
        "parity default) or 'context' (jusText-style context-sensitive "
        "mode — measured block F1 0.998 vs 0.878 on the labeled QA "
        "corpus; see BENCH/BASELINE.md)",
    )
    ap.add_argument(
        "--render", choices=["plain", "markdown"],
        help="additionally write a rendered per-document `text` column "
        "(ordered span array -> one string; plain = content spans "
        "space-joined, markdown = layout-aware corpus export) so the "
        "output parquet is directly consumable by the cleaning/"
        "tokenizer stages without a second pass",
    )
    ap.add_argument("--gen", type=int, default=0, help="generate N fixture docs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--splits", type=int, default=16)
    ap.add_argument(
        "--wave", type=int, default=4,
        help="splits per wave (0 = all remaining splits in ONE wave). "
        "Waves bound the failure blast radius and give resume its "
        "granularity, but each wave carries fixed driver-side cost "
        "(stage barriers, manifest commits, first-wave codegen) — size "
        "waves for MINUTES of work, not seconds: at real corpus scale "
        "the default is fine; on small benchmark corpora at high "
        "core counts prefer --wave 0 (measured: 4-6 s waves at "
        "local[32] cost ~40%% of wall in fixed overhead)",
    )
    ap.add_argument(
        "--cores", type=int, default=None,
        help="run on local[N] (default: spark-submit's --master, else "
        "local[SPARK_GRAFT_CPUS or this host's CPUs])",
    )
    ap.add_argument("--partitions", type=int, default=0)
    ap.add_argument(
        "--max-waves", type=int, default=0,
        help="stop after N waves (kill/resume testing)",
    )
    ap.add_argument(
        "--iceberg", action="store_true",
        help="commit each completed wave as an Iceberg-layout table "
        "snapshot (sources/iceberg_table.py shim: versioned snapshot "
        "files + atomic current pointer over the same split manifests), "
        "so the output supports time travel and incremental reads; "
        "stats gain the snapshot count and a current-snapshot read-back "
        "audit",
    )
    ap.add_argument(
        "--compact", type=int, default=0, metavar="MAX_FILES",
        help="with --iceberg: after the run, rewrite split directories "
        "holding more than MAX_FILES parquet files down to MAX_FILES "
        "(row-count-verified swap, crash-recoverable), then commit the "
        "post-compaction snapshot; many-small-files is the classic "
        "long-lived-table tax",
    )
    ap.add_argument(
        "--compact-sort", default=None, metavar="COL[,COL]",
        help="with --compact: order each rewritten split by these "
        "columns (Iceberg rewrite_data_files sort strategy) so the "
        "compacted files' min/max footer stats turn tight — the "
        "cheapest moment to buy read-time pruning",
    )
    ap.add_argument(
        "--expire-snapshots", type=int, default=0, metavar="KEEP_LAST",
        help="with --iceberg: after the run (and any compaction), "
        "delete snapshot metadata older than the newest KEEP_LAST "
        "versions (current always kept) — Iceberg expiry semantics",
    )
    ap.add_argument(
        "--remove-orphans", type=float, default=None,
        metavar="GRACE_SECONDS",
        help="with --iceberg: after the run, sweep crash leftovers no "
        "committed state references (mkstemp snapshot/manifest temps, "
        "Spark _temporary staging, stale *.compact.tmp) that are older "
        "than GRACE_SECONDS — Iceberg remove_orphan_files semantics "
        "(the grace window protects concurrent in-flight writers; the "
        "procedure's default is 3 days)",
    )
    args = ap.parse_args()

    spark = get_spark(
        "mrc-extract-job",
        master=f"local[{args.cores}]" if args.cores else None,
    )
    # size everything from the session the job really got
    args.cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("WARN")
    n_parts = args.partitions or max(8, args.cores)

    if args.input:
        raw = spark.read.parquet(args.input)
    elif args.warc:
        from machine_readability_checker_spark.sources.warc import (
            read_warc,
            warc_to_docs_raw,
        )

        raw = warc_to_docs_raw(read_warc(spark, args.warc))
    elif args.archive:
        from machine_readability_checker_spark.sources.archive import (
            read_archives,
        )

        raw = read_archives(spark, args.archive)
    elif args.wikidump:
        from machine_readability_checker_spark.sources.wikidump import (
            read_wikidump,
        )

        raw = read_wikidump(spark, args.wikidump)
    elif args.mbox:
        from machine_readability_checker_spark.sources.mailbox import (
            read_mbox,
        )

        raw = read_mbox(spark, args.mbox)
    elif args.gen:
        raw = spark.createDataFrame(gen_corpus(args.gen), schema=RAW_SCHEMA)
    else:
        ap.error(
            "need --input, --warc, --archive, --wikidump, --mbox or --gen"
        )
        return

    store = ManifestStore(args.out)

    def transform(wave_df: DataFrame) -> DataFrame:
        balanced = salted_repartition(wave_df, n_parts)
        out = extract(balanced, html_context=args.html_classifier == "context")
        if args.render:
            from machine_readability_checker_spark.operators.render import (
                render_training_text,
            )

            # narrow JVM expression — adds zero exchanges to the wave
            out = render_training_text(out, style=args.render)
        # split is re-derived (deterministic) so the write can partition on it
        return out.withColumn("split", split_id("doc_id", args.splits))

    ocr_dropped = 0
    if args.min_ocr_conf is not None:
        from pyspark.sql import functions as F

        from machine_readability_checker_spark.operators.ocrstats import (
            ocr_conf_stats,
        )

        hocr = raw.filter(F.col("fmt") == "hocr")
        rest = raw.filter(F.col("fmt") != "hocr")
        stats_df = ocr_conf_stats(hocr.select("doc_id", "content"))
        keep_ids = stats_df.filter(
            F.col("mean_conf").isNull()
            | (F.col("mean_conf") >= args.min_ocr_conf)
        ).select("doc_id")
        n_hocr = hocr.count()
        kept = hocr.join(F.broadcast(keep_ids), "doc_id", "left_semi")
        n_kept = kept.count()
        ocr_dropped = n_hocr - n_kept
        raw = rest.unionByName(kept)

    waves_done = {"n": 0}
    iceberg_table = None
    if args.iceberg:
        from machine_readability_checker_spark.sources.iceberg_table import (
            IcebergLayoutTable,
        )

        iceberg_table = IcebergLayoutTable(args.out)

    def on_wave_done(wave):
        waves_done["n"] += 1
        if iceberg_table is not None:
            # one snapshot per wave — the Iceberg commit protocol the
            # manifest runner mirrors (plans/manifest.py docstring);
            # resume = snapshot diff, time travel = read(version)
            iceberg_table.commit_snapshot(
                partition_spec={"kind": "split", "n": args.splits}
            )
        if args.max_waves and waves_done["n"] >= args.max_waves:
            print(json.dumps({"stopped_after_waves": waves_done["n"]}))
            spark.stop()
            sys.exit(0)

    t0 = time.time()
    stats = run_resumable(
        raw,
        store,
        transform,
        n_splits=args.splits,
        wave_size=args.wave,
        on_wave_done=on_wave_done,
    )
    wall = time.time() - t0

    # lineage side table from the committed output
    out_df = spark.read.parquet(store.data_dir)
    lineage_table(out_df).write.mode("overwrite").parquet(
        os.path.join(args.out, "lineage")
    )

    total_docs = out_df.count()
    iceberg_stats = {}
    if iceberg_table is not None:
        if args.compact:
            from machine_readability_checker_spark.sources.iceberg_table import (
                TableMaintenance,
            )

            maint = TableMaintenance(iceberg_table)
            maint.recover_compaction()  # heal any prior half-swap
            cstats = maint.compact(
                spark,
                max_files_per_split=args.compact,
                sort_by=(
                    args.compact_sort.split(",")
                    if args.compact_sort
                    else None
                ),
            )
            iceberg_table.commit_snapshot()  # the post-compaction commit
            iceberg_stats["compaction"] = {
                "splits_rewritten": len(cstats),
                "files_before": sum(
                    s["files_before"] for s in cstats.values()
                ),
                "files_after": sum(
                    s["files_after"] for s in cstats.values()
                ),
            }
        if args.expire_snapshots:
            from machine_readability_checker_spark.sources.iceberg_table import (
                TableMaintenance,
            )

            expired = TableMaintenance(iceberg_table).expire_snapshots(
                keep_last=args.expire_snapshots
            )
            iceberg_stats["snapshots_expired"] = len(expired)
        if args.remove_orphans is not None:
            from machine_readability_checker_spark.sources.iceberg_table import (
                TableMaintenance,
            )

            swept = TableMaintenance(iceberg_table).remove_orphans(
                grace_seconds=args.remove_orphans
            )
            iceberg_stats["orphans_removed"] = len(swept["removed"])
            iceberg_stats["orphans_kept_young"] = len(swept["kept_young"])
        snap = iceberg_table.current_snapshot() or {}
        cur = int(snap.get("version", 0))
        table_docs = (
            iceberg_table.read(spark, version=cur).count() if cur else 0
        )
        iceberg_stats["iceberg"] = {
            "snapshots": cur,
            "current_splits": len(snap.get("splits", [])),
            "table_docs": table_docs,
            "matches": table_docs == total_docs,
        }
    print(
        json.dumps(
            {
                **stats,
                **iceberg_stats,
                "wall_sec": round(wall, 3),
                "docs_total": total_docs,
                "docs_per_sec": round(stats["docs_processed"] / wall, 1)
                if wall > 0
                else None,
                "ocr_dropped": ocr_dropped,
                "cores": args.cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
