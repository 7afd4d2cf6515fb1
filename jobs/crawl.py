"""spark-submit entry point: end-to-end web-crawl curation.

    python tools/make_pyfiles.py dist/engine.zip
    spark-submit --master local[32] --py-files dist/engine.zip \
        jobs/crawl.py --gen 600 --out /tmp/crawl_out

or against real archives:

    spark-submit ... jobs/crawl.py --warc '/data/crawl/*.warc.gz' \
        --out /tmp/crawl_out --agent mybot --pr-iters 5

Pipeline (plans/crawl.py): WARC records → robots.txt filter (rules
parsed from the crawl itself, broadcast evaluation) → URL
canonicalization + frontier dedup → span extraction through the shared
salted kernel → link graph with degrees + PageRank prior.  Outputs
``pages/ spans/ graph/ ranks/`` parquet under --out and prints one
JSON stats line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from machine_readability_checker_spark.plans.crawl import crawl_curate  # noqa: E402
from machine_readability_checker_spark.session import get_spark  # noqa: E402
from machine_readability_checker_spark.sources.warc import read_warc  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warc", help="path/glob of *.warc(.gz) crawl archives")
    ap.add_argument(
        "--gen", type=int, default=0,
        help="generate N fixture pages as real .warc.gz files first",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--agent", default="*", help="crawler user-agent token")
    ap.add_argument("--pr-iters", type=int, default=5)
    ap.add_argument(
        "--resume-spans", action="store_true",
        help="route span extraction through the manifest-committed "
        "resumable runner (jobs/extract.py's machinery): a killed crawl "
        "re-run skips every committed split of the expensive per-doc "
        "kernel work; the cheap global stages (graph, ranks, pages) "
        "recompute",
    )
    ap.add_argument(
        "--sniff", action="store_true",
        help="route extraction lanes on magic-byte content sniffing "
        "(operators/mimetype.py) instead of trusting the server's "
        "Content-Type header",
    )
    ap.add_argument(
        "--honor-canonical", action="store_true",
        help="dedup the frontier on each page's declared "
        "<link rel=canonical> (RFC 6596) when present, falling back "
        "to the canonicalized fetched URL",
    )
    ap.add_argument(
        "--honor-noindex", action="store_true",
        help="honor <meta name=robots> noindex: drop such pages from "
        "the corpus outputs while still harvesting their links",
    )
    ap.add_argument(
        "--structured-data", action="store_true",
        help="harvest schema.org annotations (JSON-LD + microdata) "
        "from the kept pages into --out/structdata (one row per "
        "entity property)",
    )
    ap.add_argument(
        "--export-wet", type=int, default=0, metavar="N_SHARDS",
        help="additionally export the curated corpus as N WET shards "
        "(rendered main text, *.warc.wet.gz) under --out/wet, write a "
        "sorted CDXJ index of them under --out/cdxj, and range-read "
        "AUDIT every indexed capture (URI + sha256); the stats line "
        "reconciles wet/cdx counts against docs_extracted",
    )
    ap.add_argument(
        "--site-boilerplate", type=float, default=None, metavar="MIN_FRAC",
        help="strip intra-site template boilerplate from the rendered "
        "main text: any line appearing on >= MIN_FRAC of one domain's "
        "pages (and on >= 2 pages) is removed from that domain only "
        "(jusText/Onion-style; a line legitimate elsewhere survives "
        "there).  Writes the stripped corpus to --out/texts and the "
        "per-site boilerplate table to --out/site_boilerplate; "
        "--export-wet ships the stripped text",
    )
    ap.add_argument("--splits", type=int, default=16)
    ap.add_argument("--wave", type=int, default=0)
    ap.add_argument(
        "--cores", type=int, default=None,
        help="run on local[N] (default: spark-submit's --master, else "
        "local[SPARK_GRAFT_CPUS or this host's CPUs])",
    )
    args = ap.parse_args()

    t0 = time.time()
    spark = get_spark(
        "mrc-crawl",
        master=f"local[{args.cores}]" if args.cores else None,
    )
    # size everything from the session the job really got
    args.cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")

    expected = None
    warc_glob = args.warc
    if args.gen:
        from machine_readability_checker_spark.sources.fixtures import (
            gen_crawl_warc_files,
        )

        gen_dir = os.path.join(args.out, "_gen_warc")
        expected = gen_crawl_warc_files(gen_dir, args.gen)
        warc_glob = os.path.join(gen_dir, "*.warc.gz")
    if not warc_glob:
        ap.error("need --warc or --gen")

    records = read_warc(spark, warc_glob)
    out = crawl_curate(
        records, agent=args.agent, pr_iters=args.pr_iters,
        cores=args.cores, sniff=args.sniff,
        honor_canonical=args.honor_canonical,
        honor_noindex=args.honor_noindex,
        structured=args.structured_data,
    )

    # materialize: pages last (it joins graph outputs)
    resume_stats = {}
    if args.resume_spans:
        from machine_readability_checker_spark.operators.extract import (
            extract,
        )
        from machine_readability_checker_spark.operators.repartition import (
            salted_repartition,
            split_id,
        )
        from machine_readability_checker_spark.plans.manifest import (
            ManifestStore,
            run_resumable,
        )

        store = ManifestStore(os.path.join(args.out, "spans"))

        # materialize docs_raw ONCE: each resumable wave filters its
        # splits out of the raw table, and without this the whole WARC
        # parse + robots/frontier pipeline would re-execute per wave
        raw_path = os.path.join(args.out, "docs_raw")
        if not os.path.exists(raw_path):
            out["docs_raw"].write.mode("overwrite").parquet(raw_path)
        docs_raw = spark.read.parquet(raw_path)

        def transform(wave_df):
            balanced = salted_repartition(wave_df, max(8, args.cores))
            return extract(balanced).withColumn(
                "split", split_id("doc_id", args.splits)
            )

        resume_stats = run_resumable(
            docs_raw,
            store,
            transform,
            n_splits=args.splits,
            wave_size=args.wave,
        )
        spans_path = store.data_dir
    else:
        out["spans"].write.mode("overwrite").parquet(
            os.path.join(args.out, "spans")
        )
        spans_path = os.path.join(args.out, "spans")
    out["graph"].write.mode("overwrite").parquet(
        os.path.join(args.out, "graph")
    )
    out["ranks"].write.mode("overwrite").parquet(
        os.path.join(args.out, "ranks")
    )
    out["pages"].write.mode("overwrite").parquet(
        os.path.join(args.out, "pages")
    )
    sb_stats = {}
    if args.site_boilerplate is not None:
        from machine_readability_checker_spark.operators.linededup import (
            site_boilerplate_lines,
            strip_site_boilerplate,
        )
        from machine_readability_checker_spark.operators.render import (
            render_training_text,
        )

        # line-structured rendering: one content block per line, so a
        # template block repeated across a site's pages is a comparable
        # line unit (plain style would fuse it into each page's prose)
        rendered = render_training_text(
            spark.read.parquet(spans_path), style="lines"
        ).select("doc_id", "text")
        domains = spark.read.parquet(os.path.join(args.out, "pages")).select(
            "doc_id", "domain"
        )
        sited = rendered.join(domains, "doc_id")
        site_boilerplate_lines(
            sited, site_col="domain", min_frac=args.site_boilerplate
        ).write.mode("overwrite").parquet(
            os.path.join(args.out, "site_boilerplate")
        )
        strip_site_boilerplate(
            sited, site_col="domain", min_frac=args.site_boilerplate
        ).write.mode("overwrite").parquet(os.path.join(args.out, "texts"))
        texts_tbl = spark.read.parquet(os.path.join(args.out, "texts"))
        sb_stats = {
            "site_boilerplate_lines": spark.read.parquet(
                os.path.join(args.out, "site_boilerplate")
            ).count(),
            "site_lines_stripped": int(
                texts_tbl.agg(
                    F.sum(F.col("n_lines") - F.col("n_kept"))
                ).first()[0]
                or 0
            ),
        }

    wet_stats = {}
    if args.export_wet:
        from machine_readability_checker_spark.operators.render import (
            render_training_text,
        )
        from machine_readability_checker_spark.sources.cdx import (
            read_cdxj,
        )
        from machine_readability_checker_spark.sources.warcsink import (
            audit_cdxj,
            build_cdxj,
            format_cdxj,
            write_wet,
        )

        if args.site_boilerplate is not None:
            # ship the template-stripped text the stage above built
            texts = spark.read.parquet(
                os.path.join(args.out, "texts")
            ).select("doc_id", "text")
        else:
            texts = render_training_text(
                spark.read.parquet(spans_path), style="plain"
            ).select("doc_id", "text")
        urls = spark.read.parquet(os.path.join(args.out, "pages")).select(
            "doc_id", "url"
        )
        wet_dir = os.path.join(args.out, "wet")
        manifest = write_wet(
            texts.join(urls, "doc_id"), wet_dir, n_shards=args.export_wet
        )
        manifest.write.mode("overwrite").parquet(
            os.path.join(args.out, "wet_manifest")
        )
        wet_glob = os.path.join(wet_dir, "*.warc.wet.gz")
        # index → serialized CDXJ → parse back → audit: the audit runs
        # over the index AS A CONSUMER WOULD READ IT, so the round trip
        # through the wire format is part of what reconciles
        format_cdxj(build_cdxj(spark, wet_glob)).sort("value").coalesce(
            1
        ).write.mode("overwrite").text(os.path.join(args.out, "cdxj"))
        idx = read_cdxj(spark, os.path.join(args.out, "cdxj"))
        audit = audit_cdxj(spark, idx, wet_glob).agg(
            F.sum("n_captures").alias("c"),
            F.sum("n_uri_ok").alias("u"),
            F.sum("n_digest_ok").alias("d"),
        ).first()
        n_wet = spark.read.parquet(
            os.path.join(args.out, "wet_manifest")
        ).agg(F.sum("n_docs")).first()[0]
        wet_stats = {
            "wet_docs": int(n_wet or 0),
            "cdx_captures": int(audit["c"] or 0),
            "cdx_digest_ok": int(audit["d"] or 0),
            "cdx_uri_ok": int(audit["u"] or 0),
        }

    sd_stats = {}
    if out.get("structdata") is not None:
        out["structdata"].write.mode("overwrite").parquet(
            os.path.join(args.out, "structdata")
        )
        sd = spark.read.parquet(os.path.join(args.out, "structdata"))
        sd_stats["structdata"] = {
            r["format"]: r["n"]
            for r in sd.groupBy("format")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    pages = spark.read.parquet(os.path.join(args.out, "pages"))
    graph = spark.read.parquet(os.path.join(args.out, "graph"))
    ranks = spark.read.parquet(os.path.join(args.out, "ranks"))
    spans_tbl = spark.read.parquet(spans_path)
    n_blocked = out["blocked"].count()
    n_dups = out["dups"].count()
    n_pages = pages.count()
    stats = {
        "pages_kept": n_pages,
        "robots_blocked": n_blocked,
        "url_dups_removed": n_dups,
        "docs_extracted": spans_tbl.count(),
        "parse_errors": spans_tbl.filter(
            F.col("metrics.parse_errors") > 0
        ).count(),
        "edges": graph.count(),
        "nodes": ranks.count(),
        "redirects_resolved": out["redirects"].filter(
            ~F.col("cyclic")
        ).count(),
        "redirect_loops": out["redirects"].filter(F.col("cyclic")).count(),
        "rank_mass": round(
            ranks.agg(F.sum("rank")).first()[0] or 0.0, 6
        ),
        "pr_iters": args.pr_iters,
        **(
            {"meta_noindex_dropped": out["noindex"].count()}
            if out.get("noindex") is not None else {}
        ),
        **sd_stats,
        **sb_stats,
        **wet_stats,
        **(
            {
                "wet_matches": (
                    wet_stats["wet_docs"]
                    == wet_stats["cdx_captures"]
                    == wet_stats["cdx_digest_ok"]
                    == wet_stats["cdx_uri_ok"]
                    == spans_tbl.count()
                )
            }
            if wet_stats else {}
        ),
        "wall_sec": round(time.time() - t0, 3),
        "cores": args.cores,
        **resume_stats,
    }
    if expected:
        stats["gen_expected"] = expected
        stats["gen_matches"] = (
            expected["kept"] == n_pages
            and expected["blocked"] == n_blocked
            and expected["dups"] == n_dups
            and expected.get("redirects", stats["redirects_resolved"])
            == stats["redirects_resolved"]
            and (
                not args.structured_data
                or (
                    sd_stats["structdata"].get("jsonld", 0)
                    == expected["sd_jsonld"]
                    and sd_stats["structdata"].get("microdata", 0)
                    == expected["sd_microdata"]
                )
            )
        )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
