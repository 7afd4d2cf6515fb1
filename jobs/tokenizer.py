"""spark-submit entry point: tokenizer training + corpus tokenization.

The step between jobs/clean.py and a training run: train a subword
tokenizer ON the cleaned corpus, persist its interchange artifacts,
encode every document, and pack the subword stream into fixed-length
training sequences.

    read cleaned corpus (doc_id, text) — or --gen to self-generate
      → train (--tokenizer bpe: distributed byte-pair merges;
               --tokenizer unigram: SentencePiece-style EM;
               --tokenizer wordpiece: likelihood-scored merges over
               ##-continuation symbols, BERT-style)
      → write artifacts (bpe: merges.txt + vocab.json;
                         unigram: unigram.vocab TSV;
                         wordpiece: vocab.txt)
      → encode every document (Arrow-batched kernel, model broadcast)
        → subwords parquet (doc_id, subwords, n_subwords)
      → pack_sequences over the SUBWORD counts (two-phase prefix sum,
        GPT-style concat-and-chunk) → sequences parquet
      → one JSON stats line (vocab size, subword totals, sequence
        count, fill rate)

Usage:
    spark-submit --master local[32] --py-files dist/engine.zip \\
        jobs/tokenizer.py --input /tmp/mrc_clean/cleaned \\
        --out /tmp/mrc_tok --tokenizer bpe --merges 200 --seq-len 512
    spark-submit ... jobs/tokenizer.py --gen 2000 --out /tmp/mrc_tok
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from machine_readability_checker_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of (doc_id, text)")
    ap.add_argument(
        "--text-col", default="text",
        help="text column name in --input (default: text)",
    )
    ap.add_argument("--gen", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--tokenizer", choices=("bpe", "unigram", "wordpiece"),
        default="bpe",
    )
    ap.add_argument("--merges", type=int, default=200)
    ap.add_argument("--vocab-size", type=int, default=1000)
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument(
        "--packing", choices=("concat", "doc"), default="concat",
        help="concat = GPT-style concat-and-chunk (fill 1.0, documents "
        "may split across sequences); doc = first-fit-decreasing whole-"
        "document packing (no cross-document splits; fill_rate reports "
        "the FFD residual; overflow docs sit alone, flagged)",
    )
    ap.add_argument(
        "--cores", type=int, default=None,
        help="run on local[N] (default: spark-submit's --master, else "
        "local[SPARK_GRAFT_CPUS or this host's CPUs])",
    )
    args = ap.parse_args()

    spark = get_spark(
        "mrc-tokenize",
        master=f"local[{args.cores}]" if args.cores else None,
    )
    # size everything from the session the job really got
    args.cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    if args.gen:
        from machine_readability_checker_spark.model import RAW_SCHEMA
        from machine_readability_checker_spark.operators.extract import (
            extract,
        )
        from machine_readability_checker_spark.operators.render import (
            render_training_text,
        )
        from machine_readability_checker_spark.operators.repartition import (
            salted_repartition,
        )
        from machine_readability_checker_spark.sources.fixtures import (
            gen_corpus,
        )

        raw = spark.createDataFrame(gen_corpus(args.gen), schema=RAW_SCHEMA)
        docs = render_training_text(
            extract(salted_repartition(raw, max(8, args.cores))),
            style="plain",
        ).select("doc_id", "text")
    else:
        if not args.input:
            ap.error("need --input or --gen")
        docs = spark.read.parquet(args.input).select(
            "doc_id", F.col(args.text_col).alias("text")
        )
    docs = docs.filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    ).persist()
    n_docs = docs.count()

    tok_dir = os.path.join(args.out, "tokenizer")
    if args.tokenizer == "bpe":
        from machine_readability_checker_spark.operators import bpe

        merges = bpe.bpe_train(docs, n_merges=args.merges)
        # base alphabet = every character of every distinct word (one
        # corpus aggregate; whitespace never enters — words are the
        # tokenizer's universe)
        alphabet = [
            r["ch"]
            for r in bpe.word_freqs(docs)
            .select(F.explode(F.split("word", "")).alias("ch"))
            .filter(F.col("ch") != "")
            .distinct()
            .collect()
        ]
        vocab = bpe.write_bpe_artifacts(tok_dir, merges, alphabet)
        encoded = bpe.bpe_encode(docs, merges)
        tok_stats = {"merges": len(merges), "vocab_size": len(vocab)}
        n_col = "n_subwords"
    elif args.tokenizer == "wordpiece":
        from machine_readability_checker_spark.operators import (
            wordpiece as wpc,
        )

        merges = wpc.wordpiece_train(docs, n_merges=args.merges)
        # base alphabet = every positional symbol form of every distinct
        # word (initial char + ##continuations — one corpus aggregate)
        alphabet = [
            r["s"]
            for r in wpc.word_freqs(docs)
            .withColumn("syms", wpc._init_syms(F.col("word")))
            .select(F.explode("syms").alias("s"))
            .distinct()
            .collect()
        ]
        vocab = wpc.wordpiece_vocab(merges, alphabet)
        wpc.write_wordpiece_artifacts(tok_dir, vocab)
        encoded = wpc.wordpiece_encode(docs, vocab)
        tok_stats = {"merges": len(merges), "vocab_size": len(vocab)}
        n_col = "n_subwords"
    else:
        from machine_readability_checker_spark.operators import unigram

        model = unigram.unigram_train(docs, vocab_size=args.vocab_size)
        unigram.write_unigram_artifacts(tok_dir, model)
        encoded = unigram.unigram_encode(docs, model).withColumn(
            "n_subwords", F.size("pieces")
        )
        tok_stats = {"vocab_size": len(model)}
        n_col = "n_subwords"

    enc_path = os.path.join(args.out, "subwords")
    encoded.write.mode("overwrite").parquet(enc_path)
    enc = spark.read.parquet(enc_path)

    from machine_readability_checker_spark.operators.sampling import (
        pack_documents,
        pack_sequences,
    )

    if args.packing == "doc":
        # boundary-respecting FFD: no document split across sequences
        # (fill_rate < 1 by design; packed == total still holds).
        # Shard count scales with corpus size — FFD quality needs tens
        # of docs per shard, or every shard fragments into underfull
        # bins (at corpus scale the 64-shard ceiling is parallelism,
        # not a quality limit)
        seqs = pack_documents(
            enc, seq_len=args.seq_len, count_col=n_col,
            n_shards=max(1, min(64, n_docs // 32)),
        )
    else:
        seqs = pack_sequences(
            enc, seq_len=args.seq_len, count_col=n_col
        )
    seq_path = os.path.join(args.out, "sequences")
    seqs.write.mode("overwrite").parquet(seq_path)
    sback = spark.read.parquet(seq_path)

    total_subwords = int(
        enc.agg(F.sum(n_col)).collect()[0][0] or 0
    )
    # fertility of the TRAINED artifact (Rust et al. 2021): subwords
    # the encoder actually emitted per whitespace word, and bytes per
    # emitted subword — one aggregate over the already-persisted corpus
    from machine_readability_checker_spark.operators.textstats import (
        token_count,
    )

    corpus_tot = docs.agg(
        F.coalesce(F.sum(token_count(F.col("text"))), F.lit(0)).alias("w"),
        F.coalesce(F.sum(F.octet_length("text")), F.lit(0)).alias("b"),
    ).first()
    fert_stats = {
        "artifact_fertility": round(total_subwords / corpus_tot["w"], 4)
        if corpus_tot["w"]
        else None,
        "bytes_per_subword": round(corpus_tot["b"] / total_subwords, 4)
        if total_subwords
        else None,
    }
    n_seqs = sback.select("seq_id").distinct().count()
    packed = int(sback.agg(F.sum("n_tokens")).collect()[0][0] or 0)
    pack_extra = {}
    if args.packing == "doc":
        # fill is only meaningful over capacity-bounded sequences —
        # overflow docs (longer than seq_len, flagged, isolated) are
        # reported separately, not hidden inside an >1.0 ratio
        nov = sback.filter(~F.col("overflow"))
        n_nov = nov.select("seq_id").distinct().count()
        packed_nov = int(nov.agg(F.sum("n_tokens")).collect()[0][0] or 0)
        pack_extra = {
            "overflow_docs": sback.filter(F.col("overflow")).count(),
            "fill_rate_bounded": round(
                packed_nov / (n_nov * args.seq_len), 4
            )
            if n_nov
            else None,
        }
    docs.unpersist()
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "docs": n_docs,
                "tokenizer": args.tokenizer,
                **tok_stats,
                "total_subwords": total_subwords,
                **fert_stats,
                "seq_len": args.seq_len,
                "sequences": n_seqs,
                "packed_tokens": packed,
                "packing_consistent": packed == total_subwords,
                "fill_rate": round(
                    packed / (n_seqs * args.seq_len), 4
                )
                if n_seqs
                else None,
                **pack_extra,
                "wall_sec": round(wall, 3),
                "cores": args.cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
