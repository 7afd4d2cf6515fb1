"""Streaming lane: file-source extraction with checkpointed exactly-once
append; incremental pickup of late-arriving files."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from machine_readability_checker_spark.model import RAW_SCHEMA
from machine_readability_checker_spark.sources.fixtures import gen_corpus
from machine_readability_checker_spark.streaming.stream_extract import (
    stream_extract,
)


def _write_batch(spark, corpus: pd.DataFrame, path: str):
    spark.createDataFrame(corpus, schema=RAW_SCHEMA).coalesce(2).write.mode(
        "append"
    ).parquet(path)


def test_stream_extract_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus = gen_corpus(40)
    _write_batch(spark, corpus.iloc[:25], in_dir)

    q = stream_extract(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == 25

    # late-arriving files: only the delta is processed on the next trigger
    _write_batch(spark, corpus.iloc[25:], in_dir)
    q2 = stream_extract(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 40
    # no duplicates: every doc_id exactly once (exactly-once file sink)
    assert (
        got2.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    )
    # spans identical to the single-node oracle for a sample doc
    from machine_readability_checker_spark.core.extract import extract_document

    sample = got2.filter(F.col("doc_id").contains("mhdr")).collect()[0]
    src = corpus[corpus.doc_id == sample["doc_id"]].iloc[0]
    expected = extract_document(
        src.doc_id, src.fmt, bytes(src.content),
        src.header_start_row, src.header_end_row,
        src.data_start_row, src.data_end_row,
    )["spans"]
    got_spans = [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in sample["spans"]
    ]
    assert got_spans == [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in expected
    ]


def test_stream_to_iceberg_table_exactly_once(spark, tmp_path):
    """foreachBatch sink: batches land as split=<batch_id> partitions
    with atomic manifests; replaying the stream from the same checkpoint
    adds nothing (exactly-once), and new files arrive as new snapshots."""
    from machine_readability_checker_spark.sources.iceberg_table import (
        IcebergLayoutTable,
    )
    from machine_readability_checker_spark.streaming.stream_extract import (
        stream_extract_to_table,
    )

    in_dir = str(tmp_path / "in")
    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    corpus = gen_corpus(30)
    _write_batch(spark, corpus.iloc[:18], in_dir)

    q = stream_extract_to_table(spark, in_dir, root, ckpt)
    q.awaitTermination(120)
    table = IcebergLayoutTable(root)
    v1 = table.commit_snapshot()["version"]
    n1 = table.read(spark).count()
    assert n1 == 18
    assert table.store.committed_splits()  # batch manifests exist

    # replay with the same checkpoint: no new batches, no duplicates
    q = stream_extract_to_table(spark, in_dir, root, ckpt)
    q.awaitTermination(120)
    assert table.read(spark).count() == 18

    # late-arriving files → picked up as a new batch, new snapshot delta
    _write_batch(spark, corpus.iloc[18:], in_dir)
    q = stream_extract_to_table(spark, in_dir, root, ckpt)
    q.awaitTermination(120)
    v2 = table.commit_snapshot()["version"]
    assert table.read(spark).count() == 30
    assert table.read_incremental(spark, v1, v2).count() == 12


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicate texts are dropped within the
    watermark window — across micro-batches via checkpointed state —
    and the state stays keyed on the 16-byte hash, not the text."""
    from machine_readability_checker_spark.streaming.stream_extract import (
        stream_dedup_to_parquet,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id string, text string, ts timestamp"

    def _batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    from datetime import datetime, timedelta

    t = datetime(2026, 1, 1, 10, 0, 0)
    m = timedelta(minutes=1)
    _batch(
        [
            ("a", "alpha text body", t),
            ("b", "alpha text body", t + m),   # same-batch duplicate
            ("c", "beta text body", t + 2 * m),
        ]
    )
    q = stream_dedup_to_parquet(spark, in_dir, out_dir, ckpt, schema)
    q.awaitTermination(120)
    got1 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {"a", "c"}

    # next trigger: a cross-batch duplicate (within watermark, dropped
    # via checkpointed state) and a genuinely new document
    _batch(
        [
            ("d", "beta text body", t + 3 * m),
            ("e", "gamma text body", t + 4 * m),
        ]
    )
    q2 = stream_dedup_to_parquet(spark, in_dir, out_dir, ckpt, schema)
    q2.awaitTermination(120)
    got2 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {"a", "c", "e"}


def test_stream_media_features_matches_batch(spark, tmp_path):
    """Streaming multimodal twin: the file-source stream through the
    real-codec kernel produces exactly the batch operator's rows
    (including the quarantine rows of a junk and a null blob — a file
    source reads MEDIA_SCHEMA's content as nullable), and a second
    availableNow run over the same checkpoint emits nothing new
    (exactly-once)."""
    import numpy as np

    from machine_readability_checker_spark.core.jpeg import encode_jpeg
    from machine_readability_checker_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )
    from machine_readability_checker_spark.streaming.stream_extract import (
        stream_media_features,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rgb = np.full((8, 8, 3), 120, dtype=np.uint8)
    rows = [
        ("m1", "a.jpg", "image", bytearray(encode_jpeg(8, 8, 3, rgb.tobytes()))),
        ("m2", "bad.bin", "image", bytearray(b"not an image")),
        ("m3", "null.bin", "image", None),
    ]
    spark.createDataFrame(
        rows, "doc_id string, media_ref string, media_type string,"
        " content binary",
    ).coalesce(1).write.mode("append").parquet(in_dir)
    df = spark.read.schema(MEDIA_SCHEMA).parquet(in_dir)

    q = stream_media_features(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = {
        r["media_ref"]: r for r in spark.read.parquet(out_dir).collect()
    }
    want = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert set(got) == set(want) == {"a.jpg", "bad.bin", "null.bin"}
    assert got == want
    assert got["a.jpg"]["width"] == want["a.jpg"]["width"] == 8
    assert got["bad.bin"]["decode_error"] is not None
    assert got["null.bin"]["decode_error"] is not None
    assert got["null.bin"]["width"] is None

    n1 = spark.read.parquet(out_dir).count()
    q2 = stream_media_features(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n1  # nothing re-emitted


def test_stream_media_fingerprints_matches_batch(spark, tmp_path):
    """Streaming fingerprint twin: stream == batch for all three
    modalities (image dHash, audio band deltas, video fold) including
    the quarantine row; a committed trigger re-run emits nothing."""
    import numpy as np

    from machine_readability_checker_spark.core.gif import (
        encode_gif_animation,
    )
    from machine_readability_checker_spark.core.png import encode_png
    from machine_readability_checker_spark.core.wav import encode_wav
    from machine_readability_checker_spark.operators.imagehash import (
        dhash_target_image,
    )
    from machine_readability_checker_spark.operators.mediahash import (
        media_fingerprints,
    )
    from machine_readability_checker_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )
    from machine_readability_checker_spark.streaming.stream_extract import (
        stream_media_fingerprints,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    img = dhash_target_image(0xABCD)
    rgb = np.repeat(img.reshape(8, 9, 1), 3, axis=2)
    frame = {"left": 0, "top": 0, "w": 9, "h": 8, "rgb": rgb.tobytes()}
    x = np.sin(2 * np.pi * 440 * np.arange(4000) / 8000) * 0.5
    rows = [
        ("m1", "a.png", "image",
         bytearray(encode_png(9, 8, 1, img.tobytes()))),
        ("m2", "b.wav", "audio",
         bytearray(encode_wav(8000, 1, 16,
                              (x * 32767).astype("<i2").tobytes()))),
        ("m3", "c.gif", "video",
         bytearray(encode_gif_animation(9, 8, [frame, frame]))),
        ("m4", "bad.bin", "audio", bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_media_fingerprints(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = {
        r["media_ref"]: r for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["media_ref"]: r for r in media_fingerprints(df).collect()
    }
    assert set(got) == set(want)
    for ref in want:
        assert got[ref]["fingerprint"] == want[ref]["fingerprint"], ref
    assert got["a.png"]["fingerprint"] == 0xABCD
    assert got["bad.bin"]["decode_error"] is not None

    n1 = spark.read.parquet(out_dir).count()
    q2 = stream_media_fingerprints(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n1


def test_stream_frontier_canonical_dedup(spark, tmp_path):
    """Streaming frontier: messy URL variants of one resource collapse
    onto a single canonical key across micro-batches; the kept row is
    the first arrival and carries the canonical column the batch path
    would compute."""
    from machine_readability_checker_spark.streaming.stream_extract import (
        stream_frontier_to_parquet,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id string, url string, ts timestamp"

    def _batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    from datetime import datetime, timedelta

    t = datetime(2026, 1, 1, 10, 0, 0)
    m = timedelta(minutes=1)
    _batch(
        [
            ("a", "https://ex.com/docs/1", t),
            ("b", "HTTPS://EX.COM:443/docs/./1?utm_source=x#f", t + m),
            ("c", "https://ex.com/docs/2", t + 2 * m),
        ]
    )
    q = stream_frontier_to_parquet(spark, in_dir, out_dir, ckpt, schema)
    q.awaitTermination(120)
    got = {r.doc_id: r.canonical_url for r in spark.read.parquet(out_dir).collect()}
    assert got == {
        "a": "https://ex.com/docs/1",
        "c": "https://ex.com/docs/2",
    }

    # cross-batch duplicate via another messy variant, plus a new URL
    _batch(
        [
            ("d", "https://user@ex.com/x/../docs/1", t + 3 * m),
            ("e", "https://ex.com/docs/3", t + 4 * m),
        ]
    )
    q2 = stream_frontier_to_parquet(spark, in_dir, out_dir, ckpt, schema)
    q2.awaitTermination(120)
    got2 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {"a", "c", "e"}


def test_stream_hll_registers_match_batch_and_update_incrementally(
    spark, tmp_path
):
    """Streaming HLL maintenance: the published register table equals
    the batch sketch of everything seen so far, late files fold in on
    the next trigger, and a re-run with no new data republishes the
    identical table (bounded state: ≤ 2^p rows)."""
    from machine_readability_checker_spark.operators import sketches as SK
    from machine_readability_checker_spark.streaming.stream_extract import (
        stream_hll_registers,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "hll")
    ckpt = str(tmp_path / "ckpt_hll")
    schema = "doc_id string, text string"

    def docs_df(lo, hi):
        return spark.createDataFrame(
            [(str(i), f"document body {i}") for i in range(lo, hi)], schema
        )

    docs_df(0, 60).coalesce(2).write.mode("append").parquet(in_dir)
    q = stream_hll_registers(spark, in_dir, out_dir, ckpt, schema, p=6)
    q.awaitTermination(120)

    def regs(df):
        return sorted((r["idx"], r["rank"]) for r in df.collect())

    got1 = regs(spark.read.parquet(out_dir))
    want1 = regs(SK.hll_sketch(docs_df(0, 60), p=6))
    assert got1 == want1 and len(got1) <= 64

    # late wave: registers fold forward to cover the full corpus
    docs_df(60, 150).coalesce(2).write.mode("append").parquet(in_dir)
    q2 = stream_hll_registers(spark, in_dir, out_dir, ckpt, schema, p=6)
    q2.awaitTermination(120)
    got2 = regs(spark.read.parquet(out_dir))
    assert got2 == regs(SK.hll_sketch(docs_df(0, 150), p=6))

    # replay with nothing new: identical republish
    q3 = stream_hll_registers(spark, in_dir, out_dir, ckpt, schema, p=6)
    q3.awaitTermination(120)
    assert regs(spark.read.parquet(out_dir)) == got2

    # the published table feeds the batch estimator unchanged
    est = SK.hll_estimate(spark.read.parquet(out_dir), p=6).first()
    assert abs(est.n_distinct_est - 150) / 150 < 0.4  # m=64 error band


def test_stream_curation_signals_match_batch(spark, tmp_path):
    """The round-5 curation signals are narrow JVM maps, so they run
    unchanged inside a streaming micro-batch: mojibake repair, script
    profile and per-line langID over a file-source stream produce
    exactly the batch results (the streaming-ingest twin of the clean
    funnel's newest stages)."""
    from machine_readability_checker_spark.operators.textstats import (
        fix_mojibake,
        lang_id,
        mixed_script_word_count,
        script_profile,
    )

    in_dir = str(tmp_path / "cin")
    out_dir = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    rows = [
        ("m1", "CafÃ© nÃºmero uno â€” fixed"),
        ("m2", "plain english text the cat is here"),
        ("m3", "pаypаl spoof word"),
        ("m4", "привет мир и все"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    df.write.mode("overwrite").parquet(in_dir)

    def xform(d):
        d = fix_mojibake(d)
        return d.select(
            "doc_id", "text", "mojibake_fixed",
            script_profile(F.col("text"))["latin"].alias("latin"),
            mixed_script_word_count(F.col("text")).alias("spoof_words"),
            lang_id(F.col("text")).alias("lang"),
        )

    stream = spark.readStream.schema("doc_id string, text string").parquet(
        in_dir
    )
    q = (
        xform(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (
            r["text"], r["mojibake_fixed"], r["latin"],
            r["spoof_words"], r["lang"],
        )
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["doc_id"]: (
            r["text"], r["mojibake_fixed"], r["latin"],
            r["spoof_words"], r["lang"],
        )
        for r in xform(df).collect()
    }
    assert got == want
    assert got["m1"][0] == "Café número uno — fixed" and got["m1"][1]
    assert got["m3"][3] == 1
    assert got["m4"][4] == "und"  # Russian is not in the vote set
