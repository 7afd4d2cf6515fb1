"""Streaming extraction and watermarked aggregation.

The reference is strictly batch, so nothing here mirrors it directly —
this is the Spark-native continuous-ingestion surface the target system
needs: new document files landing in a directory are picked up by a file
source, run through the *same* ``mapInPandas`` kernel as the batch path
(one implementation, both lifecycles), and appended to the output table
with exactly-once file-sink semantics via the checkpoint directory.

``windowed_span_counts`` shows the watermark + tumbling-window stateful
path over a stream of span events (late data beyond the watermark is
dropped deterministically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..model import RAW_SCHEMA
from ..operators.extract import extract


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Continuously extract documents from parquet files landing in
    ``input_dir``.  Returns the started StreamingQuery."""
    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    extracted = extract(raw)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_to_table(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    checkpoint_dir: str,
):
    """Continuous extraction into an Iceberg-layout table with
    exactly-once batch commits.

    ``foreachBatch`` writes each micro-batch to its own
    ``data/split=<batch_id>`` partition directory in overwrite mode —
    a replayed batch (crash between sink write and checkpoint commit)
    simply rewrites the identical directory, so the sink is idempotent —
    then commits a per-batch manifest through the same atomic
    write-fsync-rename protocol the batch job uses.  With a real Iceberg
    catalog this is ``foreachBatch + MERGE INTO`` / append snapshots."""
    import os

    from pyspark.sql import functions as F

    from ..plans.manifest import ManifestStore, parquet_rows

    store = ManifestStore(table_root)

    def _commit(batch_df, batch_id: int) -> None:
        out = extract(batch_df).withColumn(
            "split", F.lit(int(batch_id)).cast("int")
        )
        target = os.path.join(store.data_dir, f"split={int(batch_id)}")
        out.write.mode("overwrite").parquet(target)
        # count from the committed output's parquet footers (no Spark
        # job, no data scan) instead of a count() over the batch input —
        # that pre-count re-scanned every micro-batch's files, and the
        # manifest should record what was written, not what arrived
        n = parquet_rows(target)
        store.commit_split(int(batch_id), {"docs": n, "source": "stream"})

    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    return (
        raw.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a (streaming or batch)
    events DataFrame with an event-time ``ts`` column.  NTZ timestamps are
    cast to instant timestamps — watermarks require TIMESTAMP type."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
):
    """File-source stream → watermarked windowed counts → parquet append."""
    ev = spark.readStream.schema(schema).parquet(input_dir)
    agg = windowed_event_counts(ev)
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — the continuous-ingest twin of
    ``dedup.exact_dedup``: content-hash each document, then
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per hash
    and evicts state older than the watermark, so the dedup map stays
    bounded no matter how long the stream runs (an unbounded
    ``dropDuplicates`` would accumulate one state row per distinct
    document forever — at 10^12 documents that is the whole corpus in
    the state store).  Exactly-once against the checkpoint: re-running
    a trigger never re-emits a kept row.

    Within-watermark semantics: a re-ingested copy arriving later than
    the watermark delay after the kept original is NOT dropped — batch
    ``exact_dedup`` over the materialized corpus remains the global
    guarantee; this operator bounds the duplicate rate of the live
    ingest path."""
    if dict(docs.dtypes).get(ts_col) == "timestamp_ntz":
        docs = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        docs.withColumn("_h", F.md5(F.encode(F.col(text_col), "UTF-8")))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def stream_dedup_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    watermark: str = "1 hour",
):
    """File-source stream → watermarked exact dedup → parquet append."""
    docs = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream_dedup(docs, watermark=watermark)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_media_features(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Continuous multimodal ingest: a file-source stream of media blobs
    (MEDIA_SCHEMA parquet) through the REAL-codec feature kernel
    (PNG/JPEG decode inside Arrow batches) into a parquet append sink —
    the streaming twin of ``multimodal.extract_media_features``, with
    the same quarantine-row contract.  ``mapInPandas`` is stateless, so
    exactly-once rides the file-source + checkpoint offsets alone; a
    re-run of a committed trigger re-emits nothing."""
    from ..operators.multimodal import MEDIA_SCHEMA, extract_media_features

    media = spark.readStream.schema(MEDIA_SCHEMA).parquet(input_dir)
    return (
        extract_media_features(media)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_media_fingerprints(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Continuous media fingerprinting: the streaming twin of
    ``mediahash.media_fingerprints`` — image dHash, audio band-energy
    deltas, video majority frame fold, same quarantine-row contract.
    The kernel is a stateless ``mapInPandas``, so exactly-once rides
    the file-source + checkpoint offsets alone; at 100 TB this is how
    fingerprints are computed ONCE at ingest and persisted, making the
    near-dup band join the only recurring cost."""
    from ..operators.mediahash import media_fingerprints
    from ..operators.multimodal import MEDIA_SCHEMA

    media = spark.readStream.schema(MEDIA_SCHEMA).parquet(input_dir)
    return (
        media_fingerprints(media)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_frontier(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming crawl-frontier dedup — the continuous-ingest twin of
    the batch canonical-URL window in ``plans.crawl``: canonicalize
    the URL (same JVM fold the batch path uses, so stream and batch
    agree on the key byte-for-byte), then
    ``dropDuplicatesWithinWatermark`` keeps the first fetch per
    canonical URL with state bounded by the watermark.  A re-crawl
    arriving later than the watermark is re-emitted — that is crawl
    semantics (recrawl after N hours), not a bug; the batch frontier
    window over the materialized table remains the global guarantee."""
    from ..operators.weburl import canonicalize_url

    if dict(pages.dtypes).get(ts_col) == "timestamp_ntz":
        pages = pages.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        pages.withColumn("canonical_url", canonicalize_url(F.col(url_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )


def stream_frontier_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    watermark: str = "1 hour",
):
    """File-source page stream → canonical frontier dedup → parquet."""
    pages = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream_frontier(pages, watermark=watermark)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_interleaved_export(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    n_shards: int = 4,
    trigger_available_now: bool = True,
):
    """Continuous interleaved export: spans parquet landing in
    ``input_dir`` → MMC4/OBELICS segment shards, one GENERATION
    directory per micro-batch (``gen-<batchId>/shard-*.jsonl.gz``).

    Exactly-once by idempotence: the shard writer is byte-deterministic
    (md5 training order, gzip mtime=0, atomic rename) and the
    generation path is a pure function of the batch id, so a replayed
    micro-batch rewrites the SAME bytes to the SAME paths — the
    checkpoint guarantees each input file lands in exactly one batch
    id.  A loader consumes ``gen-*/shard-*.jsonl.gz`` append-only;
    manifests live under ``_manifests/gen-<id>`` parquet."""
    import os

    from ..model import SPANS_SCHEMA
    from ..operators.interleave import (
        interleaved_segments,
        write_interleaved_shards,
    )

    spans = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def sink(batch_df, batch_id: int) -> None:
        seg = interleaved_segments(
            batch_df.select("doc_id", "spans")
        ).select("doc_id", "segments")
        gen = os.path.join(output_dir, f"gen-{batch_id}")
        write_interleaved_shards(
            seg, gen, n_shards=n_shards
        ).write.mode("overwrite").parquet(
            os.path.join(output_dir, "_manifests", f"gen-{batch_id}")
        )

    writer = spans.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_hll_registers(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    col: str = "text",
    p: int = 9,
):
    """Continuously-maintained HyperLogLog corpus sketch: document
    files landing in ``input_dir`` fold into the register table as
    they arrive.  Registers are an ALGEBRAIC max aggregate, so
    Structured Streaming's state store holds exactly ≤ 2**p rows
    regardless of stream length — the streaming distinct-count answer
    ("how many unique documents has this pipeline ever seen") with
    bounded state and no watermark needed (max never retracts).

    Each micro-batch publishes the complete register table by
    overwriting ``output_dir`` (complete-mode foreachBatch; the
    overwrite is idempotent, so a replayed batch republishes the same
    table).  The published parquet is a drop-in input to
    ``sketches.hll_estimate`` / ``hll_merge`` — streaming and batch
    sketches compose in the same algebra."""
    from ..operators.sketches import hll_sketch

    docs = spark.readStream.schema(schema).parquet(input_dir)
    regs = hll_sketch(docs, col, p)

    def publish(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(output_dir)

    return (
        regs.writeStream.foreachBatch(publish)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
