"""Checkpointed-manifest resume: kill after K waves → rerun → zero
reprocessing of committed splits and byte-identical final content
(FIXTURES.md family 19 / SURVEY.md §5.4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame, functions as F

from machine_readability_checker_spark.model import RAW_SCHEMA
from machine_readability_checker_spark.operators.extract import extract
from machine_readability_checker_spark.operators.repartition import (
    salted_repartition,
    split_id,
)
from machine_readability_checker_spark.plans.manifest import (
    ManifestStore,
    parquet_rows,
    run_resumable,
    split_rows,
)
from machine_readability_checker_spark.sources.fixtures import gen_corpus

N_DOCS = 120
N_SPLITS = 8


def _transform(wave_df: DataFrame) -> DataFrame:
    out = extract(salted_repartition(wave_df, 8))
    return out.withColumn("split", split_id("doc_id", N_SPLITS))


class _StopAfter(Exception):
    pass


def test_kill_and_resume(spark, tmp_path):
    corpus = gen_corpus(N_DOCS)
    raw = spark.createDataFrame(corpus, schema=RAW_SCHEMA)
    out_dir = str(tmp_path / "table")
    store = ManifestStore(out_dir)

    # run 1: crash after the first wave (2 splits committed)
    def killer(wave):
        raise _StopAfter()

    with pytest.raises(_StopAfter):
        run_resumable(
            raw, store, _transform, n_splits=N_SPLITS, wave_size=2,
            on_wave_done=killer,
        )
    committed_first = store.committed_splits()
    assert len(committed_first) == 2
    docs_first = sum(store.read_manifest(s)["docs"] for s in committed_first)
    assert docs_first > 0

    # run 2: resume — committed splits must be skipped entirely
    stats = run_resumable(
        raw, store, _transform, n_splits=N_SPLITS, wave_size=2
    )
    assert stats["splits_skipped"] == 2
    assert stats["splits_processed"] == N_SPLITS - 2
    assert stats["docs_processed"] == N_DOCS - docs_first

    # final table complete and identical to a clean one-shot run
    final = spark.read.parquet(store.data_dir)
    assert final.count() == N_DOCS
    assert sorted(store.committed_splits()) == list(range(N_SPLITS))

    clean_dir = str(tmp_path / "clean")
    run_resumable(
        raw, ManifestStore(clean_dir), _transform,
        n_splits=N_SPLITS, wave_size=N_SPLITS,
    )
    clean = spark.read.parquet(os.path.join(clean_dir, "data"))
    a = final.select("doc_id", F.to_json("spans").alias("j")).orderBy("doc_id")
    b = clean.select("doc_id", F.to_json("spans").alias("j")).orderBy("doc_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_rerun_after_complete_is_noop(spark, tmp_path):
    corpus = gen_corpus(30)
    raw = spark.createDataFrame(corpus, schema=RAW_SCHEMA)
    store = ManifestStore(str(tmp_path / "t2"))
    run_resumable(raw, store, _transform, n_splits=4, wave_size=4)
    stats = run_resumable(raw, store, _transform, n_splits=4, wave_size=4)
    assert stats["splits_processed"] == 0
    assert stats["docs_processed"] == 0


def test_mismatched_prebucketed_split_rejected(spark, tmp_path):
    """A pre-bucketed split column from a different n_splits must be
    rejected, not silently drop the out-of-range splits."""
    import pytest
    from pyspark.sql import functions as F

    from machine_readability_checker_spark.model import RAW_SCHEMA
    from machine_readability_checker_spark.operators.extract import extract
    from machine_readability_checker_spark.operators.repartition import split_id
    from machine_readability_checker_spark.plans.manifest import (
        ManifestStore,
        run_resumable,
    )
    from machine_readability_checker_spark.sources.fixtures import gen_corpus

    # bucketed with MORE splits than the job expects (values out of range)
    raw16 = spark.createDataFrame(gen_corpus(40), schema=RAW_SCHEMA).withColumn(
        "split", split_id("doc_id", 16)
    )
    store = ManifestStore(str(tmp_path / "mm"))
    with pytest.raises(ValueError, match="disagrees with split_id"):
        run_resumable(
            raw16, store, lambda d: extract(d).withColumn(
                "split", split_id("doc_id", 4)
            ), n_splits=4, wave_size=4,
        )
    # bucketed with FEWER splits: every value is in range(16), but a
    # range check alone would pass and cross-wave dynamic overwrites
    # would silently destroy data — the derivation check must catch it
    raw4 = spark.createDataFrame(gen_corpus(40), schema=RAW_SCHEMA).withColumn(
        "split", split_id("doc_id", 4)
    )
    with pytest.raises(ValueError, match="disagrees with split_id"):
        run_resumable(
            raw4, ManifestStore(str(tmp_path / "mm2")),
            lambda d: extract(d).withColumn("split", split_id("doc_id", 16)),
            n_splits=16, wave_size=4,
        )


def test_snapshot_per_wave_time_travel(spark, tmp_path):
    """The jobs/extract.py --iceberg integration: committing an
    Iceberg-layout snapshot after each wave gives time travel over the
    extraction output — version k sees exactly the waves 1..k
    committed, and the current snapshot sees the whole table."""
    from machine_readability_checker_spark.sources.iceberg_table import (
        IcebergLayoutTable,
    )

    corpus = gen_corpus(N_DOCS)
    raw = spark.createDataFrame(corpus, schema=RAW_SCHEMA)
    out_dir = str(tmp_path / "table")
    store = ManifestStore(out_dir)
    table = IcebergLayoutTable(out_dir)

    def on_wave_done(wave):
        table.commit_snapshot(
            partition_spec={"kind": "split", "n": N_SPLITS}
        )

    stats = run_resumable(
        raw, store, _transform, n_splits=N_SPLITS, wave_size=4,
        on_wave_done=on_wave_done,
    )
    assert stats["docs_processed"] == N_DOCS
    snap = table.current_snapshot()
    assert snap["version"] == 2  # 8 splits / wave 4 → 2 waves
    assert len(snap["splits"]) == N_SPLITS

    v1 = table.snapshot(1)
    assert len(v1["splits"]) == 4
    v1_docs = table.read(spark, version=1).count()
    assert 0 < v1_docs < N_DOCS
    assert v1_docs == v1["total_docs"]
    assert table.read(spark, version=2).count() == N_DOCS
    # incremental read between the wave snapshots = exactly the delta
    assert (
        table.read_incremental(spark, 1, 2).count() == N_DOCS - v1_docs
    )


def test_incremental_from_version_zero_is_bootstrap(spark, tmp_path):
    from machine_readability_checker_spark.sources.iceberg_table import (
        IcebergLayoutTable,
    )

    corpus = gen_corpus(40)
    raw = spark.createDataFrame(corpus, schema=RAW_SCHEMA)
    out_dir = str(tmp_path / "t")
    store = ManifestStore(out_dir)
    table = IcebergLayoutTable(out_dir)
    run_resumable(
        raw, store, _transform, n_splits=N_SPLITS, wave_size=4,
        on_wave_done=lambda w: table.commit_snapshot(),
    )
    cur = table.current_snapshot()["version"]
    assert (
        table.read_incremental(spark, 0, cur).count()
        == table.read(spark, version=cur).count()
        == 40
    )


def test_footer_commit_matches_spark_readback(spark, tmp_path):
    """Each manifest's ``docs`` comes from the parquet footers of its
    split directory and equals Spark's read-back count of that split,
    over several waves and several files per split; a split of the
    universe that receives no rows commits 0."""
    raw = spark.range(200).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id")
    )
    store = ManifestStore(str(tmp_path / "t"))
    stats = run_resumable(
        raw, store, lambda d: d.repartition(3),
        wave_size=2,
        split_expr_col=split_id("doc_id", 4),
        split_universe=[0, 1, 2, 3, 9],
    )
    assert stats["docs_processed"] == 200
    assert len(stats["wave_secs"]) == len(stats["wave_docs"]) == 3
    assert sum(stats["wave_docs"]) == 200
    assert store.committed_splits() == [0, 1, 2, 3, 9]
    written = spark.read.parquet(store.data_dir)
    counts = {
        r["split"]: r["n"]
        for r in written.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {0, 1, 2, 3}
    for s in store.committed_splits():
        assert store.read_manifest(s)["docs"] == counts.get(s, 0)
    assert split_rows(store.data_dir) == dict(sorted(counts.items()))


def test_parquet_rows_skips_what_spark_skips(spark, tmp_path):
    """``parquet_rows`` counts the files Spark's reader reads: ``_SUCCESS``,
    the ``.crc`` checksums and a hidden ``.hidden.parquet`` (a valid
    parquet file Spark ignores) do not count; a missing directory is 0."""
    import shutil

    target = str(tmp_path / "split=0")
    spark.range(37).repartition(2).write.parquet(target)
    names = os.listdir(target)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    part = next(n for n in names if n.endswith(".parquet"))
    shutil.copy(os.path.join(target, part), os.path.join(target, ".hidden.parquet"))
    with open(os.path.join(target, "_extra.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert parquet_rows(target) == spark.read.parquet(target).count() == 37
    assert parquet_rows(str(tmp_path / "absent")) == 0
    assert split_rows(str(tmp_path)) == {0: 37}
