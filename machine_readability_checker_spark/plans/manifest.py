"""Checkpointed partition manifests: resumable batch extraction.

The north rule requires a killed job to resume without reprocessing
committed splits.  The reference has no analog (single file per run); this
is the batch-native design (no streaming state store):

1. the input is assigned a deterministic ``split`` id:
   ``pmod(xxhash64(doc_id, salt), n_splits)`` — same doc → same split on
   every run (operators/repartition.py);
2. the job processes one *wave* of splits at a time, writing output under
   ``out/data/split=K/`` (a directory per split, Hive/Iceberg-partition
   layout) — within a wave Spark parallelizes freely;
3. after a wave's write succeeds, one manifest JSON per split is committed
   via write-temp + ``os.rename`` (atomic on POSIX) recording the split's
   doc count, read from the footers of the parquet files just written
   (``parquet_rows``) — the commit point;
4. on restart, committed split ids are read back and the input is
   filtered with an anti-semijoin on ``split`` BEFORE any parsing, so
   completed work is pruned at the scan (partition pruning does this for
   free when the input itself is split-partitioned).

With a real Iceberg catalog the same protocol rides on Iceberg snapshot
commits (one snapshot per wave; resume = snapshot diff); the shim mirrors
Iceberg's metadata/manifest split with plain JSON so the container needs
no runtime jar (SURVEY.md §7).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, functions as F

from ..operators.repartition import DEFAULT_SALT, split_id


def parquet_files(path: str) -> List[str]:
    """The data files Spark's parquet reader reads in the directory
    ``path``: names ending in ``.parquet``, minus the hidden names it
    skips (``_SUCCESS``, ``.crc`` checksums, anything starting with
    ``_`` or ``.``).  A missing directory has none."""
    if not os.path.isdir(path):
        return []
    return sorted(
        os.path.join(path, name)
        for name in os.listdir(path)
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    )


def parquet_rows(path: str) -> int:
    """Rows in the directory ``path`` as ``spark.read.parquet(path)
    .count()`` counts them, summed from the parquet footers: no Spark
    job, no data page read.  A missing directory counts 0."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def split_rows(data_dir: str) -> Dict[int, int]:
    """{split: rows} for every ``split=K`` directory under
    ``data_dir`` (a table written with ``partitionBy("split")``), in
    split order."""
    if not os.path.isdir(data_dir):
        return {}
    splits = sorted(
        int(name[len("split="):])
        for name in os.listdir(data_dir)
        if name.startswith("split=") and name[len("split="):].isdigit()
    )
    return {
        s: parquet_rows(os.path.join(data_dir, f"split={s}")) for s in splits
    }


@dataclass
class ManifestStore:
    root: str  # table root; manifests under <root>/_manifests

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def committed_splits(self) -> List[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.startswith("split-") and name.endswith(".json"):
                out.append(int(name[len("split-"):-len(".json")]))
        return out

    def read_manifest(self, split: int) -> dict:
        with open(os.path.join(self.manifest_dir, f"split-{split}.json")) as f:
            return json.load(f)

    def commit_split(self, split: int, payload: dict) -> None:
        """Atomic commit: write temp file in the same directory, fsync,
        rename.  A crash before the rename leaves no manifest → the split
        is reprocessed (output overwrite is idempotent per split dir)."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        payload = {"split": split, "committed_at": time.time(), **payload}
        fd, tmp = tempfile.mkstemp(
            prefix=f".split-{split}.", dir=self.manifest_dir
        )
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(payload, f)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, os.path.join(self.manifest_dir, f"split-{split}.json"))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)


def run_resumable(
    df_raw: DataFrame,
    store: ManifestStore,
    transform: Callable[[DataFrame], DataFrame],
    n_splits: int = 16,
    wave_size: int = 4,
    salt: int = DEFAULT_SALT,
    doc_id_col: str = "doc_id",
    on_wave_done: Optional[Callable[[List[int]], None]] = None,
    split_expr_col=None,
    split_universe: Optional[List[int]] = None,
) -> dict:
    """Process ``df_raw`` through ``transform`` resumably.

    Returns stats {splits_total, splits_skipped, splits_processed,
    docs_processed, wave_secs, wave_docs, steady_docs_per_sec}:
    ``wave_secs``/``wave_docs`` hold one entry per wave run here, and
    ``steady_docs_per_sec`` is the doc rate over the waves after the
    first (None with fewer than two).  Deterministic split assignment +
    atomic per-split manifests ⇒ rerunning after a kill reprocesses only
    uncommitted splits, and the final output directory is identical."""
    if split_expr_col is not None:
        # partition-spec override (sources/iceberg_table.split_expr):
        # the caller supplies both the bucket expression and the split-id
        # universe it maps into — the evolved-spec ingest path, where
        # split ids live in a per-spec namespace disjoint from range(n)
        if split_universe is None:
            raise ValueError("split_expr_col requires split_universe")
        df = df_raw.withColumn("split", split_expr_col)
        universe = [int(s) for s in split_universe]
    elif "split" in df_raw.columns:
        # input is pre-bucketed (Iceberg bucket(N, doc_id) layout, written
        # partitioned by split): the wave filter below becomes partition
        # pruning — each wave reads only its own split directories instead
        # of re-scanning the whole corpus.  Trusting the column requires
        # it to actually be split_id(doc_id, n_splits, salt): a corpus
        # bucketed with a DIFFERENT n_splits passes a mere range check
        # (every mod-12 value lies inside range(16)) and cross-wave
        # dynamic partition overwrites then silently destroy data.  So
        # re-derive the bucket for a sample of rows and compare with the
        # stored value — a modulus/salt mismatch disagrees on roughly
        # (1 - 1/n_splits) of rows, so 500 samples make a false pass
        # astronomically unlikely, for the cost of one tiny scan.
        sample = (
            df_raw.select(
                F.col("split").alias("_stored"),
                split_id(doc_id_col, n_splits, salt).alias("_derived"),
            )
            .limit(500)
            .collect()
        )
        mismatched = [
            (r["_stored"], r["_derived"])
            for r in sample
            if r["_stored"] is None or int(r["_stored"]) != int(r["_derived"])
        ]
        if mismatched:
            raise ValueError(
                f"pre-bucketed 'split' column disagrees with "
                f"split_id(doc_id, {n_splits}, salt={salt}) on "
                f"{len(mismatched)}/{len(sample)} sampled rows (e.g. "
                f"stored={mismatched[0][0]!r} vs derived="
                f"{mismatched[0][1]!r}) — the input was bucketed with a "
                "different n_splits/salt (or 'split' is not a bucket id); "
                "drop the column or re-bucket with matching --splits"
            )
        df = df_raw
        universe = list(range(n_splits))
    else:
        df = df_raw.withColumn("split", split_id(doc_id_col, n_splits, salt))
        universe = list(range(n_splits))
    done = set(store.committed_splits())
    todo = [s for s in universe if s not in done]

    docs_processed = 0
    wave_secs: List[float] = []
    wave_docs: List[int] = []
    if wave_size <= 0:
        # one wave over everything: coarsest resume granularity, zero
        # inter-wave fixed cost (see jobs/extract.py --wave help)
        wave_size = max(1, len(todo))
    for wave_start in range(0, len(todo), wave_size):
        wave = todo[wave_start : wave_start + wave_size]
        _tw = time.perf_counter()
        wave_df = df.filter(F.col("split").isin(wave))
        out = transform(wave_df)
        # one write per wave, partitioned by split → per-split directories.
        # Written directly from the kernel's partitioning: a repartition-
        # by-split first would both shuffle the full span payload and
        # throttle the write stage to |wave| tasks.  The dynamic-partition
        # commit renames |tasks|×|wave| files driver-side, which is why
        # waves are small (wave_size × partitions files per commit).
        (
            out.write.mode("overwrite")
            .partitionBy("split")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store.data_dir)
        )
        # commit each split with the row count of the files the dynamic-
        # overwrite commit just installed in its directory, read from
        # their parquet footers: the exactly-once source of truth
        # without a second Spark job per wave
        this_wave_docs = 0
        for s in wave:
            docs = parquet_rows(os.path.join(store.data_dir, f"split={s}"))
            store.commit_split(s, {"docs": docs})
            docs_processed += docs
            this_wave_docs += docs
        wave_secs.append(round(time.perf_counter() - _tw, 3))
        wave_docs.append(this_wave_docs)
        if on_wave_done is not None:
            on_wave_done(wave)

    # steady-state throughput: waves after the first (wave 1 carries JVM
    # codegen + python-worker spawn warmup)
    steady = None
    if len(wave_secs) > 1 and sum(wave_secs[1:]) > 0:
        steady = round(sum(wave_docs[1:]) / sum(wave_secs[1:]), 1)
    return {
        "splits_total": len(universe),
        "splits_skipped": len(done & set(universe)),
        "splits_processed": len(todo),
        "docs_processed": docs_processed,
        "wave_secs": wave_secs,
        "wave_docs": wave_docs,
        "steady_docs_per_sec": steady,
    }
