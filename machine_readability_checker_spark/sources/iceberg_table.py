"""Iceberg-layout table shim: snapshot metadata over split manifests.

No Iceberg runtime jar ships in this container, so the engine mirrors
Iceberg's metadata/manifest split with plain JSON on top of the
partitioned-parquet layout written by ``plans/manifest.py``:

    <root>/data/split=K/*.parquet     (bucketed data files)
    <root>/_manifests/split-K.json    (per-split commit manifests)
    <root>/_snapshots/v{N}.json       (table-level snapshots)
    <root>/_snapshots/current         (pointer file, atomically renamed)

``commit_snapshot`` records the schema, the committed split list and
row-count totals; ``current_snapshot`` resolves the active version.  With
a real catalog the same pipeline targets:

    CREATE TABLE docs_spans (
      doc_id STRING, spans ARRAY<STRUCT<kind:STRING, text:STRING,
      media_ref:STRING, offset:INT>>)
    USING iceberg
    PARTITIONED BY (bucket(64, doc_id))

and resume rides snapshot diffs instead of the manifest anti-join.

Schema evolution (the metadata-only Iceberg behaviors, shim analogs):

- **Add column** — real DDL: ``ALTER TABLE t ADD COLUMN quality DOUBLE``.
  Iceberg records a new schema id; old data files are untouched and old
  columns read as NULL.  Shim: commit a snapshot with the new
  ``schema_json``; ``read()`` merges parquet schemas so pre-evolution
  files surface the new column as NULL, and a time-travel
  ``read(version=v)`` projects to the columns recorded in THAT
  snapshot's schema — ``VERSION AS OF`` semantics (the old snapshot
  does not see the new column).
- **Partition-spec change** — real DDL: ``ALTER TABLE t REPLACE
  PARTITION FIELD bucket(4, doc_id) WITH bucket(8, doc_id)``.  Iceberg
  stamps each data file with its spec id; old files keep the old
  layout.  Shim: the snapshot records ``partition_spec`` ({spec_id,
  num_buckets, column}) and ``split_expr(spec)`` namespaces split ids
  as ``spec_id*SPEC_STRIDE + bucket`` so files written under different
  specs never collide in the append-once split space (the stride plays
  the role of Iceberg's per-file spec id; a real catalog needs none).

Unset ``schema_json`` / ``partition_spec`` carry forward from the
previous snapshot, like Iceberg metadata lineage.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from typing import Any, Dict, List, Optional

from ..plans.manifest import ManifestStore, parquet_files, parquet_rows

# split-id stride between partition specs: split = spec_id*STRIDE + bucket
SPEC_STRIDE = 1000


def split_expr(spec: Dict[str, Any], salt: int = 42):
    """Split-assignment column for a partition spec: the shim analog of
    Iceberg's ``bucket(N, col)`` transform, namespaced by spec id so an
    evolved spec's files occupy a disjoint split range."""
    from pyspark.sql import functions as F

    n = int(spec["num_buckets"])
    if n >= SPEC_STRIDE:
        raise ValueError(f"num_buckets must be < {SPEC_STRIDE}")
    return F.lit(int(spec.get("spec_id", 0)) * SPEC_STRIDE) + F.pmod(
        F.xxhash64(F.col(spec.get("column", "doc_id")), F.lit(salt)), F.lit(n)
    )


def _schema_columns(schema_json: Optional[str]) -> Optional[List[str]]:
    """Top-level column names from a recorded schema: accepts both the
    loose ``{"col": "type"}`` form and Spark's ``schema.json()`` form."""
    if not schema_json:
        return None
    try:
        parsed = json.loads(schema_json)
    except (ValueError, TypeError):
        return None
    if isinstance(parsed, dict) and isinstance(parsed.get("fields"), list):
        return [f["name"] for f in parsed["fields"]]
    if isinstance(parsed, dict):
        return list(parsed.keys())
    return None


class IcebergLayoutTable:
    def __init__(self, root: str):
        self.root = root
        self.store = ManifestStore(root)

    @property
    def snapshot_dir(self) -> str:
        return os.path.join(self.root, "_snapshots")

    def _versions(self) -> List[int]:
        if not os.path.isdir(self.snapshot_dir):
            return []
        out = []
        for name in os.listdir(self.snapshot_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    @property
    def delete_dir(self) -> str:
        return os.path.join(self.root, "_deletes")

    def commit_snapshot(
        self,
        schema_json: Optional[str] = None,
        partition_spec: Optional[Dict[str, Any]] = None,
        deletes: Optional[List[Dict[str, Any]]] = None,
    ) -> Dict[str, Any]:
        """Roll the committed split manifests up into a new table
        snapshot; the `current` pointer flips via atomic rename.  Unset
        schema/spec/deletes carry forward from the previous snapshot
        (metadata lineage); passing a new value IS the evolution /
        delete commit.  ``deletes`` entries are
        ``{"id": N, "key": key_col, "rows": n}`` referencing equality-
        delete files under ``_deletes/d{N}/`` (Iceberg v2 merge-on-read
        row-level deletes — see ``delete_where``)."""
        splits = self.store.committed_splits()
        manifests = [self.store.read_manifest(s) for s in splits]
        versions = self._versions()
        prev = self.snapshot(versions[-1]) if versions else {}
        version = (versions[-1] + 1) if versions else 1
        snap = {
            "version": version,
            "committed_at": time.time(),
            "schema": schema_json
            if schema_json is not None
            else prev.get("schema"),
            "partition_spec": partition_spec
            if partition_spec is not None
            else prev.get("partition_spec"),
            "splits": splits,
            "total_docs": sum(m.get("docs", 0) for m in manifests),
            "manifest_files": [f"_manifests/split-{s}.json" for s in splits],
            "deletes": deletes
            if deletes is not None
            else prev.get("deletes", []),
        }
        os.makedirs(self.snapshot_dir, exist_ok=True)
        path = os.path.join(self.snapshot_dir, f"v{version}.json")
        fd, tmp = tempfile.mkstemp(prefix=".snap.", dir=self.snapshot_dir)
        with os.fdopen(fd, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)
        # pointer flip: write-temp + fsync + rename, same protocol as
        # manifests (without the fsync a crash can journal the rename
        # before the data blocks land, leaving an empty pointer that
        # bricks every subsequent read).  Single-writer protocol: like
        # Iceberg's, version allocation assumes one committer at a time
        # (a real catalog arbitrates concurrent commits).
        fd, tmp = tempfile.mkstemp(prefix=".cur.", dir=self.snapshot_dir)
        with os.fdopen(fd, "w") as f:
            f.write(f"v{version}.json")
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(self.snapshot_dir, "current"))
        return snap

    def current_snapshot(self) -> Optional[Dict[str, Any]]:
        ptr = os.path.join(self.snapshot_dir, "current")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            name = f.read().strip()
        with open(os.path.join(self.snapshot_dir, name)) as f:
            return json.load(f)

    def snapshot(self, version: int) -> Dict[str, Any]:
        with open(os.path.join(self.snapshot_dir, f"v{version}.json")) as f:
            return json.load(f)

    def read(self, spark, version: Optional[int] = None):
        """Read the table; with ``version`` this is a time-travel read —
        only the splits that snapshot had committed are visible, via a
        partition-pruned filter on the ``split`` directory column (splits
        are append-once, so split membership fully determines snapshot
        contents — the shim analog of Iceberg ``VERSION AS OF``), AND the
        row shape is the schema recorded in that snapshot: columns added
        by a later evolution are projected away, exactly as Iceberg reads
        an old snapshot with its own schema id.  mergeSchema makes
        pre-evolution files surface later-added columns as NULL on
        current reads."""
        df = spark.read.option("mergeSchema", "true").parquet(
            self.store.data_dir
        )
        if version is None:
            cur = self.current_snapshot()
            return self._apply_deletes(
                spark, df, (cur or {}).get("deletes", [])
            )
        from pyspark.sql import functions as F

        snap = self.snapshot(version)
        df = df.filter(F.col("split").isin([int(s) for s in snap["splits"]]))
        cols = _schema_columns(snap.get("schema"))
        if cols:
            keep = [c for c in df.columns if c in set(cols) or c == "split"]
            df = df.select(*keep)
        return self._apply_deletes(spark, df, snap.get("deletes", []))

    def _apply_deletes(self, spark, df, deletes: List[Dict[str, Any]]):
        """Merge-on-read: subtract each referenced equality-delete file
        via one BROADCAST left-anti join per delete key (delete sets are
        takedown-sized — thousands of keys against 10^12 rows; the
        corpus never shuffles).  Snapshots that reference no deletes pay
        nothing: the plan is unchanged."""
        if not deletes:
            return df
        from pyspark.sql import functions as F

        by_key: Dict[str, List[Dict[str, Any]]] = {}
        for d in deletes:
            by_key.setdefault(d["key"], []).append(d)
        for key, group in sorted(by_key.items()):
            dels = None
            for d in group:
                one = spark.read.parquet(
                    os.path.join(self.delete_dir, f"d{d['id']}")
                ).select(key)
                dels = one if dels is None else dels.unionByName(one)
            df = df.join(F.broadcast(dels.distinct()), key, "left_anti")
        return df

    def delete_where(self, spark, predicate, key_col: str = "doc_id"):
        """Row-level DELETE (GDPR/DMCA/opt-out takedown), Iceberg-v2
        merge-on-read style: the keys of matching CURRENT rows are
        written as an equality-delete file under ``_deletes/d{N}/``
        (write-temp + atomic dir rename, same protocol as every other
        commit here) and a new snapshot references it.  No data file is
        touched, so every pre-delete snapshot still time-travels to the
        full data — physical removal is ``TableMaintenance.
        purge_deleted`` once the old snapshots expire, exactly
        Iceberg's delete → expire → rewrite lifecycle.

        ``predicate`` is a SQL string or Column over the current table
        state (already-deleted rows can't re-match: the read applies
        prior delete files).  The delete file also records each key's
        ``split`` so the physical purge prunes its rewrite to affected
        splits.  Returns the new snapshot dict plus
        ``{"delete_id", "rows_deleted"}``."""
        cur = self.current_snapshot()
        if cur is None:
            raise RuntimeError("delete_where requires a committed snapshot")
        matched = self.read(spark, version=cur["version"]).filter(predicate)
        cols = [key_col] + (["split"] if "split" in matched.columns else [])
        keys = matched.select(*cols).distinct()
        prev = cur.get("deletes", [])
        did = (max((d["id"] for d in prev), default=0)) + 1
        final = os.path.join(self.delete_dir, f"d{did}")
        tmp = os.path.join(self.delete_dir, f"d{did}.inprogress")
        os.makedirs(self.delete_dir, exist_ok=True)
        keys.coalesce(1).write.mode("overwrite").parquet(tmp)
        n = parquet_rows(tmp)
        os.rename(tmp, final)
        snap = self.commit_snapshot(
            deletes=prev + [{"id": did, "key": key_col, "rows": n}]
        )
        snap = dict(snap)
        snap["delete_id"] = did
        snap["rows_deleted"] = n
        return snap

    def read_incremental(self, spark, from_version: int, to_version: int):
        """Changelog read: rows appended between two snapshots = the
        splits committed in ``to_version`` but not in ``from_version``
        (Iceberg incremental-scan analog); partition-pruned like read()."""
        from pyspark.sql import functions as F

        # version 0 = the empty table (bootstrap read: everything in
        # to_version is new), matching Iceberg's from-start changelog
        before = (
            set(self.snapshot(from_version)["splits"])
            if from_version > 0
            else set()
        )
        after = set(self.snapshot(to_version)["splits"])
        new_splits = sorted(int(s) for s in after - before)
        df = spark.read.option("mergeSchema", "true").parquet(
            self.store.data_dir
        )
        df = df.filter(F.col("split").isin(new_splits))
        # appended rows that to_version has already deleted are not part
        # of its visible state — apply its delete files like read() does
        return self._apply_deletes(
            spark, df, self.snapshot(to_version).get("deletes", [])
        )


# ----------------------------------------------------- table maintenance


class TableMaintenance:
    """The two maintenance jobs a 10^12-document table actually needs,
    as shim analogs of Iceberg's stored procedures:

    - ``compact`` ↔ ``rewrite_data_files``: streaming ingest leaves a
      long tail of small files per partition; each over-fragmented
      split directory is rewritten to ``target_files`` parquet files
      and swapped in.  Iceberg swaps via a REPLACE snapshot and keeps
      the old files until expiry; the shim (no file-level manifests)
      verifies row counts and swaps the directory eagerly — ROW-level
      time travel is preserved (splits are append-once, snapshot
      membership is split-based), file-level history is not.
    - ``expire_snapshots`` ↔ the procedure of the same name: drop old
      snapshot metadata, keeping the last N and the current pointer's
      target.  Metadata-only in the shim — every data file stays
      referenced by its split forever; with Iceberg's file-level
      manifests this is also where compacted-away files get
      garbage-collected.
    """

    def __init__(self, table: IcebergLayoutTable):
        self.table = table

    def compact(
        self,
        spark,
        max_files_per_split: int = 1,
        splits: Optional[List[int]] = None,
        sort_by: Optional[List[str]] = None,
    ) -> Dict[str, Any]:
        """Rewrite every committed split directory holding more than
        ``max_files_per_split`` parquet files down to that many.  Each
        split is verified (row count before == after) before its
        directory swap; a crash between the two renames leaves a
        ``split=K.old`` directory that ``recover_compaction`` restores.
        Returns {split: {files_before, files_after, rows}} stats.

        ``sort_by``: order the rewrite by these columns (real Iceberg:
        ``rewrite_data_files(strategy => 'sort')``) so the compacted
        file's min/max footer stats turn tight — with a
        ``zorder.morton_key`` column this is the multi-dimension
        Z-ORDER compaction.  A sorted rewrite is the cheapest moment to
        buy read-time pruning: the data is being rewritten anyway."""
        store = self.table.store
        stats: Dict[str, Any] = {}
        for split in splits or store.committed_splits():
            split_dir = os.path.join(store.data_dir, f"split={split}")
            if not os.path.isdir(split_dir):
                continue
            files = parquet_files(split_dir)
            if len(files) <= max_files_per_split and not sort_by:
                continue
            df = spark.read.parquet(split_dir)
            n_before = parquet_rows(split_dir)
            tmp = split_dir + ".compact.tmp"
            out = df.coalesce(max_files_per_split)
            if sort_by:
                out = out.sortWithinPartitions(*sort_by)
            (
                out
                .write.mode("overwrite")
                .parquet(tmp)
            )
            n_after = parquet_rows(tmp)
            if n_after != n_before:
                raise RuntimeError(
                    f"compaction row-count mismatch for split {split}: "
                    f"{n_before} -> {n_after}"
                )
            old = split_dir + ".old"
            os.rename(split_dir, old)
            os.rename(tmp, split_dir)
            import shutil

            shutil.rmtree(old)
            stats[split] = {
                "files_before": len(files),
                "files_after": len(parquet_files(split_dir)),
                "rows": n_before,
            }
        return stats

    def purge_deleted(self, spark) -> Dict[str, Any]:
        """Physical takedown: rewrite the data files of every split that
        holds rows matched by the current snapshot's equality-delete
        files, so the purged bytes actually leave disk (the
        delete → ``expire_snapshots`` → rewrite lifecycle; Iceberg's
        ``rewrite_data_files`` after a v2 delete).

        Refuses to run while any OTHER live snapshot references fewer
        delete files than current — physically rewriting shared data
        files would silently corrupt those snapshots' time travel;
        expire them first.  The rewrite prunes to the splits recorded in
        the delete files (never a full-table rewrite), verifies each
        split's row count (before − deleted == after), and swaps via
        the SAME ``.compact.tmp`` → ``.old`` rename protocol as
        ``compact`` — so a half-swap crash is recovered by
        ``recover_compaction``, idempotently.  Afterwards it commits a
        snapshot with an empty delete list and removes delete files no
        live snapshot references.  Returns
        {splits_rewritten, rows_removed, snapshot_version,
        delete_files_removed}."""
        import shutil

        from pyspark.sql import functions as F

        t = self.table
        cur = t.current_snapshot()
        if cur is None or not cur.get("deletes"):
            return {
                "splits_rewritten": 0,
                "rows_removed": 0,
                "snapshot_version": cur["version"] if cur else None,
                "delete_files_removed": 0,
            }
        cur_ids = {d["id"] for d in cur["deletes"]}
        for v in t._versions():
            if v == cur["version"]:
                continue
            other = {d["id"] for d in t.snapshot(v).get("deletes", [])}
            if not cur_ids <= other:
                raise RuntimeError(
                    f"snapshot v{v} still references pre-delete data; "
                    "expire_snapshots before purge_deleted"
                )
        store = t.store
        by_key: Dict[str, Any] = {}
        for d in cur["deletes"]:
            one = spark.read.parquet(
                os.path.join(t.delete_dir, f"d{d['id']}")
            )
            prev = by_key.get(d["key"])
            one = one.select(
                d["key"], *(["split"] if "split" in one.columns else [])
            )
            by_key[d["key"]] = (
                one if prev is None else prev.unionByName(
                    one, allowMissingColumns=True
                )
            )
        rows_removed = 0
        rewritten: List[int] = []
        for key, keys_df in sorted(by_key.items()):
            keys_df = keys_df.distinct()
            if "split" in keys_df.columns:
                affected = sorted(
                    r["split"]
                    for r in keys_df.select("split").distinct().collect()
                    if r["split"] is not None
                )
            else:
                affected = store.committed_splits()
            drop = keys_df.select(key).distinct()
            for split in affected:
                split_dir = os.path.join(store.data_dir, f"split={split}")
                if not os.path.isdir(split_dir):
                    continue
                df = spark.read.parquet(split_dir)
                n_before = parquet_rows(split_dir)
                kept = df.join(F.broadcast(drop), key, "left_anti")
                tmp = split_dir + ".compact.tmp"
                kept.coalesce(
                    max(1, len(parquet_files(split_dir)))
                ).write.mode("overwrite").parquet(tmp)
                n_after = parquet_rows(tmp)
                if n_after > n_before:
                    raise RuntimeError(
                        f"purge row-count grew for split {split}"
                    )
                if n_after == n_before:  # no matching rows here
                    shutil.rmtree(tmp)
                    continue
                old = split_dir + ".old"
                os.rename(split_dir, old)
                os.rename(tmp, split_dir)
                shutil.rmtree(old)
                rows_removed += n_before - n_after
                rewritten.append(split)
        snap = t.commit_snapshot(deletes=[])
        return {
            "splits_rewritten": sorted(set(rewritten)),
            "rows_removed": rows_removed,
            "snapshot_version": snap["version"],
            "delete_files_removed": self.gc_delete_files(),
        }

    def gc_delete_files(self) -> int:
        """Remove equality-delete files no LIVE snapshot references —
        a pre-purge snapshot still needs its delete files to read
        correctly (merge-on-read), so GC only fires once
        ``expire_snapshots`` has dropped every referencing version.
        Called from ``purge_deleted``; call again after later expiries
        to finish the cleanup.  Returns the number removed."""
        import shutil

        t = self.table
        live: set = set()
        for v in t._versions():
            live |= {d["id"] for d in t.snapshot(v).get("deletes", [])}
        removed = 0
        if os.path.isdir(t.delete_dir):
            for name in sorted(os.listdir(t.delete_dir)):
                if name.startswith("d") and name[1:].isdigit():
                    if int(name[1:]) not in live:
                        shutil.rmtree(os.path.join(t.delete_dir, name))
                        removed += 1
        return removed

    def recover_compaction(self) -> List[int]:
        """Crash recovery: restore any split whose swap half-finished
        (``split=K.old`` exists).  If the new dir also exists the swap
        completed and the leftover is dropped; otherwise the old dir is
        renamed back.  Idempotent."""
        import shutil

        store = self.table.store
        restored = []
        if not os.path.isdir(store.data_dir):
            return restored
        for name in os.listdir(store.data_dir):
            if not name.endswith(".old"):
                continue
            old = os.path.join(store.data_dir, name)
            live = os.path.join(store.data_dir, name[: -len(".old")])
            if os.path.isdir(live):
                shutil.rmtree(old)
            else:
                os.rename(old, live)
                restored.append(int(name[len("split=") : -len(".old")]))
        # an orphaned .compact.tmp (crash before the first rename) is
        # simply stale output: remove it
        for name in os.listdir(store.data_dir):
            if name.endswith(".compact.tmp"):
                shutil.rmtree(os.path.join(store.data_dir, name))
        return restored

    def remove_orphans(
        self,
        grace_seconds: float = 3 * 24 * 3600.0,
        now: Optional[float] = None,
        dry_run: bool = False,
    ) -> Dict[str, List[str]]:
        """``delete_orphan_files`` analog: sweep crash leftovers that no
        committed state references — mkstemp temps in ``_snapshots``
        (``.snap.*`` / ``.cur.*``) and ``_manifests`` (``.split-*``),
        Spark ``_temporary`` staging directories, and stale
        ``*.compact.tmp`` rewrites — but ONLY when older than
        ``grace_seconds`` (Iceberg's ``older_than`` contract: a
        concurrent in-flight writer's temps must survive the sweep;
        the 3-day default matches the procedure's).

        Never touches committed state: ``v*.json`` + ``current``,
        ``split-*.json`` manifests, ``split=*`` data directories — nor
        ``split=*.old`` half-swap evidence, which belongs to
        ``recover_compaction`` (run that FIRST; removing .old here
        could destroy the only copy of a split mid-recovery).

        Returns {"removed": [...], "kept_young": [...]} (root-relative
        paths; with ``dry_run`` nothing is deleted and both lists
        report what would happen)."""
        import shutil

        t = now if now is not None else time.time()
        store = self.table.store
        candidates: List[str] = []
        snap_dir = self.table.snapshot_dir
        if os.path.isdir(snap_dir):
            for name in os.listdir(snap_dir):
                if name.startswith(".snap.") or name.startswith(".cur."):
                    candidates.append(os.path.join(snap_dir, name))
        if os.path.isdir(store.manifest_dir):
            for name in os.listdir(store.manifest_dir):
                if name.startswith(".split-"):
                    candidates.append(
                        os.path.join(store.manifest_dir, name)
                    )
        if os.path.isdir(self.table.delete_dir):
            # a crashed delete_where leaves dN.inprogress (never
            # referenced: the snapshot commit follows the dir rename)
            for name in os.listdir(self.table.delete_dir):
                if name.endswith(".inprogress"):
                    candidates.append(
                        os.path.join(self.table.delete_dir, name)
                    )
        if os.path.isdir(store.data_dir):
            for name in os.listdir(store.data_dir):
                if name == "_temporary" or name.endswith(".compact.tmp"):
                    candidates.append(os.path.join(store.data_dir, name))
            for name in os.listdir(store.data_dir):
                sub = os.path.join(store.data_dir, name)
                if name.startswith("split=") and os.path.isdir(sub):
                    for inner in os.listdir(sub):
                        if inner == "_temporary":
                            candidates.append(os.path.join(sub, inner))
        removed, kept = [], []
        for path in sorted(candidates):
            rel = os.path.relpath(path, self.table.root)
            if t - os.path.getmtime(path) < grace_seconds:
                kept.append(rel)
                continue
            removed.append(rel)
            if dry_run:
                continue
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.unlink(path)
        return {"removed": removed, "kept_young": kept}

    def expire_snapshots(self, keep_last: int = 3) -> List[int]:
        """Delete snapshot metadata older than the newest ``keep_last``
        versions (always keeping the current pointer's target).  Returns
        the expired version numbers; time-travel reads to them now
        raise, exactly like Iceberg after expiry."""
        t = self.table
        versions = t._versions()
        keep = set(versions[-max(1, keep_last):])
        cur = t.current_snapshot()
        if cur:
            keep.add(int(cur["version"]))
        expired = []
        for v in versions:
            if v in keep:
                continue
            os.unlink(os.path.join(t.snapshot_dir, f"v{v}.json"))
            expired.append(v)
        return expired
