"""Extraction-job benchmark: documents/sec, resume time and set-up time of
the resumable extraction job that ``jobs/extract.py`` runs.

    python3 extract_bench/run.py --workload whale_skew --seed 1 \\
        --seconds 10 --trace 0

The job is driven in-process through the engine's public functions, in
the order ``jobs/extract.py`` calls them: ``session.get_spark`` →
persisted ``docs_raw`` frame → ``plans.manifest.run_resumable`` whose
transform is ``operators.repartition.salted_repartition`` →
``operators.extract.extract`` → ``split_id``.  ``sources.fixtures``
generates the input from the seed and is not timed.  The session runs at
``local[<nproc>]`` with a driver memory sized from the machine.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics, measured from spans the benchmark records around its
calls into each layer (see tracer.py).  Every run checks that each input
document is committed exactly once, unquarantined, with spans equal to
``core.extract.extract_document`` (every ORACLE_STRIDE-th document, or
every document when tracing), and that a killed-then-resumed job commits
the same document set as an uninterrupted one.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``, where
``attempted``/``failed`` count documents and ``failed / attempted`` is
the printed ``docs_failed_frac``.

``bench.py`` and its ``BENCH_r0*.json`` lane timings (local[32],
best-of-k over unrelated lanes) are a separate harness; their numbers are
not comparable with this benchmark's.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections import Counter
from dataclasses import dataclass
from typing import Dict, List, Optional, Set, Tuple

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "machine_readability_checker_spark"

# cheap layout families (0.1-0.5 ms/doc in the single-process core)
LIGHT_FAMILIES = (
    "txt_docs", "subtitle_docs", "rtf_docs", "docx_docs", "ipynb_docs",
    "odt_docs", "adoc_docs", "org_docs",
)


@dataclass(frozen=True)
class Workload:
    n_docs: int
    n_splits: int
    wave_size: int  # splits per wave; 0 = every split in one wave
    whale_every: Optional[int] = None
    families: Optional[Tuple[str, ...]] = None
    sort_by_size: bool = False
    # True: on_wave_done raises after half the waves and the timed wall
    # covers the killed call plus the resume.  False: the job runs
    # uninterrupted (timed), then a kill inside the commit loop is
    # simulated by dropping the last quarter of the split manifests, and
    # only the resume is timed.
    kill_between_waves: bool = False


WORKLOADS: Dict[str, Workload] = {
    # every fixture family, one wave: kernel-heaviest, bypasses skew and
    # waves.  Runnable by hand; BENCHMARK.json lists only the two below,
    # which together exercise and bypass every layer within the run budget
    "mixed_formats": Workload(n_docs=2400, n_splits=8, wave_size=0),
    # same mix plus a 2000x20 CSV every 97th doc, input sorted by size:
    # the slowest partition sets the wall
    "whale_skew": Workload(n_docs=1800, n_splits=8, wave_size=0,
                           whale_every=97, sort_by_size=True),
    # cheap docs in many small waves: per-wave write/read-back/commit
    # dominates; killed after half the waves and resumed
    "light_waves": Workload(n_docs=3200, n_splits=8, wave_size=2,
                            families=LIGHT_FAMILIES,
                            kill_between_waves=True),
}

SETUPS = 3  # set-ups per run; setup_s is their median
WARMUP_DOCS = 128  # docs in each set-up's warm-up job
ORACLE_STRIDE = 16
NOOP_REPS = 2
MIN_ITERS = 4  # timed job iterations per run, at least


class SimulatedKill(Exception):
    """Raised from on_wave_done to stop a job the way a killed driver
    would: after some waves committed, before the rest ran."""


def machine() -> Tuple[int, int]:
    """(cores, driver memory in GiB) for this machine: every core the
    process may run on, and a quarter of RAM capped at 4 GiB."""
    cores = len(os.sched_getaffinity(0))
    mem_kib = 16 * 1024 * 1024
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
                break
    return cores, max(1, min(4, mem_kib // (4 * 1024 * 1024)))


def median(xs: List[float]) -> float:
    return float(statistics.median(xs))


def pct(xs: List[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def traced_store_class(tracer):
    """ManifestStore whose commit and listing calls record spans."""
    from machine_readability_checker_spark.plans.manifest import ManifestStore

    class TracedStore(ManifestStore):
        def commit_split(self, split, payload):
            with tracer.span("plans.manifest.commit_split"):
                return super().commit_split(split, payload)

        def committed_splits(self):
            with tracer.span("plans.manifest.committed_splits"):
                return super().committed_splits()

    return TracedStore


class Run:
    """One benchmark run: owns the scratch root, the session and the
    generated input for one workload and seed."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 tmp: str) -> None:
        from machine_readability_checker_spark.sources.fixtures import (
            gen_corpus,
        )
        from tracer import Tracer

        self.wl = WORKLOADS[workload]
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.cores, self.mem_gb = machine()
        self.tracer = Tracer(enabled=trace)
        self._store_cls = traced_store_class(self.tracer)
        self._jobs = 0
        # gen_doc seeds a RandomState with seed * 1_000_003 + i, which
        # must stay below 2**32
        pdf = gen_corpus(self.wl.n_docs, seed=seed % 4000,
                         whale_every=self.wl.whale_every,
                         families=list(self.wl.families) if self.wl.families
                         else None)
        if self.wl.sort_by_size:
            pdf = pdf.sort_values("n_bytes", kind="stable")
        self.pdf = pdf.reset_index(drop=True)
        self.doc_ids: Set[str] = set(self.pdf["doc_id"])
        self.spark = None
        self.raw = None
        self.attempted = 0
        self.failed = 0
        self.problems: List[str] = []

    # ------------------------------------------------------------ set-up

    def _session(self):
        from machine_readability_checker_spark.session import get_spark

        spark = get_spark(
            "extract-bench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": f"{self.mem_gb}g",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> Dict[str, float]:
        """get_spark + create and persist the input + one small warm-up
        job through the full transform and manifest path."""
        from machine_readability_checker_spark.model import RAW_SCHEMA

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = self._session()
        t1 = time.perf_counter()
        with self.tracer.span("setup.persist"):
            self.raw = self.spark.createDataFrame(
                self.pdf, schema=RAW_SCHEMA).persist()
            self.raw.count()
        t2 = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            store = self._store()
            self.job(store, self.raw.limit(WARMUP_DOCS), wave_size=0)
        t3 = time.perf_counter()
        shutil.rmtree(store.root)
        return {"get_spark": t1 - t0, "persist": t2 - t1, "warmup": t3 - t2,
                "total": t3 - t0}

    def teardown_session(self) -> None:
        if self.raw is not None:
            self.raw.unpersist()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.raw = None

    # --------------------------------------------------------------- job

    def _store(self):
        """A ManifestStore under a fresh directory of the scratch root."""
        self._jobs += 1
        return self._store_cls(os.path.join(self.tmp, f"job{self._jobs}"))

    def _transform(self, wave_df):
        from machine_readability_checker_spark.operators.extract import extract
        from machine_readability_checker_spark.operators.repartition import (
            salted_repartition,
            split_id,
        )

        # plan construction only: these layers execute inside the write
        # that run_resumable issues, i.e. in its self time
        with self.tracer.span("operators.repartition.salted_repartition"):
            balanced = salted_repartition(wave_df, self.cores)
        with self.tracer.span("operators.extract.extract"):
            out = extract(balanced)
        return out.withColumn("split", split_id("doc_id", self.wl.n_splits))

    def job(self, store, df=None, wave_size=None, on_wave_done=None) -> dict:
        """One run_resumable call into ``store`` (the persisted input by
        default)."""
        from machine_readability_checker_spark.plans.manifest import (
            run_resumable,
        )

        with self.tracer.span("plans.manifest.run_resumable"):
            return run_resumable(
                self.raw if df is None else df, store, self._transform,
                n_splits=self.wl.n_splits,
                wave_size=self.wl.wave_size if wave_size is None else wave_size,
                on_wave_done=on_wave_done,
            )

    def uninterrupted_job(self, wave_size: Optional[int] = None
                          ) -> Tuple[object, List[float], float]:
        """(store, wave walls, job wall)."""
        store = self._store()
        t0 = time.perf_counter()
        stats = self.job(store, wave_size=wave_size)
        return store, stats["wave_secs"], time.perf_counter() - t0

    def killed_and_resumed_job(self) -> Tuple[object, List[float], float,
                                               float]:
        """(store, wave walls, wall from the first call to the last
        commit, resume wall).  The killed call returns nothing, so its
        wave walls are read off on_wave_done timestamps."""
        n_waves = -(-self.wl.n_splits // self.wl.wave_size)
        marks: List[float] = []

        def kill_after_half(_wave):
            marks.append(time.perf_counter())
            if len(marks) == n_waves // 2:
                raise SimulatedKill()

        store = self._store()
        t0 = time.perf_counter()
        try:
            self.job(store, on_wave_done=kill_after_half)
        except SimulatedKill:
            pass
        else:
            raise RuntimeError("simulated kill did not fire")
        t1 = time.perf_counter()
        stats = self.job(store)
        t2 = time.perf_counter()
        waves = [b - a for a, b in zip([t0] + marks, marks)] + stats["wave_secs"]
        return store, waves, t2 - t0, t2 - t1

    def drop_last_manifests(self, store) -> None:
        """Simulate a kill inside the commit loop: the last quarter of the
        splits were written but their manifests never landed."""
        for s in range(self.wl.n_splits - self.wl.n_splits // 4,
                       self.wl.n_splits):
            os.unlink(os.path.join(store.manifest_dir, f"split-{s}.json"))

    # -------------------------------------------------------- correctness

    def verify(self, store, oracle: Dict[str, list],
               reference: Optional[Set[str]] = None) -> Tuple[Set[str], list]:
        """Check one job output and add its failed documents to the run's
        counts.  A document fails if it is missing from the committed
        splits, duplicated, unexpected, quarantined, its spans differ from
        the oracle, or it is in exactly one of this output and the
        ``reference`` set an uninterrupted run committed.  Returns the
        committed doc-id set and the committed rows."""
        from pyspark.sql import functions as F

        committed = store.committed_splits()
        spans = F.col("spans")
        if len(oracle) < len(self.doc_ids):
            spans = F.when(F.col("doc_id").isin(list(oracle)), spans)
        rows = (
            self.spark.read.parquet(store.data_dir)
            .filter(F.col("split").isin(committed))
            .select("doc_id", "metrics.parse_errors", "metrics.wall_ms",
                    spans.alias("spans"))
            .collect()
        )
        counts = Counter(r["doc_id"] for r in rows)
        ids = set(counts)
        bad = {d for d in self.doc_ids if counts[d] != 1} | (ids - self.doc_ids)
        for r in rows:
            if r["parse_errors"]:
                bad.add(r["doc_id"])
            elif r["doc_id"] in oracle and (
                    _span_tuples(r["spans"] or []) != oracle[r["doc_id"]]):
                bad.add(r["doc_id"])
        if reference is not None:
            bad |= ids ^ reference
        manifest_docs = sum(store.read_manifest(s)["docs"] for s in committed)
        if manifest_docs != len(rows):
            self.problems.append(
                f"manifests count {manifest_docs} docs, data has {len(rows)}")
        self.attempted += len(self.doc_ids)
        self.failed += len(bad)
        return ids, rows

    # ------------------------------------------------------------ layers

    def core_pass(self) -> Tuple[Dict[str, float], Dict[str, list]]:
        """Single-process pass of ``core.extract.extract_batch`` over the
        whole corpus with the core functions wrapped in spans (patched
        where core.extract imported them).  Returns the core metrics and
        the oracle span lists of every document."""
        from machine_readability_checker_spark.core import extract as ce

        names = ("parse_document", "extract_zones", "run_checks")
        orig = {n: getattr(ce, n) for n in names + ("extract_document",)}
        tracer = self.tracer
        per_doc: List[float] = []

        def wrap(name, fn):
            def inner(*a, **k):
                with tracer.span("core." + name):
                    return fn(*a, **k)
            return inner

        def timed_extract(*a, **k):
            t = time.perf_counter()
            with tracer.span("core.extract_document"):
                out = orig["extract_document"](*a, **k)
            per_doc.append(time.perf_counter() - t)
            return out

        since = len(tracer.spans)
        for n in names:
            setattr(ce, n, wrap(n, orig[n]))
        ce.extract_document = timed_extract
        try:
            t0 = time.perf_counter()
            results = ce.extract_batch(self.pdf)
            wall = time.perf_counter() - t0
        finally:
            for n, fn in orig.items():
                setattr(ce, n, fn)
        ms = [1000.0 * x for x in per_doc]
        metrics = {
            "core.docs_per_s_1proc": len(results) / wall,
            "core.parse_s": tracer.total("core.parse_document", since),
            "core.zones_s": tracer.total("core.extract_zones", since),
            "core.checks_s": tracer.total("core.run_checks", since),
            "core.ms_per_doc_p50": median(ms),
            "core.ms_per_doc_p99": pct(ms, 0.99),
        }
        return metrics, {r["doc_id"]: _span_tuples(r["spans"]) for r in results}

    def stride_oracle(self) -> Dict[str, list]:
        from machine_readability_checker_spark.core.extract import extract_batch

        return {r["doc_id"]: _span_tuples(r["spans"])
                for r in extract_batch(self.pdf.iloc[::ORACLE_STRIDE])}

    def noop_s(self) -> float:
        """Median wall of extract(salted_repartition(raw)) into the noop
        sink."""
        from machine_readability_checker_spark.operators.extract import extract
        from machine_readability_checker_spark.operators.repartition import (
            salted_repartition,
        )

        walls = []
        for _ in range(NOOP_REPS):
            t0 = time.perf_counter()
            with self.tracer.span("operators.extract.noop"):
                (extract(salted_repartition(self.raw, self.cores))
                 .write.format("noop").mode("overwrite").save())
            walls.append(time.perf_counter() - t0)
        return median(walls)

    def job_layers(self, store, waves: List[float], wall: float, rows: list,
                   since: int) -> Dict[str, float]:
        """Per-layer numbers of one timed job, from its committed output
        and the spans recorded since index ``since``."""
        from machine_readability_checker_spark.operators.extract import (
            lineage_table,
        )

        lin = lineage_table(self.spark.read.parquet(store.data_dir)).collect()
        kern = [r["kernel_wall_ms"] / 1000.0 for r in lin]
        docs = [r["docs_in"] for r in lin]
        t = self.tracer
        return {
            "wall": wall,
            "operators.extract.kernel_core_s":
                sum(r["wall_ms"] for r in rows) / 1000.0,
            "operators.repartition.kernel_max_s": max(kern),
            "operators.repartition.kernel_median_s": median(kern),
            "operators.repartition.straggler_ratio": max(kern) / median(kern),
            "operators.repartition.docs_max_over_median":
                max(docs) / median(docs),
            "plans.manifest.waves": len(waves),
            "plans.manifest.wave_s_p50": median(waves),
            "plans.manifest.wave_s_max": max(waves),
            "plans.manifest.commit_s":
                t.total("plans.manifest.commit_split", since),
            "plans.manifest.commits":
                t.count("plans.manifest.commit_split", since),
            "plans.manifest.committed_splits_s":
                t.total("plans.manifest.committed_splits", since),
            "plans.manifest.output_files": _parquet_files(store)[0],
            "plans.manifest.run_resumable_self_s":
                t.self_times(since)["plans.manifest.run_resumable"],
        }


def _span_tuples(spans) -> list:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def _parquet_files(store) -> Tuple[int, int]:
    """(file count, total bytes) of the parquet files under data/."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(store.data_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size


def measure(run: Run) -> Tuple[Dict[str, float], Dict[str, float]]:
    """Set up SETUPS times, run one warm-up job, then repeat the timed
    job for ``run.seconds`` and at least MIN_ITERS times.  Returns
    (end-to-end metrics, per-layer metrics)."""
    tracer = run.tracer
    setups = []
    for i in range(SETUPS):
        if i:
            run.teardown_session()
        setups.append(run.setup())
        print(f"set-up {i}: " + ", ".join(
            f"{k} {v:.3f} s" for k, v in setups[-1].items()), file=sys.stderr)

    core: Dict[str, float] = {}
    if run.trace:
        core, oracle = run.core_pass()
    else:
        oracle = run.stride_oracle()

    # the JVM keeps warming for several jobs, so one untimed full job
    # (in one wave, to keep it short) runs first; it is also the
    # uninterrupted run every resumed output must match
    tracer.enabled = False
    store, _waves, wall = run.uninterrupted_job(wave_size=0)
    reference = run.verify(store, oracle)[0]
    shutil.rmtree(store.root)
    print(f"warm-up job: {wall:.3f} s", file=sys.stderr)

    walls: Dict[bool, List[float]] = {True: [], False: []}
    resumes, bytes_per_doc, layers = [], [], []
    t_loop = time.perf_counter()
    i = 0
    while i < MIN_ITERS or time.perf_counter() - t_loop < run.seconds:
        # traced runs alternate traced and untraced iterations so the
        # tracing overhead can be read off the job walls
        traced = tracer.enabled = run.trace and i % 2 == 0
        since = len(tracer.spans)
        if run.wl.kill_between_waves:
            store, waves, wall, resume = run.killed_and_resumed_job()
            tracer.enabled = False
            rows = run.verify(store, oracle, reference)[1]
            if traced:
                layers.append(run.job_layers(store, waves, wall, rows, since))
        else:
            store, waves, wall = run.uninterrupted_job()
            if traced:
                tracer.enabled = False
                rows = run.verify(store, oracle, reference)[1]
                layers.append(run.job_layers(store, waves, wall, rows, since))
                tracer.enabled = True
            run.drop_last_manifests(store)
            t0 = time.perf_counter()
            run.job(store)
            resume = time.perf_counter() - t0
            tracer.enabled = False
            run.verify(store, oracle, reference)
        walls[traced].append(wall)
        resumes.append(resume)
        bytes_per_doc.append(_parquet_files(store)[1] / len(run.doc_ids))
        shutil.rmtree(store.root)
        print(f"iteration {i}: job {wall:.3f} s, resume {resume:.3f} s",
              file=sys.stderr)
        i += 1

    e2e = {
        "docs_per_s": len(run.doc_ids) / median(walls[True] + walls[False]),
        "resume_wall_s": median(resumes),
        "setup_s": median([s["total"] for s in setups]),
        "out_bytes_per_doc": median(bytes_per_doc),
    }
    if not run.trace:
        return e2e, {}

    tracer.enabled = True
    noop = run.noop_s()
    tracer.enabled = False
    per_layer = dict(core)
    for key in layers[0]:
        if key != "wall":
            per_layer[key] = median([lay[key] for lay in layers])
    job_wall = median([lay["wall"] for lay in layers])
    cores = run.cores
    per_layer.update({
        "operators.extract.noop_s": noop,
        "operators.extract.overhead_frac":
            1.0 - per_layer["operators.extract.kernel_core_s"] / (noop * cores),
        "operators.extract.parallel_eff":
            (len(run.doc_ids) / noop)
            / (cores * per_layer["core.docs_per_s_1proc"]),
        "plans.manifest.fixed_s_per_wave":
            (job_wall - noop) / per_layer["plans.manifest.waves"],
        "session.cold_start_s": setups[0]["get_spark"],
        "session.get_spark_s": median([s["get_spark"] for s in setups]),
        "setup.persist_s": median([s["persist"] for s in setups]),
        "setup.warmup_s": median([s["warmup"] for s in setups]),
        "trace.overhead_frac":
            median(walls[True]) / median(walls[False]) - 1.0,
    })
    return e2e, per_layer


def declared_units(trace: bool) -> Dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gw.shutdown()
    finally:
        # the JVM exits when its stdin closes
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def remove_scratch(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    parent = os.path.dirname(tmp)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE}/ not found next to {BENCH_DIR}",
              file=sys.stderr)
        return 2
    # Python workers import the package by module path: make it
    # importable from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    # SIGTERM unwinds through the cleanup callbacks, which stop the
    # session and the JVM and remove the scratch root even if one fails
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = os.path.join(ROOT, ".extract_bench_tmp", f"{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    with contextlib.ExitStack() as cleanup:
        cleanup.callback(remove_scratch, tmp)
        cleanup.callback(stop_jvm)
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
        cleanup.callback(run.teardown_session)
        e2e, per_layer = measure(run)
        if run.trace:
            sys.stderr.write("# spans\n")
            run.tracer.dump(sys.stderr)

    metrics = per_layer if args.trace else e2e
    units = declared_units(run.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"measured metrics {sorted(metrics)} differ from "
                           f"BENCHMARK.json's {sorted(units)}")
    frac = run.failed / run.attempted
    for p in run.problems:
        print(f"problem: {p}")
    print(f"workload={args.workload} seed={args.seed} cores={run.cores} "
          f"docs={len(run.doc_ids)} docs_attempted={run.attempted}")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"docs_failed_frac {frac:.6g} ratio")
    print(json.dumps({
        "correct": run.failed == 0 and not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
