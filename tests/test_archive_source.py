"""Archive source tests: tar/tgz/zip member walk → RAW_SCHEMA rows,
oversize + corrupt quarantine, end-to-end through the extraction
kernel and the spark-submit job surface."""

from __future__ import annotations

import gzip
import io
import os
import tarfile
import zipfile

import pytest

from machine_readability_checker_spark.sources.archive import (
    iter_archive_members,
    read_archives,
    read_bundles,
)
from machine_readability_checker_spark.sources.fixtures import (
    _csv_bytes,
    fam_html,
)


def _tar_bytes(members, gz=False):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    return gzip.compress(raw) if gz else raw


def _zip_bytes(members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            zf.writestr(name, data)
    return buf.getvalue()


CSV = _csv_bytes([["col_a", "col_b"], ["x", 1], ["y", 2]])
HTML = fam_html(__import__("numpy").random.RandomState(0), 0)["content"]


def test_iter_members_tar_zip_tgz():
    members = [("a/table.csv", CSV), ("b/page.html", HTML),
               ("notes.unknownext", b"xx")]
    for blob, name in [
        (_tar_bytes(members), "bundle.tar"),
        (_tar_bytes(members, gz=True), "bundle.tar.gz"),
        (_zip_bytes(members), "bundle.zip"),
    ]:
        got = iter_archive_members(name, blob)
        assert [(n, f) for n, f, _ in got] == [
            ("a/table.csv", "csv"),
            ("b/page.html", "html"),
            ("notes.unknownext", "unknownext"),
        ], name
        assert got[0][2] == CSV


def test_oversize_member_quarantines_without_loading():
    blob = _tar_bytes([("big.csv", b"x" * 1000), ("ok.csv", CSV)])
    got = iter_archive_members("b.tar", blob, max_member=100)
    assert got[0] == ("big.csv", "__oversized__", b"")
    assert got[1][1] == "csv"


def test_corrupt_archive_raises():
    with pytest.raises(Exception):
        iter_archive_members("b.zip", b"PK\x03\x04 truncated garbage")
    with pytest.raises(ValueError, match="unsupported archive"):
        iter_archive_members("b.rar", b"whatever")


def test_read_archives_end_to_end(spark, tmp_path):
    from machine_readability_checker_spark.operators.extract import extract
    from machine_readability_checker_spark.sources.ingest import (
        extension_gate,
    )

    d = tmp_path / "arch"
    d.mkdir()
    (d / "one.tar").write_bytes(
        _tar_bytes([("t.csv", CSV), ("p.html", HTML), ("junk.xyz", b"zz")])
    )
    (d / "two.zip").write_bytes(_zip_bytes([("q.csv", CSV)]))
    (d / "bad.tar").write_bytes(b"not a tar at all" * 10)

    raw = read_archives(spark, str(d) + "/*")
    rows = {r["doc_id"]: r for r in raw.collect()}
    assert "one.tar!t.csv" in rows and "two.zip!q.csv" in rows
    assert rows["one.tar!p.html"]["fmt"] == "html"
    # corrupt archive → single quarantine row, no task failure
    bad = [r for r in rows.values() if r["fmt"] == "__archive_error__"]
    assert len(bad) == 1 and bad[0]["doc_id"] == "bad.tar"

    ok, quarantined = extension_gate(raw)
    q_fmts = {r["fmt"] for r in quarantined.collect()}
    assert "xyz" in q_fmts and "__archive_error__" in q_fmts

    extracted = {r["doc_id"]: r for r in extract(ok).collect()}
    assert extracted["one.tar!t.csv"]["metrics"]["parse_errors"] == 0
    kinds = {s["kind"] for s in extracted["one.tar!t.csv"]["spans"]}
    assert "header" in kinds and "cell" in kinds


def test_read_bundles_keeps_rows_before_a_mid_file_error(spark, tmp_path):
    """The shared bundle-source kernel iterates the walker inside its
    ``try``: rows yielded before a mid-file error survive, followed by
    one quarantine row for the file; other files are untouched."""
    (tmp_path / "a.bin").write_bytes(b"abc")
    (tmp_path / "b.bin").write_bytes(b"abX")

    def walk(_path, data):
        for i, ch in enumerate(data):
            if ch == ord("X"):
                raise ValueError("bad byte")
            yield i, "txt", bytes([ch])

    files = spark.read.format("binaryFile").load(str(tmp_path / "*.bin"))
    rows = sorted(
        (r.doc_id, r.fmt, bytes(r.content), r.n_bytes, r.sheet_idx)
        for r in read_bundles(files, walk, "__test_error__").collect()
    )
    assert rows == [
        ("a.bin!0", "txt", b"a", 1, 0),
        ("a.bin!1", "txt", b"b", 1, 0),
        ("a.bin!2", "txt", b"c", 1, 0),
        ("b.bin", "__test_error__", b"bad byte", 8, 0),
        ("b.bin!0", "txt", b"a", 1, 0),
        ("b.bin!1", "txt", b"b", 1, 0),
    ]


def test_archive_job_surface(tmp_path):
    """spark-submit jobs/extract.py --archive end-to-end (the verify
    skill's surface 1 with the new ingest flag)."""
    import json
    import subprocess

    d = tmp_path / "arch"
    d.mkdir()
    for i in range(4):
        (d / f"b{i}.tar").write_bytes(
            _tar_bytes([(f"doc{j}.csv", CSV) for j in range(5)])
        )
    out = str(tmp_path / "out")
    spark_submit = os.path.join(os.environ["SPARK_HOME"], "bin", "spark-submit")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        ["python", os.path.join(repo, "tools", "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]", "--driver-memory", "4g",
         "--conf", "spark.ui.enabled=false",
         "--py-files", os.path.join(repo, "dist", "engine.zip"),
         os.path.join(repo, "jobs", "extract.py"),
         "--archive", str(d) + "/*.tar",
         "--out", out, "--splits", "2", "--wave", "2"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["docs_processed"] == 20


def test_iter_members_bz2_and_xz_tars():
    """tarfile 'r:*' auto-detects bzip2 and LZMA containers; the
    extension gate must admit all the tar spellings."""
    import bz2
    import lzma

    raw = _tar_bytes([("a.csv", CSV), ("b.html", HTML)])
    for ext, blob in [
        ("x.tar.bz2", bz2.compress(raw)),
        ("x.tbz2", bz2.compress(raw)),
        ("x.tar.xz", lzma.compress(raw)),
        ("x.txz", lzma.compress(raw)),
    ]:
        got = iter_archive_members(ext, blob)
        assert [(n, f) for n, f, _ in got] == [("a.csv", "csv"), ("b.html", "html")]
        assert got[0][2] == CSV
