"""Fast driver-contract guards (no Spark session needed).

The full Spark-vs-DuckDB value comparison lives in
``tools/check_oracles.py`` (and the driver's own gate); these tests
catch registration drift — a lane added to ``queries()`` without an
oracle, an oracle whose SQL no longer parses, or a variant-lane
literal that no longer matches the core — in seconds instead of a
ten-minute e2e run.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def test_every_query_has_an_oracle():
    q, o = set(E.queries()), set(E.oracle_sql())
    assert q == o, f"queries without oracle: {q - o}; orphan oracles: {o - q}"


def test_every_oracle_parses_and_runs_in_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    for name, sql in E.oracle_sql().items():
        try:
            con.execute(sql).fetch_arrow_table()
        except Exception as exc:  # pragma: no cover - failure reporting
            raise AssertionError(f"oracle {name} failed: {exc}") from exc


@pytest.mark.parametrize("lane", sorted(E._VARIANT_EXTRACT_LANES))
def test_variant_extract_lane_pinned_to_core(lane):
    """Every ``<lane>_extract`` oracle literal equals what the
    single-node core extracts from that lane's variant payloads, so a
    drifted literal fails here in milliseconds, not in the Spark run."""
    from machine_readability_checker_spark.core.extract import (
        extract_document,
    )

    variant_doc, spans = E._VARIANT_EXTRACT_LANES[lane]
    for v in range(3):
        fmt, blob, kw = variant_doc(v)
        out = extract_document(f"d{v}", fmt, blob, **kw)
        assert out["parse_error"] is None, (lane, v, out["parse_error"])
        got = [(s["kind"], s["text"], s["media_ref"]) for s in out["spans"]]
        assert got == spans[v], f"{lane} variant {v}"
