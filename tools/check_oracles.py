"""Local emulation of the driver's correctness gate: run each
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet, compare row count, column names,
column TYPES (Arrow-level, strict — the driver's value hash is
type-sensitive, so DuckDB HUGEINT vs Spark BIGINT is a FAIL here even
when the values are equal), and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]

With no query names every lane is checked; an unknown name is rejected
before Spark starts.
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from machine_readability_checker_spark.model import TESTDATA_TABLES  # noqa: E402
from machine_readability_checker_spark.session import get_spark  # noqa: E402


# Canonical type names: Spark simpleString -> canonical
_SPARK_TYPES = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "boolean": "bool",
    "date": "date",
    "binary": "binary",
}

# Arrow type string (DuckDB fetch_arrow_table) -> canonical
_ARROW_TYPES = {
    "int8": "int8",
    "int16": "int16",
    "int32": "int32",
    "int64": "int64",
    "float": "float32",
    "float32": "float32",
    "double": "float64",
    "float64": "float64",
    "string": "string",
    "large_string": "string",
    "bool": "bool",
    "date32[day]": "date",
    "binary": "binary",
    "large_binary": "binary",
}


def canon_spark_type(t: str) -> str:
    if t.startswith("decimal"):
        return t.replace(" ", "")
    if t.startswith("timestamp"):
        return "timestamp"
    return _SPARK_TYPES.get(t, t)


def canon_arrow_type(t: str) -> str:
    if t.startswith("decimal128"):
        return t.replace("decimal128", "decimal").replace(" ", "")
    if t.startswith("timestamp"):
        return "timestamp"
    return _ARROW_TYPES.get(t, t)


def canon(v):
    """Type-preserving canonical value: NO int->float coercion. Floats are
    rounded (engines legitimately differ in last-ulp on doubles); ints,
    bools, Decimals, and strings keep their type so a typed-hash mismatch
    shows up as a value mismatch too."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", round(v, 9))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        return ("d", str(v))
    return ("s", str(v))


def rows_to_set(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon(r[i]) for i in order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        raise SystemExit(
            f"unknown query {', '.join(map(repr, unknown))} — nothing "
            f"checked; valid names: {', '.join(sorted(qs))}"
        )

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_types = {c: canon_spark_type(t) for c, t in sdf.dtypes}
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(s_rows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            d_cols = tbl.schema.names
            d_types = {
                f.name: canon_arrow_type(str(f.type)) for f in tbl.schema
            }
            d_rows = [
                tuple(col[i] for col in cols_py)
                for cols_py in [[c.to_pylist() for c in tbl.columns]]
                for i in range(tbl.num_rows)
            ]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL  {name}: columns spark={s_cols} duckdb={d_cols}")
            ok = False
        else:
            type_diffs = {
                c: (s_types[c], d_types[c])
                for c in s_cols
                if s_types[c] != d_types[c]
            }
            if type_diffs:
                print(f"FAIL  {name}: column TYPE mismatch: {type_diffs}")
                ok = False
            elif len(s_rows) != len(d_rows):
                print(
                    f"FAIL  {name}: rowcount spark={len(s_rows)} "
                    f"duckdb={len(d_rows)}"
                )
                ok = False
            else:
                sset = rows_to_set(s_rows, s_cols)
                dset = rows_to_set(d_rows, d_cols)
                if sset != dset:
                    diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
                    print(f"FAIL  {name}: value mismatch, first diffs: {diffs}")
                    ok = False
        if ok:
            print(f"PASS  {name}: {len(s_rows)} rows")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
