"""Local mirror of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB (sf0.01 by default), then compares
row count, sorted column names, and an order-insensitive value hash
(exact — floats must match bit-for-bit, which the engine guarantees
via integer-count ratios and decimal-stable sums).

Usage: python scripts/check_oracle.py [query ...] [--sf DIR | --sf=DIR]
"""

from __future__ import annotations

import argparse
import math
import os
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from demv_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    """Canonical hashable form of a cell value."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NAN"
        return struct.pack(">d", v)  # bitwise
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return f"{type(v).__name__}:{v}"


def frame_signature(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    canon_rows = sorted(
        tuple(canon(r[i]) for i in order) for r in rows
    )
    return names, canon_rows


def main():
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("queries", nargs="*", help="query names (default: all)")
    parser.add_argument("--sf", default="/root/testdata/sf0.01", help="table directory")
    opts = parser.parse_intermixed_args()
    args, sf = opts.queries, opts.sf

    spark = get_spark(
        "oracle-check",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args or list(qs)
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            ddf = con.sql(oracles[name])
            # Fetch through Arrow, NOT fetchall(): fetchall() coerces
            # DuckDB HUGEINT (e.g. SUM over BIGINT) to plain Python int,
            # hiding the decimal128-vs-int64 type mismatch that a typed
            # value hasher (like the driver's) sees. to_pylist() yields
            # decimal.Decimal for decimal128 columns, so canon()'s
            # type-prefixed form fails loudly on uncast aggregates.
            dtbl = ddf.arrow()
            if hasattr(dtbl, "read_all"):  # RecordBatchReader on newer duckdb
                dtbl = dtbl.read_all()
            dcols = dtbl.schema.names
            bad_types = [
                f"{f.name}:{f.type}"
                for f in dtbl.schema
                if "decimal" in str(f.type)
            ]
            if bad_types:
                print(f"FAIL  {name}: oracle emits decimal types {bad_types} "
                      "(uncast HUGEINT aggregate? CAST(... AS BIGINT))")
                n_fail += 1
                continue
            # positional fetch, not to_pylist() dicts: a dict per row
            # would silently collapse duplicate column names onto one
            # value (fetchall() was positional; keep that semantics)
            col_data = [
                dtbl.column(i).to_pylist() for i in range(dtbl.num_columns)
            ]
            drows = [list(t) for t in zip(*col_data)] if col_data else []
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue

        sn, sr = frame_signature(scols, [list(r) for r in srows])
        dn, dr = frame_signature(dcols, [list(r) for r in drows])
        if sn != dn:
            print(f"FAIL  {name}: columns spark={sn} duckdb={dn}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL  {name}: rows spark={len(sr)} duckdb={len(dr)}")
            n_fail += 1
            continue
        if sr != dr:
            bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            print(f"FAIL  {name}: value mismatch at sorted-row {bad}:")
            print(f"      cols:   {sn}")
            print(f"      spark:  {sr[bad]}")
            print(f"      duckdb: {dr[bad]}")
            n_fail += 1
            continue
        print(f"PASS  {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
