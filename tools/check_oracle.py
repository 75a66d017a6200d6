"""Local replica of the driver's t2 correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB, compare
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return repr(v)
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    return repr(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)
    return [cols[i] for i in idx], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from opentsdb_aura_spark import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, osql = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            srows = df.collect()
            scols = df.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in osql:
            print(f"weak {name}: rows-only ({len(srows)} rows)")
            n_weak += 1
            continue
        try:
            res = con.sql(osql[name])
            orows = res.fetchall()
            ocols = [d[0] for d in res.description]
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {str(ex)[:200]}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} vs {oc}")
            n_fail += 1
        elif len(sr) != len(orr):
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(orr)}")
            n_fail += 1
        elif sr != orr:
            diffs = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs: {diffs}")
            n_fail += 1
        else:
            print(f"pass {name} ({len(sr)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
