"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark at the oracle scale factor and
the matching ``oracle_sql()`` on DuckDB over the same parquet, then
compares row count, sorted column names, and order-insensitive values
(rows sorted by all columns, exact equality; floats compared exactly —
the suite's determinism rules are supposed to make them bit-equal).

Usage: python scripts/verify_local.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# override with SPARK_GRAFT_ORACLE_SF_DIR to probe that no query has
# sf-bound constants (e.g. sf0.001)
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def main() -> int:
    only = set(sys.argv[1:])

    from osrs_dashboard_elt_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            failures.append(name)
            continue
        sc, sr = norm_rows(s_cols, s_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        status = []
        if sorted(s_cols) != sorted(d_cols):
            status.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(sr) != len(dr):
            status.append(f"rowcount: spark={len(sr)} duck={len(dr)}")
        if not status and sr != dr:
            n_bad = sum(1 for a, b in zip(sr, dr) if a != b)
            status.append(f"values: {n_bad}/{len(sr)} rows differ")
            for a, b in list(zip(sr, dr))[:2000]:
                if a != b:
                    status.append(f"  spark={a}")
                    status.append(f"  duck ={b}")
                    break
        if status:
            print(f"FAIL {name} ({time.time()-t0:.1f}s)")
            for s in status:
                print("   " + s)
            failures.append(name)
        else:
            print(f"PASS {name} ({len(sr)} rows, {time.time()-t0:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
