"""Local stand-in for the driver's correctness gate.

Runs every catalog query on Spark and its DuckDB oracle at sf0.01,
compares row count, column names, and order-insensitive values
(columns sorted by name, rows sorted, floats compared exactly after
the query's own rounding).

Usage: PYTHONPATH=. python tools/check_contract.py [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    from openair_spark.queries import build_catalog
    from openair_spark.spark.session import get_spark

    only = set(sys.argv[1:])
    catalog = build_catalog()
    spark = get_spark("check-contract")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = []
    for name, qd in catalog.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qd.spark_fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if qd.oracle_sql is None:
            print(f"OK(rows-only) {name}: {len(srows)} rows  [{t_spark:.1f}s]")
            if len(srows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        t0 = time.time()
        try:
            res = con.execute(qd.oracle_sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        t_duck = time.time() - t0
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            failures.append(name)
            continue
        ns, no = norm_rows(scols, srows), norm_rows(ocols, orows)
        if ns != no:
            bad = [i for i, (x, y) in enumerate(zip(ns, no)) if x != y][:3]
            print(f"FAIL {name}: value mismatch ({len([1 for x, y in zip(ns, no) if x != y])} rows)")
            for i in bad:
                print(f"  spark : {ns[i]}")
                print(f"  oracle: {no[i]}")
            failures.append(name)
            continue
        print(f"OK {name}: {len(srows)} rows  [spark {t_spark:.1f}s, duck {t_duck:.1f}s]")
        if len(srows) == 0:
            print(f"  WARN {name}: zero rows")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL GREEN")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
