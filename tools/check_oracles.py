"""Emulate the driver's correctness gate: run each __spark_entry__ query on
Spark and its DuckDB oracle side-by-side at a given scale factor; compare
row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

Each query argument is an exact name or a shell-style pattern ('kg_*');
a name or pattern that matches no query exits non-zero.
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v + 0.0:.6f}"  # -0.0 and 0.0 must hash identically
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from bert_namedentityrecognition_spark.plans.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    patterns = sys.argv[2:]

    spark = build_session(app_name="oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [p for p in patterns if not fnmatch.filter(qs, p)]
    if unknown:
        # a typo'd name must not exit 0 with "0 failures" having run nothing
        sys.exit(f"unknown query name(s): {sorted(unknown)}")
    only = {n for p in patterns for n in fnmatch.filter(qs, p)}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            s_cols = df.columns
            s_rows = df.collect()
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL(run)  {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append(name)
            print(f"FAIL(cols) {name}: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
            continue
        a, b = rowset(s_cols, s_rows), rowset(d_cols, d_rows)
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL(rows) {name}: spark={len(a)} duckdb={len(b)}")
            sa, sb = set(a), set(b)
            print("  only-spark:", list(sa - sb)[:3])
            print("  only-duck :", list(sb - sa)[:3])
        elif a != b:
            failures.append(name)
            diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
            print(f"FAIL(vals) {name}: {len(diff)}/{len(a)} rows differ; first: ")
            for i in diff[:3]:
                print("  spark :", a[i])
                print("  duckdb:", b[i])
        else:
            print(f"OK         {name}: {len(a)} rows")
    spark.stop()
    print("\n%d failures" % len(failures), failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
