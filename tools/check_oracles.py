"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_cell(vals[i]) for i in order))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pdf_metadata_extraction_spark.session import get_spark

    # local[N] with as many shuffle partitions, as in get_spark(): N is
    # $SPARK_GRAFT_CPUS, else every usable core
    spark = get_spark(app_name="oracle-check")
    db = duckdb.connect()
    for t in TABLES:
        db.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows)")
            continue
        try:
            res = db.sql(oracles[name])
            d_cols = [c.lower() for c in res.columns]
            d_rows = res.fetchall()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append((name, f"cols {s_cols} vs {d_cols}"))
            print(f"FAIL {name}: cols {s_cols} vs {d_cols}")
            continue
        if len(s_rows) != len(d_rows):
            failures.append((name, f"rowcount {len(s_rows)} vs {len(d_rows)}"))
            print(f"FAIL {name}: rowcount {len(s_rows)} vs {len(d_rows)}")
            continue
        a = norm_rows(s_cols, s_rows)
        b = norm_rows(d_cols, d_rows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"FAIL {name}: values differ ({sum(1 for x, y in zip(a, b) if x != y)} rows), e.g. {diff}")
            continue
        print(f"ok   {name}: {len(s_rows)} rows match")
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
