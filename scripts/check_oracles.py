"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() twin side-by-side,
compare row count, column names, and order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        # normalize tz-aware values consistently: drop the offset entirely
        if getattr(v, "tzinfo", None) is not None:
            v = v.replace(tzinfo=None)
        return v.isoformat()[:26]
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm_cell(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [columns[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from html_table_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        sys.exit(2)
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as exc:
            failures.append((name, f"spark error: {exc}"))
            print(f"FAIL {name}: spark error: {str(exc)[:400]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            if len(spark_rows) == 0 and name != "dd_simhash":
                failures.append((name, "rows-only query returned 0 rows"))
                print(f"FAIL {name}: rows-only query returned 0 rows")
            else:
                print(f"ok   {name}: rows-only ({len(spark_rows)} rows)")
            continue
        try:
            res = con.execute(sql)
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as exc:
            failures.append((name, f"duckdb error: {exc}"))
            print(f"FAIL {name}: duckdb error: {str(exc)[:400]}")
            continue
        sc, sr = norm_rows(spark_cols, spark_rows)
        dc, dr = norm_rows(duck_cols, duck_rows)
        if sc != dc:
            failures.append((name, f"columns differ: spark={sc} duck={dc}"))
            print(f"FAIL {name}: columns spark={sc} duck={dc}")
            continue
        if len(sr) != len(dr):
            failures.append((name, f"row count: spark={len(sr)} duck={len(dr)}"))
            print(f"FAIL {name}: rows spark={len(sr)} duck={len(dr)}")
            continue
        if sr != dr:
            diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            failures.append((name, f"values differ, first diffs: {diff}"))
            print(f"FAIL {name}: first diffs {diff}")
            continue
        print(f"ok   {name}: {len(sr)} rows match")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES")
        sys.exit(1)
    print("\nall queries match their oracles")


if __name__ == "__main__":
    main()
