"""Local simulation of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf dir, then compares
row-count, column names, and order-insensitive values. Usage:

    python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback

sys.path.insert(0, ".")


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as E
    from mcp_crawl4ai_rag_spark import get_spark

    spark = get_spark(master="local[16]", shuffle_partitions=16)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = list(df.columns)
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception:
            print(f"[FAIL-SPARK] {name}")
            traceback.print_exc()
            failures.append(name)
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(spark_rows)} rows "
                  f"cols={spark_cols} ({t1-t0:.1f}s)")
            if len(spark_rows) == 0:
                print(f"  WARNING: 0 rows")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception:
            print(f"[FAIL-DUCK] {name}")
            traceback.print_exc()
            failures.append(name)
            continue
        t2 = time.time()
        ok = True
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"[MISMATCH-COLS] {name}: spark={sorted(spark_cols)} "
                  f"duck={sorted(duck_cols)}")
            ok = False
        if len(spark_rows) != len(duck_rows):
            print(f"[MISMATCH-COUNT] {name}: spark={len(spark_rows)} "
                  f"duck={len(duck_rows)}")
            ok = False
        if ok:
            a = rows_to_multiset(spark_rows, spark_cols)
            b = rows_to_multiset(duck_rows, duck_cols)
            if a != b:
                diff_a = [r for r in a if r not in set(b)][:5]
                diff_b = [r for r in b if r not in set(a)][:5]
                print(f"[MISMATCH-VALUES] {name}: "
                      f"spark-only={diff_a} duck-only={diff_b}")
                ok = False
        status = "OK" if ok else "FAIL"
        print(f"[{status}] {name}: {len(spark_rows)} rows "
              f"(spark {t1-t0:.1f}s, duck {t2-t1:.1f}s)")
        if not ok:
            failures.append(name)

    print("\n==", "ALL GREEN" if not failures else f"FAILURES: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
