"""Mini-driver: run each __spark_entry__ query AND its DuckDB oracle at
a given sf, compare row count / sorted-column schema / order-insensitive
values. Usage: python tools/check_oracle.py [sf_dir] [query ...]

Unknown query names exit non-zero before any Spark work. The master is
``get_spark``'s default, ``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from kapra_spark.session import get_spark

    qs = E.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")

    spark = get_spark("oracle_check", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            mine = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error {ex}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(mine)} rows)")
            continue
        try:
            theirs = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append((name, f"duckdb error: {ex}"))
            print(f"FAIL {name}: duckdb error {ex}")
            continue
        a, b = normalize(mine), normalize(theirs)
        if list(a.columns) != list(b.columns):
            failures.append((name, f"schema {list(a.columns)} vs {list(b.columns)}"))
            print(f"FAIL {name}: schema {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append((name, f"rows {len(a)} vs {len(b)}"))
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            print(f"OK   {name} ({len(a)} rows)")
        except AssertionError as ex:
            failures.append((name, "values"))
            print(f"FAIL {name}: values differ\n{str(ex)[:500]}")
    print(f"\n{len(failures)} failures" if failures else "\nALL OK")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
