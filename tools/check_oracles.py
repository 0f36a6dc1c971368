"""Local mimic of the driver's correctness gate: run every queries()
entry under Spark and its oracle_sql() twin under DuckDB on the same
parquet tables, compare row count + schema-sorted values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

A query name that is not in queries() is an error (exit 2) before any
query runs, so a misspelled name can never pass by checking nothing.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from ocr_engine_spark.engine.session import build_session

    qs = entrymod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print("unknown query names:", unknown)
        return 2
    spark = build_session("oracle-check", master="local[8]",
                          shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = entrymod.oracle_sql()
    failures = []
    n_compared = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark_df = fn(spark, sf_dir)
        got = spark_df.toPandas()
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(got)} rows ok")
            continue
        want = con.sql(oracles[name]).df()
        n_compared += 1
        g, w = normalize(got), normalize(want)
        status = "OK"
        if list(g.columns) != list(w.columns):
            status = f"SCHEMA MISMATCH spark={list(g.columns)} duck={list(w.columns)}"
        elif len(g) != len(w):
            status = f"ROWCOUNT {len(g)} vs {len(w)}"
        elif not g.equals(w):
            diff = (g != w) & ~(g.isna() & w.isna())
            ndiff = int(diff.any(axis=1).sum())
            status = f"VALUES differ in {ndiff} rows"
            ix = diff.any(axis=1)
            print(g[ix].head(3))
            print(w[ix].head(3))
        print(f"{name:24s} {status} ({len(g)} rows)")
        if status != "OK":
            failures.append(name)
    spark.stop()
    print(f"compared {n_compared} queries against their oracles")
    if failures:
        print("FAILED:", failures)
        return 1
    print("all oracle checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
