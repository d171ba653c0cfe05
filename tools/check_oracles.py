"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given sf dir and
compares row count / columns / order-insensitive values against the
matching ``oracle_sql()`` statement executed by DuckDB on the same
parquet files. Each line reports the query's Spark wall seconds (build
plus ``toPandas``), so one run per checkout gives an A/B of the queries
named. Usage::

    python tools/check_oracles.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from graphminer_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        spark_pd = fn(spark, sf_dir).toPandas()
        secs = f"{time.monotonic() - t0:7.2f}s"
        if name not in oracles:
            print(f"{name:28s} {secs} rows={len(spark_pd):8d}  (rows-only: no oracle)")
            continue
        duck_pd = con.execute(oracles[name]).fetchdf()
        a, b = canon(spark_pd), canon(duck_pd)
        ok_shape = list(a.columns) == list(b.columns) and len(a) == len(b)
        ok_vals = ok_hash = False
        if ok_shape:
            try:
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
                )
                ok_vals = True
            except AssertionError as e:
                print(f"--- {name} value diff: {str(e)[:500]}")
            # strict hash-style check mirroring the driver: stringified
            # cell values must agree exactly (int64 5 != float64 "5.0")
            sa = a.astype(str).sort_values(by=list(a.columns), ignore_index=True)
            sb = b.astype(str).sort_values(by=list(b.columns), ignore_index=True)
            ok_hash = sa.equals(sb)
            if ok_vals and not ok_hash:
                diff = (sa != sb).any(axis=0)
                print(f"--- {name} HASH-only diff in cols: {list(diff[diff].index)}")
        status = "OK" if (ok_shape and ok_vals and ok_hash) else "FAIL"
        if status == "FAIL":
            failed.append(name)
            print(
                f"{name:28s} {status}  {secs} spark={len(spark_pd)}x{list(spark_pd.columns)} "
                f"duck={len(duck_pd)}x{list(duck_pd.columns)}"
            )
        else:
            print(f"{name:28s} OK    {secs} rows={len(a)}")
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
