"""Local simulation of the driver's correctness gate: run every
__spark_entry__.queries() entry (sf0.01 by default, any scale factor on
request) and compare against oracle_sql() via DuckDB — row count, column
names, and an order-insensitive value hash — printing each query's time.

Usage: python scripts/check_oracles.py [sf_dir] [--queries name1,name2]
"""

from __future__ import annotations

import argparse
import hashlib
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from dedupe_archived_files_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            df[c] = col.map(lambda v: str(v))
        elif str(col.dtype).startswith("datetime"):
            df[c] = col.astype("datetime64[ns]").astype("int64")
        elif col.dtype == "float64" or col.dtype == "float32":
            df[c] = col.round(6)
    rows = sorted(tuple(r) for r in df.itertuples(index=False, name=None))
    h = hashlib.md5()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--queries", default="", help="comma-separated subset")
    args = ap.parse_args()
    sf = args.sf_dir
    only = {q for q in args.queries.split(",") if q}
    spark = get_spark(app_name="check_oracles", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:32s} spark error: {str(e)[:200]}")
            failures += 1
            continue
        secs = f"{time.time() - t0:.1f}s"
        osql = oracles.get(name)
        if osql is None:
            print(f"ROWS  {name:32s} spark_rows={len(sdf)} (no oracle) {secs}")
            continue
        try:
            odf = con.sql(osql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:32s} duckdb error: {str(e)[:200]}")
            failures += 1
            continue
        problems = []
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        if len(sdf) != len(odf):
            problems.append(f"rows spark={len(sdf)} oracle={len(odf)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL  {name:32s} {'; '.join(problems)}")
            failures += 1
        else:
            print(f"OK    {name:32s} rows={len(sdf)} {secs}")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
