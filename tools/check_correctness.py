#!/usr/bin/env python
"""Local mimic of the driver's correctness gate: run every queries()
entry in Spark AND its oracle_sql() in DuckDB at a given SF, compare
row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        # No .normalize(): the driver's hash is trailing-zero- and
        # type-sensitive (round-1 lesson — normalization masked 4
        # decimal-width hash failures the driver then caught).
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["\x1f".join(norm_val(r[i]) for i in idx) for r in rows]
    out.sort()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb
    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    from clinvar_pipeline_spark.caching import release_cached

    # Deliberately a VANILLA session (not session.py's get_spark): the
    # driver's harness builds its own plain SparkSession, so any conf a
    # query needs must be set by the query itself (round-1 lesson — 13
    # queries relied on session.py's nanosAsLong and errored under the
    # driver). Local green must predict driver green.
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or list(qs)
    failures = []
    for name in names:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            # a frame one query persisted must not be substituted into
            # a later query's plan: each query is judged on its own
            release_cached()
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, no oracle) [{spark_s:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        msgs = []
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if ok:
            ns, nd = norm_rows(scols, srows), norm_rows(dcols, drows)
            if ns != nd:
                ok = False
                diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        if ok:
            print(f"OK    {name}: {len(srows)} rows [{spark_s:.1f}s]")
        else:
            print(f"FAIL  {name}: " + "; ".join(msgs))
            failures.append(name)

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failures:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
