"""Emulate the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value hash.

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import numpy as np
    if isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, int):
        return str(v)
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(ROOT, "__spark_entry__.py"))
    e = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(e)

    # Emulate the DRIVER's session, not our own get_spark(): the driver
    # builds a plain session (no UTC pin), so queries must be
    # tz-independent on their own.  Pin a non-UTC zone to prove it.
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "America/New_York")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{SF}/{t}.parquet')")

    qs, osql = e.queries(), e.oracle_sql()
    names = sys.argv[1:] or sorted(qs)
    failures = 0
    for name in names:
        try:
            sdf = qs[name](spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as ex:
            print(f"{name}: SPARK ERROR {str(ex)[:160]}")
            failures += 1
            continue
        if name not in osql:
            print(f"{name}: rows-only ({len(srows)} rows) OK"
                  if len(srows) >= 0 else "")
            continue
        try:
            res = con.execute(osql[name])
            ocols = [d[0] for d in res.description]
            # go through pandas like the driver does — DuckDB HUGEINT
            # (integer sum()) degrades to float64 here, which is exactly
            # the lossy path that broke doc_simhash in round 1
            opdf = res.df()
            orows = [tuple(r) for r in opdf.itertuples(index=False)]
        except Exception as ex:
            print(f"{name}: ORACLE ERROR {str(ex)[:300]}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_rows = len(srows) == len(orows)
        sh = table_hash(srows, scols)
        oh = table_hash(orows, ocols)
        ok_hash = sh == oh
        status = "OK" if (ok_cols and ok_rows and ok_hash) else "MISMATCH"
        print(f"{name}: {status} rows={len(srows)}/{len(orows)} "
              f"cols={'=' if ok_cols else f'{scols} vs {ocols}'} "
              f"hash={'=' if ok_hash else f'{sh} vs {oh}'}")
        if status != "OK":
            failures += 1
            if not ok_hash and ok_cols and ok_rows:
                # show first differing rows for debugging
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("\x01".join(norm_cell(r[i]) for i in order)
                              for r in srows)
                oset = sorted("\x01".join(norm_cell(r[i]) for i in order)
                              for r in orows)
                diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
                for a, b in diffs:
                    print("   spark :", a.replace("\x01", " | ")[:160])
                    print("   oracle:", b.replace("\x01", " | ")[:160])
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
