"""Driver-style correctness self-check.

Runs every ``__spark_entry__.queries()`` entry at a given SF and compares it
against the matching ``oracle_sql()`` DuckDB query on the same parquet files:
row-count, sorted column names, and an order-insensitive value hash
(cells stringified with float rounding, rows sorted). This mirrors the
driver's CORRECTNESS gate closely enough to catch mismatches before a round
ends.

Usage: python scripts/selfcheck.py [sf_dir] [only_query ...]

The summary counts the entries that ran; naming an entry that does not
exist exits 2 before any Spark work.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-ish tolerance: round to 6 significant-ish decimals
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _hash_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown entries: {', '.join(unknown)}")
        return 2

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("selfcheck")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entrymod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ores = con.execute(sql)
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            continue
        ok_n = len(srows) == len(orows)
        ok_c = sorted(scols) == sorted(ocols)
        ok_h = ok_n and ok_c and _hash_rows(scols, srows) == _hash_rows(ocols, orows)
        status = "PASS" if (ok_n and ok_c and ok_h) else "FAIL"
        detail = ""
        if not ok_n:
            detail = f" rows {len(srows)} vs {len(orows)}"
        elif not ok_c:
            detail = f" cols {sorted(scols)} vs {sorted(ocols)}"
        elif not ok_h:
            detail = " value-hash mismatch"
        print(f"{status}  {name}: {len(srows)} rows{detail} [{time.time()-t0:.1f}s]")
        if status == "FAIL":
            failures.append(name)

    print(f"\n{ran - len(failures)}/{ran} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
