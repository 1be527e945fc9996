"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an
``oracle_sql()`` entry exists, the same query on DuckDB over the same
parquet tables; compares row count, column names, and the full sorted
value set (exact equality, including floats — the queries are designed
to be bit-deterministic across engines).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = set(sys.argv[2:])

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entry_mod
from sql_autoloader_spark.streaming.pipeline import ROCKSDB_PROVIDER

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(rows: list[tuple], columns: list[str]) -> list[tuple]:
    """Sort columns by name, then rows by repr — order-insensitive form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=repr)


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        # the session settings the loader's plans and the stateful
        # stream queries were measured under (OPERATIONS.md)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sql_autoloader_spark.logutil import silence_benign_scheduler_spam
    silence_benign_scheduler_spam(spark)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0

    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        elapsed = time.time() - t0

        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(s_rows)} rows  ({elapsed:.1f}s)")
            continue

        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue

        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL {name}: columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
            failures += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
            failures += 1
            continue
        sc = canon(s_rows, s_cols)
        dc = canon(d_rows, d_cols)
        if sc != dc:
            diffs = [(a, b) for a, b in zip(sc, dc) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows; first: ")
            for a, b in diffs[:3]:
                print(f"   spark : {a}\n   duckdb: {b}")
            failures += 1
            continue
        print(f"ok   {name}: {len(s_rows)} rows match  ({elapsed:.1f}s)")

    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
