"""Local replica of the driver's correctness gate: run each
__spark_entry__ query and its DuckDB oracle side by side, compare
row count, schema (column names), and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
       python scripts/check_oracle.py --rotate N [sf_dir]

--rotate N runs the NEXT deterministic N-query slice of the full gate
(cursor persisted in scripts/.rotate_state, results appended to
ROTATION_LOG.jsonl) — so e.g. the sf0.1 10x-scale sweep covers every
query across consecutive rounds without the full multi-hour run.
"""

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from driver_heap import driver_memory  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


ROTATE_STATE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            ".rotate_state")
ROTATE_LOG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ROTATION_LOG.jsonl",
)


def _rotate_slice(names: list[str], n: int) -> tuple[list[str], int]:
    """The next n query names, cyclically, from a persisted cursor.

    Returns (slice, next_cursor).  The advanced cursor is NOT written
    here — the caller commits it only after the slice actually ran, so
    a crashed rotation re-runs its slice instead of silently dropping
    those queries from the sweep's coverage guarantee."""
    try:
        with open(ROTATE_STATE) as f:
            off = int(f.read().strip() or 0)
    except (OSError, ValueError):
        off = 0
    off %= max(len(names), 1)
    picked = [names[(off + i) % len(names)] for i in range(min(n, len(names)))]
    return picked, (off + len(picked)) % len(names)


def main():
    args = sys.argv[1:]
    rotate_n = 0
    if args and args[0] == "--rotate":
        rotate_n = int(args[1])
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # the gate COLLECTS full result sets to compare against DuckDB;
        # at the sf1.0 probe scale (22M+ pip rows) the default 1g
        # maxResultSize aborts the harness, not the engine
        .config("spark.driver.maxResultSize", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    next_cursor = None
    if rotate_n:
        picked, next_cursor = _rotate_slice(sorted(qs), rotate_n)
        only = set(picked)
        print(f"rotation slice ({rotate_n}): {sorted(only)}")
    failures = 0
    ran = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran.append(name)
        df = fn(spark, sf_dir)
        rows = df.collect()
        cols = sorted(df.columns)
        if name not in oracles:
            print(f"{name:18s} rows-only: {len(rows)} rows, cols={cols}")
            continue
        want = con.execute(oracles[name]).fetchall()
        wcols = sorted(d[0] for d in con.execute(oracles[name]).description)
        spark_set = sorted(
            tuple(canon(r[c]) for c in cols) for r in rows
        )
        idx = [d[0] for d in con.execute(oracles[name]).description]
        duck_set = sorted(
            tuple(canon(row[idx.index(c)]) for c in wcols) for row in want
        )
        ok = (len(rows) == len(want)) and (cols == wcols) and (spark_set == duck_set)
        status = "OK " if ok else "FAIL"
        print(f"{name:18s} {status} spark={len(rows)} duck={len(want)} cols={cols==wcols}")
        if not ok:
            failures += 1
            for i, (a, b) in enumerate(zip(spark_set, duck_set)):
                if a != b:
                    print("   first diff:", a, "vs", b)
                    break
            if len(spark_set) != len(duck_set):
                sa, sb = set(spark_set), set(duck_set)
                print("   only-spark:", list(sa - sb)[:3])
                print("   only-duck :", list(sb - sa)[:3])
    spark.stop()
    if rotate_n:
        # commit the cursor only now that the slice ran and is logged
        with open(ROTATE_STATE, "w") as f:
            f.write(str(next_cursor))
        with open(ROTATE_LOG, "a") as f:
            f.write(json.dumps({
                "ts": int(time.time()),
                "sf_dir": sf_dir,
                "queries": ran,
                "failures": failures,
            }) + "\n")
    print("failures:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
