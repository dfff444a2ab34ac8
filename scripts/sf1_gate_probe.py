"""sf1.0-probe equivalence check for the two HUGE-output gate queries
(pip_join, pip_skew — 22M+ rows at the probe scale, too large for the
row-collecting oracle harness): compares row COUNT and an
order-insensitive integer checksum computed NATIVELY in each engine —

    mix(row)  = (point_id * 1099511628211 + oid * 2654435761) % 2^61
    checksum  = SUM(mix) as exact integer (decimal(38) / HUGEINT)

All arithmetic is exact integers in both engines, so equal checksums +
equal counts mean the (point_id, oid) multisets agree without ever
moving a row to the driver.

Usage: python scripts/sf1_gate_probe.py [sf_dir=/root/sf1_probe]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as em  # noqa: E402
from driver_heap import driver_memory  # noqa: E402

MOD = 1 << 61
M1, M2 = 1099511628211, 2654435761


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/sf1_probe"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = em.oracle_sql()
    queries = em.queries()
    failures = 0
    for name in ("pip_join", "pip_skew"):
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        # decimal(38,0) arithmetic end to end: point_id * M1 overflows
        # int64 (ANSI mode raises), and decimal is exact in both engines
        dec = "decimal(38,0)"
        mix = F.pmod(
            F.col("point_id").cast(dec) * F.lit(M1).cast(dec)
            + F.col("oid").cast(dec) * F.lit(M2).cast(dec),
            F.lit(MOD).cast(dec),
        )
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum(mix).alias("cs")
        ).first()
        spark_n, spark_cs = int(row["n"]), int(row["cs"])
        spark_s = round(time.time() - t0, 1)
        t0 = time.time()
        duck_n, duck_cs = con.execute(
            f"SELECT COUNT(*), SUM((point_id * {M1}::HUGEINT"
            f" + oid * {M2}::HUGEINT) % {MOD}::HUGEINT)"
            f" FROM ({oracles[name]})"
        ).fetchone()
        duck_s = round(time.time() - t0, 1)
        ok = spark_n == int(duck_n) and spark_cs == int(duck_cs)
        failures += 0 if ok else 1
        print(json.dumps({
            "query": name, "ok": ok, "rows": spark_n,
            "checksum_match": spark_cs == int(duck_cs),
            "spark_sec": spark_s, "duck_sec": duck_s,
        }), flush=True)
    print(f"failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
