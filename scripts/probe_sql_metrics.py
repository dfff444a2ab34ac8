"""Run one workload query and dump the executed-plan node metrics from
the UI /sql REST endpoint (the SQL-tab view, guide §7.1): per-operator
rows + timing, so stage core-seconds can be attributed to operators.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/probe_sql_metrics.py <query>
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import bench  # noqa: E402
from driver_heap import driver_memory  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
name = sys.argv[1]

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master(
        f"local[{int(os.environ.get('SPARK_GRAFT_CPUS', '32'))}]"
    )
    .appName("sqlmetrics-probe")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.driver.memory", driver_memory())
    .config("spark.ui.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
wl = bench.workload_map()
wl[name](spark, "/root/testdata/sf0.001").count()  # warm
ui = spark.sparkContext.uiWebUrl
app_id = spark.sparkContext.applicationId
pre = json.load(urllib.request.urlopen(
    f"{ui}/api/v1/applications/{app_id}/sql?length=1000"))
seen = {q["id"] for q in pre}
t0 = time.time()
n = wl[name](spark, SF).count()
wall = time.time() - t0
qs = json.load(urllib.request.urlopen(
    f"{ui}/api/v1/applications/{app_id}/sql?length=1000&details=true&"
    "planDescription=false"))
print(json.dumps({"query": name, "wall": round(wall, 2), "rows": n}))
for q in qs:
    if q["id"] in seen:
        continue
    print(f"--- sql {q['id']} dur={q.get('duration')}ms")
    for node in q.get("nodes", []):
        ms = {m["name"]: m["value"] for m in node.get("metrics", [])}
        keep = {k: v for k, v in ms.items() if any(
            s in k for s in ("time", "rows", "size", "spill"))}
        if keep:
            print(node["nodeId"], node["nodeName"], json.dumps(keep)[:400])
spark.stop()
