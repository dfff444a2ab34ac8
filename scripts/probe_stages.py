"""Run one workload query and dump per-stage task metrics from the UI
REST API (guide §7.1 empirically, without a browser): stage wall, task
count, max/median task duration, shuffle read/write bytes, python/JVM
time attribution via task summaries.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/probe_stages.py q12_pip_skew
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
    .appName("stage-probe")
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
# mark: everything after this stage id belongs to the timed run
pre = json.load(
    urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
)
seen = {s["stageId"] for s in pre}
t0 = time.time()
n = wl[name](spark, SF).count()
wall = time.time() - t0
stages = json.load(
    urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
)
rows = []
for s in stages:
    if s["stageId"] in seen or s["status"] not in ("COMPLETE", "ACTIVE"):
        continue
    sid, att = s["stageId"], s["attemptId"]
    try:
        q = urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages/{sid}/{att}/taskSummary"
            "?quantiles=0.0,0.5,1.0"
        )
        ts = json.load(q)
    except Exception:
        ts = {}
    rows.append({
        "stage": sid,
        "name": s["name"].split("\n")[0][:60],
        "tasks": s["numCompleteTasks"],
        "stage_ms": (s.get("completionTime") is not None)
        and None,
        "task_ms_p50_max": ts.get("executorRunTime"),
        "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
        "shuffle_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
        "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
        "output_rows": s.get("outputRecords", 0),
        "executor_run_time_s": round(s.get("executorRunTime", 0) / 1e3, 1),
        "executor_cpu_time_s": round(
            s.get("executorCpuTime", 0) / 1e9, 1
        ),
    })
print(json.dumps({"query": name, "wall": round(wall, 2), "rows": n}))
for r in sorted(rows, key=lambda r: -r["executor_run_time_s"]):
    print(json.dumps(r))
spark.stop()
