"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric (BASELINE.md north rule): spatial-join rows/sec for the
point-in-polygon + tile-assignment workload.  Also times kNN, dedup,
ANN and text-quality pipelines.  ``python bench.py --scaling`` runs the
PIP join at two parallelism levels (local[N] vs local[4N]) on identical
input and reports throughput + scaling efficiency (the sandbox proxy
for N vs 4N executors).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from driver_heap import driver_memory  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def make_spark(cpus: int, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"pyshp_spark-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .getOrCreate()
    )


def _count(df) -> int:
    return df.count()


def workload_map():
    import __spark_entry__ as em

    return {
        "q1_pip_join": em.q_pip_join,
        "q2_tile_assign": em.q_tile_assign,
        "q3_knn": em.q_knn,
        "q4_spatial_anti": em.q_spatial_anti,
        "q5_minhash_sig": em.q_minhash_sig,
        "q6_token_jaccard": em.q_token_jaccard,
        "q7_ann_cosine": em.q_ann_cosine,
        "q8_text_quality": em.q_text_quality,
        "q9_cell_count": em.q_cell_count,
        # round-2 weak plans, now wall-clock-tracked round over round:
        # q10 = full MinHash-LSH pair pipeline (de-amplified band join),
        # q11 = LSH-blocked embedding near-dup (the scalable variant)
        "q10_minhash_pairs": em.q_minhash_pairs,
        "q11_embedding_dedup": em.q_embedding_dedup,
        # q12 = the salted partitioned PIP path under adversarial skew
        # (~25% of probe rows in ONE grid cell, spread by salt_k=8)
        "q12_pip_skew": em.q_pip_skew,
        # round-4 temporal family over the events table
        "q13_sessionize": em.q_sessionize,
        "q14_asof_join": em.q_asof_join,
        "q15_range_join": em.q_range_join,
        "q16_time_rollup": em.q_time_rollup,
        "q17_kmv_distinct": em.q_kmv_distinct,
        # round-5: quadtree tile-pyramid rollup (image-tile density map),
        # zonal statistics, polygon-in-polygon assignment
        "q18_tile_pyramid": em.q_tile_pyramid,
        "q19_zonal_stats": em.q_zonal_stats,
        "q20_poly_contains": em.q_poly_contains,
        # round-6: distributed hole→exterior organizer (5 rings/shape)
        "q21_hole_assign": em.q_hole_assign,
    }


REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def run_queries(spark, sf_dir: str) -> tuple[dict, dict, dict, dict]:
    """Returns ({query: median_sec}, {query: min}, {query: max},
    {query: output_rows}).  Each query runs ``REPEATS`` times — this
    shared host's single-run walls vary 2-3x, and round-3's two
    'regressions' were indistinguishable from that noise; medians
    settle it."""
    med, lo, hi, rows = {}, {}, {}, {}
    for name, fn in workload_map().items():
        walls = []
        for _ in range(REPEATS):
            t0 = time.time()
            rows[name] = _count(fn(spark, sf_dir))
            walls.append(time.time() - t0)
        med[name] = round(_median(walls), 3)
        lo[name] = round(min(walls), 3)
        hi[name] = round(max(walls), 3)
    return med, lo, hi, rows


def input_rows(spark, sf_dir: str) -> int:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()


def main():
    t_all = time.time()
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # warm up every workload once at sf0.001 (outside the timed region):
    # pre-spins the Python worker pool and pre-compiles the whole-stage
    # codegen for each plan shape, so the timings below measure
    # steady-state throughput rather than first-call JIT/startup noise
    for fn in workload_map().values():
        fn(spark, "/root/testdata/sf0.001").count()
    times, tmin, tmax, rows = run_queries(spark, SF_DIR)
    n_points = input_rows(spark, SF_DIR)
    total = sum(times.values())
    # headline: PIP join throughput in input points/sec
    pip_rate = n_points / times["q1_pip_join"] if times["q1_pip_join"] else 0
    result = {
        "metric": "spatial-join points/sec (PIP filter-refine, sf lineitem-derived)",
        "value": round(pip_rate, 1),
        "unit": "rows/sec",
        "queries": times,  # median of REPEATS runs per query
        "queries_min": tmin,
        "queries_max": tmax,
        "repeats": REPEATS,
        "output_rows": rows,
        "input_points": n_points,
        "total_sec": round(total, 3),
        "layout_repeat_join": layout_bench(spark, SF_DIR),
        "index_build": index_build_bench(spark, SF_DIR),
        "wall_sec": round(time.time() - t_all, 3),
        "cpus": CPUS,
        "sf": SF_DIR,
    }
    spark.stop()
    print(json.dumps(result))


def index_build_bench(spark, sf_dir: str, copies: int = 25):
    """Wall for building the broadcast polygon index over a
    ``copies x |part|`` polygon dimension (~500k at sf0.1) — round 6
    moved the WKB→edge/cover parse onto executors (mapInPandas), so
    the driver's share is pure buffer reassembly (memcpy-speed)
    regardless of polygon count or complexity."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from pyshp_spark.operators.spatial import BroadcastPolygonIndex

    dia = em._diamond_wkb(em._diamonds(spark, sf_dir))
    big = (
        dia.crossJoin(spark.range(copies).select(F.col("id").alias("__c")))
        .withColumn("oid", F.col("oid") * copies + F.col("__c"))
        .drop("__c")
        .select("wkb", "xmin", "ymin", "xmax", "ymax", "oid")
    )
    n = big.count()
    t0 = time.time()
    idx = BroadcastPolygonIndex(big, grid=em.ENTRY_GRID, polygon_cols=["oid"])
    wall = round(time.time() - t0, 3)
    try:
        idx.bc.unpersist()
    except Exception:
        pass
    return {"polygons": n, "build_sec": wall}


def layout_bench(spark, sf_dir: str, iters: int = 3, num_buckets: int = 32):
    """The persistent cell-bucketed layout win (plans/layout.py),
    measured: write the fact points and a per-cell rollup ONCE as
    bucketed tables, then run the repeated cell equi-join — the
    steady-state workload shape — against plain-parquet twins of the
    same data.  Broadcast is disabled so both variants face the join
    the way a 100 TB run would (neither side fits an executor);
    bucketing metadata proves co-partitioning, so the bucketed plan
    has ZERO exchanges (asserted) and each iteration skips the shuffle
    the plain plan pays every time."""
    import __spark_entry__ as em
    from pyshp_spark.plans.layout import (
        cell_bucketed_join,
        explain_has_exchange,
        save_cell_bucketed,
        with_cell,
    )
    from pyspark.sql import functions as F

    # x8 replication: the fact side must be big enough that the per-
    # iteration shuffle (not task overhead) dominates the plain plan —
    # the regime every later scale-up deepens
    pts = with_cell(em._pts(spark, sf_dir, spread=False), em.ENTRY_GRID)
    pts = (
        pts.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .withColumn("point_id", F.col("point_id") * 8 + F.col("rep"))
        .drop("rep")
    )
    roll = pts.groupBy("cell").agg(
        F.count("*").alias("n_in_cell"),
        F.avg("x").alias("cx"),
        F.avg("y").alias("cy"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t0 = time.time()
        save_cell_bucketed(pts, "bench_pts_bucketed", num_buckets=num_buckets)
        save_cell_bucketed(roll, "bench_cells_bucketed", num_buckets=num_buckets)
        layout_sec = time.time() - t0
        pts.write.mode("overwrite").format("parquet").saveAsTable("bench_pts_plain")
        roll.write.mode("overwrite").format("parquet").saveAsTable(
            "bench_cells_plain"
        )
        bucketed = cell_bucketed_join(
            spark, "bench_pts_bucketed", "bench_cells_bucketed"
        )
        plain = spark.table("bench_pts_plain").join(
            spark.table("bench_cells_plain"), on="cell"
        )
        assert not explain_has_exchange(bucketed), "bucketed join must not shuffle"
        assert explain_has_exchange(plain), "plain join should shuffle here"
        out_rows = bucketed.count()  # warm both once
        plain.count()
        b_walls, p_walls = [], []
        for _ in range(iters):
            t0 = time.time()
            bucketed.count()
            b_walls.append(time.time() - t0)
            t0 = time.time()
            plain.count()
            p_walls.append(time.time() - t0)
        return {
            "layout_write_sec": round(layout_sec, 3),
            "bucketed_join_sec": round(_median(b_walls), 3),
            "shuffling_join_sec": round(_median(p_walls), 3),
            "per_iter_speedup": round(_median(p_walls) / _median(b_walls), 2),
            "iters": iters,
            "output_rows": out_rows,
        }
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in (
            "bench_pts_bucketed",
            "bench_cells_bucketed",
            "bench_pts_plain",
            "bench_cells_plain",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _scaled_pts(em, spark, sf_dir: str, factor: int):
    """x``factor`` replication of the derived point set (same input at
    every parallelism level; big enough that compute, not session
    overhead, dominates).  4x-cores partitioning amortizes stragglers
    on the shared host (each task ~560k points after the explode)."""
    from pyspark.sql import functions as F

    return (
        em._pts(spark, sf_dir, spread=False)
        .repartition(4 * spark.sparkContext.defaultParallelism)
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
        .withColumn("x", F.col("x") + F.col("rep") * 0.0001)
        .drop("rep")
    )


def _memcpy_gbps(n=20_000_000, repeats=3):
    """Single-thread memcpy bandwidth — the shared-host load proxy.
    This box's DRAM is shared with co-tenants; when this number drops,
    multi-worker levels (local[8]) degrade far more than local[2], so
    scaling-efficiency readings are only comparable at similar
    bandwidth (see BENCH.md 'Why N=2')."""
    import numpy as np

    a = np.arange(n)
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        a.copy()
        best = min(best, time.perf_counter() - t0)
    return round(n * 8 / best / 1e9, 2)


def scaling(levels=(2, 8), factor=30, repeats=4):
    """Same PIP-join probe + identical input at local[N] and local[4N]:
    throughput both ways + scaling efficiency (sandbox proxy for N vs
    4N executors).  The polygon index is built ONCE per session
    (BroadcastPolygonIndex — the steady-state shape of the workload:
    index once, probe forever); probes repeat ``repeats`` times and the
    best wall is kept — the sandbox CPU is shared and single-run walls
    vary 2-3x."""
    import __spark_entry__ as em
    from pyshp_spark.operators.spatial import BroadcastPolygonIndex

    out = {}
    n_pts = None
    for cpus in levels:
        spark = make_spark(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        em.q_pip_join(spark, "/root/testdata/sf0.001").count()  # warm-up
        pts = _scaled_pts(em, spark, SF_DIR, factor)
        dia = em._diamond_wkb(em._diamonds(spark, SF_DIR))
        index = BroadcastPolygonIndex(
            dia, grid=em.ENTRY_GRID, polygon_cols=["oid"]
        )
        n_pts = pts.count()
        walls = []
        rows = None
        for _ in range(repeats):
            t0 = time.time()
            rows = index.join_points(pts, x="x", y="y").count()
            walls.append(time.time() - t0)
        best = min(walls)
        out[f"local[{cpus}]"] = {
            "sec_best": round(best, 3),
            "sec_all": [round(w, 3) for w in walls],
            "points_per_sec": round(n_pts / best, 1),
            "output_rows": rows,
            "host_memcpy_gbps": _memcpy_gbps(),
        }
        spark.stop()
    lo, hi = f"local[{levels[0]}]", f"local[{levels[-1]}]"
    speedup = out[hi]["points_per_sec"] / out[lo]["points_per_sec"]
    ratio = levels[-1] / levels[0]
    out["speedup_n_to_4n"] = round(speedup, 3)
    out["scaling_efficiency"] = round(speedup / ratio, 3)
    out["input_points"] = n_pts
    out["sf"] = SF_DIR
    print(json.dumps(out))


def stream_bench(n_batches=20, batch_rows=350, dup_frac=0.1, compact_every=16):
    """Growing-corpus streaming near-dup bench: ``n_batches`` fixed-size
    micro-batches filter against a corpus that grows to >10x the batch
    size (plus ``dup_frac`` of each batch re-sending batch-0 texts under
    fresh ids, so corpus collisions actually occur).  Evidence for the
    O(batch + collisions) per-batch claim: per-batch walls should stay
    FLAT as the corpus grows (second-half mean ~ first-half mean), and
    compaction keeps the state-store file count bounded."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pyshp_spark.streaming.neardup_stream import neardup_filter_batch

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("__b", F.pmod(F.col("doc_id"), F.lit(n_batches)))
        .localCheckpoint(eager=True)
    )
    # batch 0 is pinned ONCE and seed_dups drawn from that same frame:
    # an independent limit() could pick docs that never entered the
    # corpus, silently under-delivering the dup_frac collision design
    batch0 = (
        docs.where(F.col("__b") == 0)
        .limit(batch_rows)
        .localCheckpoint(eager=True)
    )
    seed_dups = (
        batch0.limit(int(batch_rows * dup_frac)).localCheckpoint(eager=True)
    )
    state = tempfile.mkdtemp(prefix="neardup_stream_bench_")
    walls, kept_counts, file_counts = [], [], []
    try:
        for bi in range(n_batches):
            if bi == 0:
                batch = batch0
            else:
                batch = docs.where(F.col("__b") == bi).limit(batch_rows)
            if bi > 0:
                # re-send batch-0 texts under fresh ids: corpus hits
                batch = batch.unionByName(
                    seed_dups.select(
                        (F.col("doc_id") + F.lit(10_000_000 * bi)).alias(
                            "doc_id"
                        ),
                        "text",
                        "__b",
                    )
                )
            batch = batch.drop("__b")
            t0 = time.time()
            kept = neardup_filter_batch(
                batch, state, batch_id=bi, compact_every=compact_every
            )
            kept_counts.append(kept.count())
            walls.append(round(time.time() - t0, 3))
            n_files = sum(
                len([f for f in fs if f.endswith(".parquet")])
                for _, _, fs in os.walk(state)
            )
            file_counts.append(n_files)
        half = n_batches // 2
        mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
        result = {
            "metric": "streaming near-dup per-batch wall (growing corpus)",
            "value": round(mean(walls[half:]), 3),
            "unit": "sec",
            "walls_sec": walls,
            "kept_per_batch": kept_counts,
            "state_parquet_files": file_counts,
            # first_half is the TRUE mean; the warmup-excluded variant
            # is reported under its own honest name (batch 0 pays
            # Spark/Arrow warmup, but silently dropping it from one
            # half would skew the flatness comparison)
            "first_half_mean_sec": round(mean(walls[:half]), 3),
            "first_half_mean_excl_warmup_sec": round(mean(walls[1:half]), 3),
            "warmup_batch_sec": walls[0],
            "second_half_mean_sec": round(mean(walls[half:]), 3),
            "corpus_final_rows": sum(kept_counts),
            "batch_rows": batch_rows,
            "n_batches": n_batches,
            "compact_every": compact_every,
            "sf": SF_DIR,
        }
        print(json.dumps(result))
    finally:
        spark.stop()
        shutil.rmtree(state, ignore_errors=True)


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling()
    elif "--stream" in sys.argv:
        stream_bench()
    else:
        main()
