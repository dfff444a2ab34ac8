"""Per-layer metrics of a traced run, from its op records and spans.

Every value is a mean per traced op (or per traced op of the named kind,
or per index build), so runs of different lengths compare.  Plan-node
metrics come from the SQL store; nodes are recognised by their operator
name, and the engine's internal column names identify its cell joins,
its match-list explode and the refine that receives polygon WKB.
"""

from __future__ import annotations

import glob
import statistics
import time

from micro import kernel_metrics

PY_SENT = "data sent to Python workers"
ROWS = "number of output rows"

UNITS = {
    "sources.read_s": "s", "sources.shapes_per_s": "1/s",
    "cells.cover_rows": "count", "cells.encode_ns_per_point": "ns",
    "kernels.pip_pairs_flat_ns_per_pair": "ns",
    "kernels.pip_pairs_ns_per_pair": "ns",
    "kernels.wkb_to_edges_us_per_polygon": "us",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "arrow.rows_from_python": "count", "arrow.python_run_s": "s",
    "arrow.python_init_s": "s",
    "join.candidate_pairs": "count", "join.bbox_pairs": "count",
    "join.result_rows": "count", "join.refine_yield": "ratio",
    "join.plan_s": "s", "join.plan_jobs": "count",
    "index.build_s": "s", "index.bytes": "B", "index.polygons": "count",
    "knn.jobs_per_op": "count", "knn.s": "s", "tiles.s": "s",
    "tiles.pairs": "count",
    "cache.persisted_after_op": "count", "cache.storage_mb": "MB",
    "stage.run_s": "s", "stage.jvm_cpu_s": "s", "stage.gc_s": "s",
    "stage.tasks": "count", "stage.task_skew": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "stage.spill_bytes": "B",
    "trace.overhead": "ratio", "trace.span_coverage": "ratio",
    "trace.readout_errors": "count",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _rows_into(node: dict, by_id: dict) -> float:
    """Rows entering ``node``: the output rows of the nearest node below
    it that reports them (Project and codegen wrappers report none)."""
    child = by_id.get(node["child"])
    while child is not None and ROWS not in child["metrics"]:
        child = by_id.get(child["child"])
    return child["metrics"][ROWS] if child is not None else 0.0


def op_counts(op: dict) -> dict[str, float]:
    """Layer counts of one traced op, summed over its spans."""
    c = dict.fromkeys(("py_sent", "py_back", "py_rows", "py_run", "py_init",
                       "cover_rows", "cand", "bbox"), 0.0)
    for span in op["spark"].values():
        for nodes in span["nodes"]:
            by_id = {n["id"]: n for n in nodes}
            for n in nodes:
                m = n["metrics"]
                if PY_SENT in m:
                    c["py_sent"] += m[PY_SENT]
                    c["py_back"] += m.get("data returned from Python workers", 0)
                    c["py_rows"] += m.get(ROWS, 0)
                    c["py_run"] += m.get("time to run Python workers", 0)
                    c["py_init"] += m.get("time to initialize Python workers", 0)
                    if "wkb#" in n["desc"]:  # a refine fed candidate pairs
                        c["bbox"] += _rows_into(n, by_id)
                elif n["name"] == "Generate" and "__ps_matches" not in n["desc"]:
                    c["cover_rows"] += m.get(ROWS, 0)
                elif n["name"].endswith("Join") and "__ps_cell" in n["desc"]:
                    c["cand"] += m.get(ROWS, 0)
    stages = [st for span in op["spark"].values() for st in span["stages"]]
    for key in ("run_s", "cpu_s", "gc_s", "tasks", "shuffle_write",
                "shuffle_read", "spill"):
        c[key] = sum(st[key] for st in stages)
    c["jobs"] = sum(len(span["jobs"]) for span in op["spark"].values())
    return c


def _span_walls(ops, name: str) -> list[float]:
    return [s["end"] - s["start"] for o in ops for s in o["spans"].values()
            if s["name"] == name]


def _span_jobs(ops, name: str) -> list[int]:
    return [len(o["spark"][sid]["jobs"]) for o in ops
            for sid, s in o["spans"].items() if s["name"] == name]


def overhead(ops: list[dict]) -> float:
    """Traced over untraced median op wall, minus one, averaged over
    op kinds (kinds alternate, and traced ops come in pairs)."""
    ratios = []
    for kind in {o["kind"] for o in ops if o["ok"]}:
        t = [o["wall"] for o in ops if o["kind"] == kind and o["traced"]]
        u = [o["wall"] for o in ops if o["kind"] == kind and not o["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u) - 1.0)
    return _mean(ratios)


def sources_metrics(man: dict, setup_spans: list[dict]) -> dict[str, float]:
    """read_s: the ``read_shapefiles`` call in set-up (file listing and
    schema inference in this process).  shapes_per_s: the per-file parse
    each ingest task runs, timed here on the layer's own files."""
    if "layer" not in man:
        return {"sources.read_s": 0.0, "sources.shapes_per_s": 0.0}
    from pyshp_spark.sources.shapefile import shapefile_to_pandas

    files = []
    for shp in sorted(glob.glob(f"{man['layer']}/*.shp")):
        with open(shp, "rb") as f, open(shp[:-4] + ".dbf", "rb") as g:
            files.append((f.read(), g.read()))
    walls, shapes = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        shapes = sum(len(shapefile_to_pandas(s, d)) for s, d in files)
        walls.append(time.perf_counter() - t0)
    reads = [s["end"] - s["start"] for s in setup_spans if s["name"] == "sources.read"]
    return {"sources.read_s": _mean(reads),
            "sources.shapes_per_s": shapes / statistics.median(walls)}


def layer_metrics(ops: list[dict], builds: list[dict], man: dict, tracer,
                  grid, readout_errors: int) -> dict[str, tuple[float, str]]:
    traced = [o for o in ops if o["traced"] and "spark" in o]
    counts = [op_counts(o) for o in traced]

    def per_op(key):
        return _mean(c[key] for c in counts)

    knn = [(o, c) for o, c in zip(traced, counts) if o["kind"] == "knn"]
    tiles = [o for o in traced if o["kind"] == "tiles"]
    bbox = sum(c["bbox"] for c in counts)
    refined_rows = sum(o["rows_out"] for o, c in zip(traced, counts) if c["bbox"])
    out = {
        **sources_metrics(man, [s for s in tracer.spans if s["op"] == "setup"]),
        "cells.cover_rows": per_op("cover_rows"),
        **kernel_metrics(man, grid),
        "arrow.bytes_to_python": per_op("py_sent"),
        "arrow.bytes_from_python": per_op("py_back"),
        "arrow.rows_from_python": per_op("py_rows"),
        "arrow.python_run_s": per_op("py_run"),
        "arrow.python_init_s": per_op("py_init"),
        "join.candidate_pairs": per_op("cand"),
        "join.bbox_pairs": per_op("bbox"),
        "join.result_rows": _mean(o["rows_out"] for o in traced),
        "join.refine_yield": refined_rows / bbox if bbox else 0.0,
        "join.plan_s": _mean(_span_walls(traced, "call")),
        "join.plan_jobs": _mean(_span_jobs(traced, "call")),
        "index.build_s": _mean(b["s"] for b in builds),
        "index.bytes": _mean(b["bytes"] for b in builds),
        "index.polygons": _mean(b["polygons"] for b in builds),
        "knn.jobs_per_op": _mean(c["jobs"] for _, c in knn),
        "knn.s": _mean(o["wall"] for o, _ in knn),
        "tiles.s": _mean(o["wall"] for o in tiles),
        "tiles.pairs": _mean(o["rows_out"] for o in tiles),
        "cache.persisted_after_op": _mean(o["storage"][0] for o in traced),
        "cache.storage_mb": _mean(o["storage"][1] for o in traced),
        "stage.run_s": per_op("run_s"),
        "stage.jvm_cpu_s": per_op("cpu_s"),
        "stage.gc_s": per_op("gc_s"),
        "stage.tasks": per_op("tasks"),
        "stage.task_skew": _mean(o["task_skew"] for o in traced),
        "shuffle.write_bytes": per_op("shuffle_write"),
        "shuffle.read_bytes": per_op("shuffle_read"),
        "stage.spill_bytes": per_op("spill"),
        "trace.overhead": overhead(ops),
        "trace.span_coverage": _mean(o["coverage"] for o in traced),
        "trace.readout_errors": readout_errors,
    }
    return {k: (float(v), UNITS[k]) for k, v in out.items()}
