"""Kernel microbenchmarks on arrays drawn from the workload's own inputs.

These time the numpy kernels the Spark operators run inside their Python
workers, outside Spark, so a kernel change shows as a per-pair or
per-polygon cost independent of scheduling and Arrow traffic.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow.parquet as pq

from pyshp_spark.kernels.rings import pip_pairs, pip_pairs_flat, rings_to_edges, stack_edges
from pyshp_spark.kernels.wkb import wkb_rings

MAX_POINTS = 2000  # sampled points for the pair set
REPS = 5


def _median_wall(fn) -> float:
    """Median wall of REPS calls (the first one warms caches)."""
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return float(np.median(walls))


def _points(man: dict) -> tuple[np.ndarray, np.ndarray]:
    b = man["batches"][0]
    t = pq.read_table(b.get("points") or b["queries"], columns=["x", "y"])
    return t.column("x").to_numpy(), t.column("y").to_numpy()


def kernel_metrics(man: dict, grid) -> dict[str, float]:
    polys = pq.read_table(man["polygons"],
                          columns=["wkb", "xmin", "ymin", "xmax", "ymax"])
    wkbs = polys.column("wkb").to_pylist()
    bb = np.column_stack([polys.column(c).to_numpy()
                          for c in ("xmin", "ymin", "xmax", "ymax")])
    px, py = _points(man)

    encode = _median_wall(lambda: grid.cell_np(px, py)) / len(px)
    edges = [rings_to_edges(wkb_rings(w)) for w in wkbs]
    to_edges = _median_wall(lambda: [rings_to_edges(wkb_rings(w)) for w in wkbs]) / len(wkbs)

    # candidate pairs: sampled points x polygons whose bbox holds them
    sx, sy = px[:MAX_POINTS], py[:MAX_POINTS]
    hit = ((bb[None, :, 0] <= sx[:, None]) & (sx[:, None] <= bb[None, :, 2])
           & (bb[None, :, 1] <= sy[:, None]) & (sy[:, None] <= bb[None, :, 3]))
    pi, codes = np.nonzero(hit)
    qx, qy = sx[pi], sy[pi]
    all_edges, offsets = stack_edges(edges)
    n = max(len(codes), 1)
    flat = _median_wall(lambda: pip_pairs_flat(all_edges, offsets, codes, qx, qy)) / n
    listed = _median_wall(lambda: pip_pairs(edges, codes, qx, qy)) / n
    return {
        "cells.encode_ns_per_point": encode * 1e9,
        "kernels.wkb_to_edges_us_per_polygon": to_edges * 1e6,
        "kernels.pip_pairs_flat_ns_per_pair": flat * 1e9,
        "kernels.pip_pairs_ns_per_pair": listed * 1e9,
    }
