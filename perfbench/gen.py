"""Seeded input generator for the spatial-engine benchmark.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files.  Geometry lives on the integer lattice so the SQL
mirrors in ``oracle.py`` are exact inequalities:

- polygons are diamonds ``|x-cx| + |y-cy| < r`` (CW exterior) and
  diamond annuli ``rin < |x-cx| + |y-cy| < r`` (CW exterior, CCW hole),
  with integer centre and radii;
- points sit at ``(i + 0.25, j + 0.1)``: ``|dx| + |dy|`` then has
  fractional part .15/.35/.65/.85, so no point lies on an edge and no
  ray passes through a vertex, and the ray-cast and the inequality agree.

Files go under ``<workdir>``: parquet for polygons, points, queries and
tiles, and for ``pip_probe`` also the polygon layer as a directory of
shapefiles (written by ``sources.shp_writer``), which its set-up ingests.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXTENT = 1000  # coordinates lie in [0, EXTENT)
PX_OFF, PY_OFF = 0.25, 0.1  # point offsets off the lattice
QX_OFF, QY_OFF = 0.5, 0.5  # kNN query offsets
TILE = 15.625  # raster tile edge (64 x 64 tiles over the extent)

# the sizes each workload generates; ``scale`` shrinks them for the
# self-test.  Op counts above the batch count reuse batches in rotation.
SIZES = {
    "pip_probe": dict(polygons=1000, batches=8, batch_rows=10_000),
    # python_run_s hardly grows from 6k to 60k points per batch (the
    # refine's per-task cost dominates); 60k keeps the candidate join and
    # the hot partition as large as the run's time allows
    "pip_skew": dict(polygons=1000, batches=4, batch_rows=60_000,
                     hot_frac=0.25),
    # 2,000 targets: about 24 lie within the first kNN ring's radius
    "knn_tiles": dict(polygons=2000, batches=8, queries=100, tiles=2_000),
}
POINT_FILES = 4  # files per point batch: one scan task each
LAYER_FILES = 2  # shapefiles in pip_probe's polygon layer
ANNULUS_FRAC = 0.25  # share of polygons with a hole
HOT = (500.0, 500.0, 10.0)  # pip_skew's hot diamond: centre x, y, radius
HOT_SHIFT = 200.0  # polygons near it move this far along x


def sizes(workload: str, scale: float) -> dict:
    out = {}
    for k, v in SIZES[workload].items():
        keep = k in ("batches", "hot_frac")
        out[k] = v if keep else max(8, int(v * scale))
    return out


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# ------------------------------------------------------------ polygons ----


def diamonds(rng, n: int) -> dict:
    """n diamonds/annuli (oids 0..n-1) with integer centres in [20, 980)
    and radii 3..15; an annulus hole has radius rin in [1, r-2], else
    rin = 0."""
    cx = rng.integers(20, EXTENT - 20, n).astype(np.float64)
    cy = rng.integers(20, EXTENT - 20, n).astype(np.float64)
    r = rng.integers(3, 16, n).astype(np.float64)
    hole = rng.random(n) < ANNULUS_FRAC
    rin = np.where(hole, np.floor(rng.random(n) * (r - 2)) + 1, 0.0)
    return {
        "oid": np.arange(n, dtype=np.int64),
        "cx": cx, "cy": cy, "r": r, "rin": rin,
        "xmin": cx - r, "ymin": cy - r, "xmax": cx + r, "ymax": cy + r,
    }


def diamond_ring(cx: float, cy: float, r: float, cw: bool = True) -> np.ndarray:
    """Closed 5-vertex diamond ring; top -> right -> bottom -> left is
    clockwise, the reverse counter-clockwise."""
    ring = [(cx, cy + r), (cx + r, cy), (cx, cy - r), (cx - r, cy)]
    if not cw:
        ring = ring[::-1]
    ring.append(ring[0])
    return np.asarray(ring, dtype=np.float64)


def polygon_rings(g: dict, i: int) -> list[np.ndarray]:
    rings = [diamond_ring(g["cx"][i], g["cy"][i], g["r"][i])]
    if g["rin"][i] > 0:
        rings.append(diamond_ring(g["cx"][i], g["cy"][i], g["rin"][i], cw=False))
    return rings


def _wkb(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for ring in rings:
        out.append(struct.pack("<I", len(ring)))
        out.append(np.ascontiguousarray(ring, dtype="<f8").tobytes())
    return b"".join(out)


def polygon_table(g: dict) -> pa.Table:
    wkb = [_wkb(polygon_rings(g, i)) for i in range(len(g["oid"]))]
    cols = {k: g[k] for k in ("oid", "cx", "cy", "r", "rin",
                              "xmin", "ymin", "xmax", "ymax")}
    cols["wkb"] = pa.array(wkb, type=pa.binary())
    return pa.table(cols)


# -------------------------------------------------------------- points ----


def points(rng, n: int, id0: int, hot: tuple[float, float] | None,
           hot_frac: float) -> dict:
    x = rng.integers(0, EXTENT, n) + PX_OFF
    y = rng.integers(0, EXTENT, n) + PY_OFF
    if hot is not None:
        on_hot = rng.random(n) < hot_frac
        x = np.where(on_hot, hot[0], x)
        y = np.where(on_hot, hot[1], y)
    return {"point_id": np.arange(id0, id0 + n, dtype=np.int64), "x": x, "y": y}


def queries(rng, n: int, id0: int) -> dict:
    """Queries keep 100 units from the extent's edge: there every query
    has its k nearest targets within the first kNN ring (about 24
    expected), so each op runs the same number of rounds."""
    return {
        "query_id": np.arange(id0, id0 + n, dtype=np.int64),
        "x": rng.integers(100, EXTENT - 100, n) + QX_OFF,
        "y": rng.integers(100, EXTENT - 100, n) + QY_OFF,
    }


def tiles(rng, n: int, id0: int) -> dict:
    tx = rng.integers(0, 64, n).astype(np.float64)
    ty = rng.integers(0, 64, n).astype(np.float64)
    return {
        "tile_id": np.arange(id0, id0 + n, dtype=np.int64),
        "rxmin": tx * TILE, "rymin": ty * TILE,
        "rxmax": (tx + 1) * TILE, "rymax": (ty + 1) * TILE,
    }


def _write_split(cols: dict, path: str) -> None:
    """One directory per batch, ``POINT_FILES`` parquet files in it, so
    a Spark scan of the batch has that many tasks."""
    os.makedirs(path, exist_ok=True)
    t = pa.table(cols)
    step = -(-t.num_rows // POINT_FILES)
    for k in range(POINT_FILES):
        pq.write_table(t.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))


# -------------------------------------------------------------- layers ----


def write_layer(g: dict, path: str) -> None:
    """A shapefile layer: ``LAYER_FILES`` .shp/.shx/.dbf triples (one
    ingest task each), attribute PID carrying the polygon id."""
    from pyshp_spark.sources.shapefile import POLYGON
    from pyshp_spark.sources.shp_writer import write_dbf, write_shp

    os.makedirs(path, exist_ok=True)
    n = len(g["oid"])
    step = -(-n // LAYER_FILES)
    for k in range(LAYER_FILES):
        idx = range(k * step, min(n, (k + 1) * step))
        shp, shx = write_shp([(POLYGON, polygon_rings(g, i)) for i in idx])
        dbf = write_dbf([("PID", "N", 10, 0)], [[int(g["oid"][i])] for i in idx])
        base = os.path.join(path, f"part{k}")
        for ext, data in ((".shp", shp), (".shx", shx), (".dbf", dbf)):
            with open(base + ext, "wb") as f:
                f.write(data)


# --------------------------------------------------------------- entry ----


def place_hot_diamond(g: dict) -> tuple[float, float]:
    """Make polygon 0 the plain diamond ``HOT`` and move every other
    polygon whose bbox meets its bbox ``HOT_SHIFT`` units along x; return
    the hot point, next to the centre (|dx|+|dy| = 0.35 < r).  The hot
    point then lies in exactly one bbox, in the same grid cell for every
    seed, so each hot row makes one candidate pair and the hot cell's
    salted keys fall in the same shuffle partitions whatever the seed."""
    cx, cy, r = HOT
    g["cx"][0], g["cy"][0], g["r"][0], g["rin"][0] = cx, cy, r, 0.0
    near = ((g["cx"] - g["r"] <= cx + r) & (cx - r <= g["cx"] + g["r"])
            & (g["cy"] - g["r"] <= cy + r) & (cy - r <= g["cy"] + g["r"]))
    near[0] = False
    g["cx"][near] += HOT_SHIFT
    g["xmin"], g["ymin"] = g["cx"] - g["r"], g["cy"] - g["r"]
    g["xmax"], g["ymax"] = g["cx"] + g["r"], g["cy"] + g["r"]
    return cx + PX_OFF, cy + PY_OFF


def generate(workload: str, seed: int, workdir: str, scale: float) -> dict:
    """Write the workload's inputs under ``workdir``; return a manifest
    (paths and sizes) the workloads and the oracle read."""
    s = sizes(workload, scale)
    os.makedirs(workdir, exist_ok=True)
    man = {"workload": workload, "seed": seed, "sizes": s, "dir": workdir}
    g = diamonds(_rng(seed, 1), s["polygons"])
    hot = place_hot_diamond(g) if workload == "pip_skew" else None
    pq.write_table(polygon_table(g), os.path.join(workdir, "polygons.parquet"))
    man["polygons"] = os.path.join(workdir, "polygons.parquet")
    if workload == "pip_probe":
        man["layer"] = os.path.join(workdir, "layer")
        write_layer(g, man["layer"])
    rng = _rng(seed, 2)
    man["batches"] = []
    for b in range(s["batches"]):
        path = os.path.join(workdir, f"batch{b}")
        if workload == "knn_tiles":
            _write_split(queries(rng, s["queries"], b * s["queries"]), path + "_q")
            _write_split(tiles(rng, s["tiles"], b * s["tiles"]), path + "_t")
            man["batches"].append({"queries": path + "_q", "tiles": path + "_t",
                                   "rows": {"queries": s["queries"],
                                            "tiles": s["tiles"]}})
            continue
        n = s["batch_rows"]
        _write_split(points(rng, n, b * n, hot, s.get("hot_frac", 0.0)), path)
        man["batches"].append({"points": path, "rows": n})
    return man
