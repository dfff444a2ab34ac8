"""The three benchmark workloads, each a closed loop of public-API calls.

An op is one call into ``pyshp_spark``'s public API whose result is
fully materialized by one action: a count plus an integer checksum over
every output column (``oracle.py`` computes the same two numbers).
Each op wraps its steps in ``span(name)`` so a traced run can attribute
Spark jobs and wall time to them; untraced runs pass a no-op span.

Why each workload exists (see README.md for the layer map):
- pip_probe: index once, probe many -- worker kernel, cell encode and the
  Arrow return channel; no shuffle, no persist.  Its set-up ingests the
  polygon layer from shapefiles and builds the index, so ingest and
  build costs show in its set-up time.
- pip_skew: the partitioned, salted PIP path under a hot spot -- candidate
  join, WKB channel into the refine, salt and the shuffle persist.
- knn_tiles: kNN rounds with their persists and counts, and bbox tile
  assignment -- JVM-heavy, almost no Arrow traffic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle import KNN_K, id_checksum_sql, knn_checksum_sql, pair_checksum_sql
from pyshp_spark.functions.cells import Grid
from pyshp_spark.operators.opcache import release_operator_caches
from pyshp_spark.operators.spatial import (
    bbox_overlap_join,
    clear_polygon_index_cache,
    knn_join,
    point_in_polygon_join,
    spatial_anti_join,
)
from pyshp_spark.sources.shapefile import read_shapefiles

# 128 x 128 cells over the extent for PIP (fine cells keep candidate
# lists short); 16 x 16 for kNN and tiles, so that the first ring
# (3 x 3 cells, ~70 targets) resolves nearly every query
PIP_GRID = Grid(x0=0.0, y0=0.0, dx=7.8125, dy=7.8125, width=1 << 20)
KNN_GRID = Grid(x0=0.0, y0=0.0, dx=62.5, dy=62.5, width=1 << 20)
POLY_COLS = ["wkb", "xmin", "ymin", "xmax", "ymax", "oid"]
# explicit input schemas: the benchmark's own reads start no
# schema-inference job inside an op
SCHEMAS = {
    "points": "point_id long, x double, y double",
    "queries": "query_id long, x double, y double",
    "tiles": "tile_id long, rxmin double, rymin double, rxmax double, rymax double",
    "polygons": "oid long, cx double, cy double, r double, rin double, "
                "xmin double, ymin double, xmax double, ymax double, wkb binary",
}


class Workload:
    """Subclasses define ``prepare`` (the program's one-time set-up,
    timed once, cold, as part of ``setup_s``) and ``op(i, span)``, which returns
    ``(kind, oracle key, input rows, result frame, checksum column)``."""

    name = ""
    grid = PIP_GRID

    def __init__(self, spark, man: dict):
        self.spark = spark
        self.man = man
        self.batches = man["batches"]

    def read(self, path: str, kind: str = "points"):
        return self.spark.read.schema(SCHEMAS[kind]).parquet(path)

    def polygons(self):
        return self.read(self.man["polygons"], "polygons")

    def prepare(self, span) -> None:
        """Warm the session and build what the steady state keeps."""
        raise NotImplementedError

    def op(self, i: int, span):
        raise NotImplementedError


class PipProbe(Workload):
    """Alternates point_in_polygon_join and spatial_anti_join over fresh
    point batches against one polygon layer.  Set-up ingests the layer
    from shapefiles and builds its broadcast index (size probes, parse,
    collect); every op then finds the index in the cache."""

    name = "pip_probe"

    def prepare(self, span):
        clear_polygon_index_cache()
        with span("sources.read"):
            # one plan for every op: the index cache keys on it
            self.polys = read_shapefiles(self.spark, self.man["layer"])
        with span("prepare.index"):
            out = point_in_polygon_join(
                self.read(self.batches[0]["points"]), self.polys,
                grid=PIP_GRID, polygon_cols=["PID"],
                point_out_cols=["point_id"])
        with span("prepare.warm"):
            out.agg(F.count(F.lit(1))).collect()

    def op(self, i, span):
        b = i % len(self.batches)
        batch = self.batches[b]
        with span("input"):
            pts = self.read(batch["points"])
        if i % 2 == 0:
            with span("call"):
                out = point_in_polygon_join(
                    pts, self.polys, grid=PIP_GRID, polygon_cols=["PID"],
                    point_out_cols=["point_id"])
            return ("pip", ("pip", b), batch["rows"], out,
                    F.expr(pair_checksum_sql("point_id", "PID")))
        with span("call"):
            out = spatial_anti_join(pts, self.polys, grid=PIP_GRID,
                                    point_out_cols=["point_id"])
        return ("anti", ("anti", b), batch["rows"], out,
                F.expr(id_checksum_sql("point_id")))


class PipSkew(Workload):
    """The salted sort-merge PIP path on batches where about a quarter
    of the points share one coordinate."""

    name = "pip_skew"

    def __init__(self, spark, man):
        super().__init__(spark, man)
        # at the benchmark's sizes AQE would broadcast the point side and
        # coalesce the shuffle into one partition, skipping the
        # partitioned join (and its hot partition) this workload exists
        # to measure; turning both off emulates inputs too large for them
        for key in ("spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.adaptive.autoBroadcastJoinThreshold"):
            spark.conf.set(key, "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        self.polys = self.polygons().select(*POLY_COLS)

    def _join(self, pts):
        return point_in_polygon_join(
            pts, self.polys, grid=PIP_GRID, polygon_cols=["oid"],
            broadcast_polygons=False, salt_k=8, point_out_cols=["point_id"])

    def prepare(self, span):
        release_operator_caches("pip_shuffle")
        with span("prepare.warm"):
            self._join(self.read(self.batches[0]["points"])).agg(
                F.count(F.lit(1))).collect()

    def op(self, i, span):
        b = i % len(self.batches)
        batch = self.batches[b]
        with span("input"):
            pts = self.read(batch["points"])
        with span("call"):
            out = self._join(pts)
        return ("pip", ("pip", b), batch["rows"], out,
                F.expr(pair_checksum_sql("point_id", "oid")))


class KnnTiles(Workload):
    """Alternates knn_join (queries vs polygon centroids) and
    bbox_overlap_join (raster tiles vs polygon bboxes)."""

    name = "knn_tiles"
    grid = KNN_GRID

    def __init__(self, spark, man):
        super().__init__(spark, man)
        polys = self.polygons()
        self.targets = polys.select("oid", F.col("cx").alias("x"), F.col("cy").alias("y"))
        self.boxes = polys.select("oid", "xmin", "ymin", "xmax", "ymax")

    def _knn(self, q):
        return knn_join(
            q, self.targets, k=KNN_K, grid=KNN_GRID, query_id="query_id",
            target_cols=["oid", "x", "y"], tie_break="oid",
        ).select("query_id", "oid", "knn_rank")

    def _tiles(self, t):
        return bbox_overlap_join(t, self.boxes, grid=KNN_GRID,
                                 out_cols=["tile_id", "oid"])

    def prepare(self, span):
        release_operator_caches("knn_join")
        with span("prepare.warm"):
            self._knn(self.read(self.batches[0]["queries"], "queries")).agg(
                F.count(F.lit(1))).collect()
            self._tiles(self.read(self.batches[0]["tiles"], "tiles")).agg(
                F.count(F.lit(1))).collect()

    def op(self, i, span):
        b = i % len(self.batches)
        batch = self.batches[b]
        if i % 2 == 0:
            with span("input"):
                q = self.read(batch["queries"], "queries")
            with span("call"):
                out = self._knn(q)
            return ("knn", ("knn", b), batch["rows"]["queries"], out,
                    F.expr(knn_checksum_sql("query_id", "oid", "knn_rank")))
        with span("input"):
            t = self.read(batch["tiles"], "tiles")
        with span("call"):
            out = self._tiles(t)
        return ("tiles", ("tiles", b), batch["rows"]["tiles"], out,
                F.expr(pair_checksum_sql("tile_id", "oid")))


WORKLOADS = {w.name: w for w in (PipProbe, PipSkew, KnnTiles)}
