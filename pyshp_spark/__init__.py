"""pyshp_spark — a PySpark-native spatial-join + tiling engine.

Brand-new engine (NOT a port) with the query/data-processing capabilities of
GeospatialPython/pyshp (reference at /root/reference, read-only), re-expressed
Spark-first:

- shapefile geometry *semantics* (points / polylines / polygons with
  CW-exterior/CCW-hole rings; reference src/shapefile.py:65-114, 816-1102)
  ingested into DataFrames of WKB + bbox columns,
- grid cell covers for filter-refine spatial joins,
- vectorized Arrow/pandas UDF kernels (no per-row Python),
- point-in-polygon / kNN / raster-tile assignment joins,
- training-data pipeline operators (dedup, similarity search, text analysis,
  multimodal plumbing) over document/embedding tables,
- skew salting + per-partition lineage checkpointing.

Layout:
  kernels/    numpy geometry kernels (signed area, ray-cast PIP, ring
              organization, WKB codec) — driver/UDF-side, no Spark dep
  sources/    shapefile (.shp/.dbf) ingest -> DataFrame
  functions/  Column-expression helpers (bbox predicates, cells, tiles)
  operators/  DataFrame-level operators (spatial joins, dedup, ANN, text)
  plans/      salting planner, lineage checkpoint
  fixtures/   deterministic synthetic data generators (polygons, images)
  worker_setup.py  once-per-Python-worker set-up (pins Spark's zip
              archives against per-task import-cache invalidation)
"""

from pyshp_spark.worker_setup import setup_worker as _setup_worker

__version__ = "0.1.0"

_setup_worker()
