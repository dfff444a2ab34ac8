"""Driver contract for the spark-graft builder (PySpark target).

Maps SURVEY.md §2 operators onto the driver-provided TPC-H-ish tables:
geometry is derived DETERMINISTICALLY from table keys (integer-modulo
plane coordinates on [0,1000)^2) so every spatial operator has an exact
ANSI-SQL oracle DuckDB can run on the same parquet — including the
ray-cast point-in-polygon join, whose polygons are diamonds
|x-cx|+|y-cy|<r (non-axis-aligned edges exercise the real crossing
kernel, while the SQL mirror is a pure inequality).  Coordinate offsets
(0.25/0.1/0.5) guarantee no point ever lies on a polygon boundary or
vertex ray, so ray-cast and inequality agree exactly.

Sketches are built on a batch-vectorized polynomial base hash (Horner
fold + xorshift64*-style finalizer) so even the MinHash/SimHash
signature AND near-dup-pair pipelines have exact DuckDB mirrors
(HUGEINT mod-2^64 arithmetic); the rolling-hash fingerprint mirrors as
a Horner reduction over utf-8 bytes; the GeoJSON export string is
assembled byte-for-byte in SQL.  The two ANN probes (lsh_ann, ivf_ann)
and the LSH-blocked embedding dedup use deterministic integer ±1
hyperplanes / integer-dot coarse quantizers over floor(x*1000+0.5)-
quantized embeddings, so bucket bits and list assignments are exact
integer arithmetic with full DuckDB mirrors — every query in
``queries()`` has a value-hash oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import BinaryType  # noqa: E402

from pyshp_spark.functions.cells import Grid  # noqa: E402
from pyshp_spark.functions.geojson import geojson_udf  # noqa: E402
from pyshp_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_dedup_pairs,
    neardup_keepers_sql,
    minhash_pairs_sql,
    minhash_sig0_sql,
    minhash_udf,
    simhash_dedup_pairs,
    simhash_pairs_sql,
    simhash_sql,
    simhash_udf,
    token_jaccard_pairs,
)
from pyshp_spark.operators.similarity import (  # noqa: E402
    cosine_topk_brute,
    embedding_dedup_sql,
    ivf_ann_sql,
    ivf_topk,
    lsh_ann_sql,
    lsh_topk,
)
from pyshp_spark.operators.spatial import (  # noqa: E402
    bbox_overlap_join,
    knn_join,
    point_in_polygon_join,
    spatial_anti_join,
    spatial_semi_join,
)
from pyshp_spark.operators.text import (  # noqa: E402
    bpe_token_count_expr,
    bpe_token_count_sql,
    lang_id_sql,
    quality_sql_columns,
    token_count_expr,
    with_fingerprint,
    with_lang_id,
    with_text_quality,
)

# plane grid: 128x128 cells over [0,1000)^2; 1000/128 = 7.8125 exact binary
# (PIP filter selectivity wants fine cells; kNN/tile-overlap want coarser
# cells so one neighbor ring already holds enough candidates)
ENTRY_GRID = Grid(x0=0.0, y0=0.0, dx=7.8125, dy=7.8125, width=1 << 20)
COARSE_GRID = Grid(x0=0.0, y0=0.0, dx=15.625, dy=15.625, width=1 << 20)

# ---------------------------------------------------------------------------
# derived inputs (Spark side) — formulas mirrored EXACTLY in the SQL oracles
# ---------------------------------------------------------------------------


def _pts(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """Points from lineitem: one per line item, lattice + fixed offsets.

    The testdata parquet is a single row group (unsplittable scan), so
    ``spread`` repartitions the probe side across the cluster for the
    compute-heavy operators — at real scale the many-row-group input
    makes this unnecessary.  4x cores (not 1x) so one straggler task on
    the shared host cannot set the stage wall.  Cheap scan-shaped
    queries pass False and keep the single-pass pipeline."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if spread:
        li = li.repartition(4 * spark.sparkContext.defaultParallelism)
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("point_id"),
        (((F.col("l_partkey") * 7) % 1000).cast("double") + F.lit(0.25)).alias("x"),
        (((F.col("l_suppkey") * 13) % 1000).cast("double") + F.lit(0.1)).alias("y"),
    )


_PTS_SQL = """
SELECT l_orderkey * 10 + l_linenumber AS point_id,
       CAST((l_partkey * 7) % 1000 AS DOUBLE) + 0.25 AS x,
       CAST((l_suppkey * 13) % 1000 AS DOUBLE) + 0.1 AS y
FROM lineitem
"""


def _diamonds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diamond polygons from part: center lattice + integer radius."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    d = p.select(
        F.col("p_partkey").alias("oid"),
        F.col("p_brand").alias("brand"),
        (((F.col("p_partkey") * 37) % 960).cast("double") + F.lit(20.0)).alias("cx"),
        (((F.col("p_partkey") * 91) % 960).cast("double") + F.lit(20.0)).alias("cy"),
        ((F.col("p_partkey") % 13) + 3).cast("double").alias("r"),
    )
    return d.select(
        "oid",
        "brand",
        "cx",
        "cy",
        "r",
        (F.col("cx") - F.col("r")).alias("xmin"),
        (F.col("cy") - F.col("r")).alias("ymin"),
        (F.col("cx") + F.col("r")).alias("xmax"),
        (F.col("cy") + F.col("r")).alias("ymax"),
    )


_DIAMONDS_SQL = """
SELECT p_partkey AS oid,
       p_brand AS brand,
       CAST((p_partkey * 37) % 960 AS DOUBLE) + 20.0 AS cx,
       CAST((p_partkey * 91) % 960 AS DOUBLE) + 20.0 AS cy,
       CAST((p_partkey % 13) + 3 AS DOUBLE) AS r,
       CAST((p_partkey * 37) % 960 AS DOUBLE) + 20.0 - (CAST((p_partkey % 13) + 3 AS DOUBLE)) AS xmin,
       CAST((p_partkey * 91) % 960 AS DOUBLE) + 20.0 - (CAST((p_partkey % 13) + 3 AS DOUBLE)) AS ymin,
       CAST((p_partkey * 37) % 960 AS DOUBLE) + 20.0 + (CAST((p_partkey % 13) + 3 AS DOUBLE)) AS xmax,
       CAST((p_partkey * 91) % 960 AS DOUBLE) + 20.0 + (CAST((p_partkey % 13) + 3 AS DOUBLE)) AS ymax
FROM part
"""


def _diamond_wkb(df: DataFrame, ccw: bool = False) -> DataFrame:
    """Attach real polygon WKB (4-vertex diamond; CW exterior by
    default, ``ccw=True`` for hole rings) so joins exercise the actual
    ray-cast refine kernel.  Assembly is fully vectorized: one
    (n, 93)-byte buffer per Arrow batch instead of a per-row pack
    loop."""

    @F.pandas_udf(BinaryType())
    def mk(cx: pd.Series, cy: pd.Series, r: pd.Series) -> pd.Series:
        import numpy as np  # noqa: PLC0415

        a = cx.to_numpy(dtype=np.float64)
        b = cy.to_numpy(dtype=np.float64)
        c = r.to_numpy(dtype=np.float64)
        n = len(a)
        coords = np.empty((n, 5, 2), dtype="<f8")
        # top -> right -> bottom -> left is clockwise; ccw reverses
        order = (0, 3, 2, 1) if ccw else (0, 1, 2, 3)
        verts = [(a, b + c), (a + c, b), (a, b - c), (a - c, b)]
        for slot, vi in enumerate(order):
            coords[:, slot, 0] = verts[vi][0]
            coords[:, slot, 1] = verts[vi][1]
        coords[:, 4, 0] = coords[:, 0, 0]; coords[:, 4, 1] = coords[:, 0, 1]
        # 1-byte LE flag + Polygon(3) + numRings(1) + numPoints(5)
        prefix = np.frombuffer(
            b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00", dtype=np.uint8
        )
        buf = np.empty((n, 13 + 80), dtype=np.uint8)
        buf[:, :13] = prefix
        buf[:, 13:] = coords.reshape(n, 10).view(np.uint8)
        raw = buf.tobytes()  # hoisted: ONE copy per batch, then sliced
        return pd.Series([raw[i * 93 : (i + 1) * 93] for i in range(n)])

    return df.withColumn("wkb", mk(F.col("cx"), F.col("cy"), F.col("r")))


def _qpts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN query points from customer (1 in 15)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return c.where((F.col("c_custkey") % 15) == 0).select(
        F.col("c_custkey").alias("query_id"),
        (((F.col("c_custkey") * 29) % 1000).cast("double") + F.lit(0.5)).alias("x"),
        (((F.col("c_custkey") * 53) % 1000).cast("double") + F.lit(0.5)).alias("y"),
    )


_QPTS_SQL = """
SELECT c_custkey AS query_id,
       CAST((c_custkey * 29) % 1000 AS DOUBLE) + 0.5 AS x,
       CAST((c_custkey * 53) % 1000 AS DOUBLE) + 0.5 AS y
FROM customer
WHERE (c_custkey % 15) = 0
"""


def _tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tiles from events: 64x64 plane tiles of size 15.625."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = e.select(
        F.col("event_id").alias("tile_id"),
        (F.col("event_id") % 64).cast("int").alias("tile_x"),
        ((F.col("event_id") * 31) % 64).cast("int").alias("tile_y"),
    )
    return t.select(
        "tile_id",
        "tile_x",
        "tile_y",
        (F.col("tile_x").cast("double") * 15.625).alias("rxmin"),
        (F.col("tile_y").cast("double") * 15.625).alias("rymin"),
        ((F.col("tile_x") + 1).cast("double") * 15.625).alias("rxmax"),
        ((F.col("tile_y") + 1).cast("double") * 15.625).alias("rymax"),
    )


_TILES_SQL = """
SELECT event_id AS tile_id,
       CAST(event_id % 64 AS INTEGER) AS tile_x,
       CAST((event_id * 31) % 64 AS INTEGER) AS tile_y,
       CAST(event_id % 64 AS DOUBLE) * 15.625 AS rxmin,
       CAST((event_id * 31) % 64 AS DOUBLE) * 15.625 AS rymin,
       CAST(event_id % 64 + 1 AS DOUBLE) * 15.625 AS rxmax,
       CAST((event_id * 31) % 64 + 1 AS DOUBLE) * 15.625 AS rymax
FROM events
"""

_CELL_SQL = (
    "(CAST(floor(x / 7.8125) AS BIGINT)"
    " + CAST(floor(y / 7.8125) AS BIGINT) * 1048576)"
)

# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

QUERY_BBOX = (100.5, 200.5, 300.25, 400.75)


def q_bbox_filter(spark, sf_dir):
    x0, y0, x1, y1 = QUERY_BBOX
    return _pts(spark, sf_dir, spread=False).where(
        (F.col("x") >= x0) & (F.col("x") <= x1)
        & (F.col("y") >= y0) & (F.col("y") <= y1)
    )


def q_cell_count(spark, sf_dir):
    # spread=False: a groupBy's map-side partial agg reduces rows before
    # the (single, hash-partitioned) exchange — a round-robin repartition
    # ahead of it is a second full shuffle for nothing
    pts = _pts(spark, sf_dir, spread=False)
    return (
        pts.withColumn("cell", ENTRY_GRID.cell_expr(F.col("x"), F.col("y")))
        .groupBy("cell")
        .agg(F.count("*").alias("n_points"))
    )


def q_extent_agg(spark, sf_dir):
    return (
        _diamonds(spark, sf_dir)
        .groupBy("brand")
        .agg(
            F.min("xmin").alias("ext_xmin"),
            F.min("ymin").alias("ext_ymin"),
            F.max("xmax").alias("ext_xmax"),
            F.max("ymax").alias("ext_ymax"),
            F.count("*").alias("n_shapes"),
        )
    )


def q_pip_join(spark, sf_dir):
    pts = _pts(spark, sf_dir)
    dia = _diamond_wkb(_diamonds(spark, sf_dir))
    # point_out_cols: coords are refine INPUTS only — not shipping them
    # back through Arrow trims the return channel (guide §4.1)
    out = point_in_polygon_join(
        pts, dia, x="x", y="y", grid=ENTRY_GRID, polygon_cols=["oid"],
        point_out_cols=["point_id"],
    )
    return out.select("point_id", "oid")


def _pts_skewed(spark, sf_dir):
    """Adversarially skewed probe: every order's line 1 (~25% of rows)
    lands on ONE hot point (500.25, 500.1) — a single grid cell holds a
    quarter of the probe side."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(
        4 * spark.sparkContext.defaultParallelism
    )
    hot = F.col("l_linenumber") == 1
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("point_id"),
        F.when(hot, F.lit(500.25)).otherwise(
            ((F.col("l_partkey") * 7) % 1000).cast("double") + F.lit(0.25)
        ).alias("x"),
        F.when(hot, F.lit(500.1)).otherwise(
            ((F.col("l_suppkey") * 13) % 1000).cast("double") + F.lit(0.1)
        ).alias("y"),
    )


_PTS_SKEWED_SQL = """
SELECT l_orderkey * 10 + l_linenumber AS point_id,
       CASE WHEN l_linenumber = 1 THEN 500.25
            ELSE CAST((l_partkey * 7) % 1000 AS DOUBLE) + 0.25 END AS x,
       CASE WHEN l_linenumber = 1 THEN 500.1
            ELSE CAST((l_suppkey * 13) % 1000 AS DOUBLE) + 0.1 END AS y
FROM lineitem
"""


def q_pip_skew(spark, sf_dir):
    # pins the SALTED PARTITIONED PIP path in the oracle gate (every
    # other spatial entry auto-picks the broadcast index): one cogroup
    # by (cell, salt) bucket, the hot cell spread over 8 buckets, the
    # index path's exact ray-cast kernel per bucket.
    pts = _pts_skewed(spark, sf_dir)
    dia = _diamond_wkb(_diamonds(spark, sf_dir))
    out = point_in_polygon_join(
        pts, dia, x="x", y="y", grid=ENTRY_GRID, polygon_cols=["oid"],
        broadcast_polygons=False, salt_k=8, point_out_cols=["point_id"],
    )
    return out.select("point_id", "oid")


def q_spatial_semi(spark, sf_dir):
    pts = _pts(spark, sf_dir)
    dia = _diamond_wkb(_diamonds(spark, sf_dir))
    # point_id is not unique across lineitem rows (orderkey*10+linenumber
    # can collide), so dedup on the id itself to match DISTINCT point_id
    return (
        spatial_semi_join(pts, dia, x="x", y="y", grid=ENTRY_GRID)
        .select("point_id")
        .distinct()
    )


def q_spatial_anti(spark, sf_dir):
    pts = _pts(spark, sf_dir)
    dia = _diamond_wkb(_diamonds(spark, sf_dir))
    return spatial_anti_join(
        pts, dia, x="x", y="y", grid=ENTRY_GRID, point_out_cols=["point_id"]
    ).select("point_id")


def q_knn(spark, sf_dir):
    # deliberately exercises knn_join's cell-expansion search (not
    # knn_brute, whose broadcast crossJoin+window took 40 s at sf0.1);
    # the diamonds fit the broadcast guard, so it runs on the cached
    # target index — the gate then value-checks it against the SQL
    # brute oracle
    q = _qpts(spark, sf_dir)
    t = _diamonds(spark, sf_dir).select("oid", F.col("cx").alias("x"), F.col("cy").alias("y"))
    out = knn_join(
        q, t, k=5, grid=COARSE_GRID, query_id="query_id",
        target_cols=["oid", "x", "y"], tie_break="oid",
    )
    return out.select("query_id", "oid", "dist2", F.col("knn_rank").alias("rank"))


def q_tile_assign(spark, sf_dir):
    # the events parquet is a single row group: spread the probe side so
    # the explode + broadcast join + filter run on every core instead of
    # one task (see _pts docstring)
    tiles = _tiles(spark, sf_dir).repartition(
        4 * spark.sparkContext.defaultParallelism
    )
    dia = _diamonds(spark, sf_dir)
    out = bbox_overlap_join(
        tiles.select("tile_id", "rxmin", "rymin", "rxmax", "rymax"),
        dia.select("oid", "xmin", "ymin", "xmax", "ymax"),
        grid=COARSE_GRID,
        out_cols=["tile_id", "oid"],
    )
    return out


def q_tile_pyramid(spark, sf_dir):
    # quadtree tile-pyramid rollup (the tile-serving / density-map
    # cascade for a tile-georeferenced image corpus): per-tile counts
    # at zooms 6..0, one corpus scan, coarser zooms re-aggregate the
    # previous level — operators/spatial.py tile_pyramid
    from pyshp_spark.operators.spatial import tile_pyramid  # noqa: PLC0415

    t = _tiles(spark, sf_dir)
    return tile_pyramid(t, tx="tile_x", ty="tile_y", zoom_max=6, zoom_min=0)


def q_zonal_stats(spark, sf_dir):
    # raster→vector zonal statistics: per-polygon aggregates of
    # point-carried values straight off the PIP join (join output
    # pipelines into map-side partial aggs, never materialized).
    # The value column is INTEGER (l_quantity is integral) so sum/min/
    # max are exact on both engines; avg is intentionally left out of
    # the gate projection (float accumulation order differs between
    # engines)
    from pyshp_spark.operators.spatial import zonal_stats  # noqa: PLC0415

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # testdata parquet is a single row group: without the repartition the
    # ENTIRE refine + partial agg runs in ONE task (see _pts docstring);
    # 4x cores so a straggler cannot set the stage wall
    li = li.repartition(4 * spark.sparkContext.defaultParallelism)
    pts = li.select(
        (((F.col("l_partkey") * 7) % 1000).cast("double") + F.lit(0.25)).alias("x"),
        (((F.col("l_suppkey") * 13) % 1000).cast("double") + F.lit(0.1)).alias("y"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    dia = _diamond_wkb(_diamonds(spark, sf_dir))
    out = zonal_stats(
        pts, dia, value_cols=["qty"], grid=ENTRY_GRID, polygon_cols=["oid"]
    )
    return out.select("oid", "n_points", "qty_sum", "qty_min", "qty_max")


def q_poly_contains(spark, sf_dir):
    # distributed polygon⋈polygon assignment (the reference's
    # hole→exterior logic, sf.py:977-1102, lifted to a join): each
    # inner polygon's deterministic ring_sample interior point —
    # computed from the REAL WKB by the parity kernel — probes the
    # outer set through the PIP join.  Inner set keeps only r % 3 != 0
    # so the sample point (exact-integer (3cx+r)/3 arithmetic on both
    # engines) sits >= 1/3 away from every outer boundary — ray-cast
    # and the SQL inequality cannot disagree.
    from pyshp_spark.operators.geometry import with_ring_sample  # noqa: PLC0415

    dia = _diamond_wkb(_diamonds(spark, sf_dir))
    inner = dia.where(((F.col("oid") % 13) + 3) % 3 != 0)
    samp = with_ring_sample(
        inner.select(F.col("oid").alias("inner_oid"), "wkb")
    ).drop("wkb")
    out = point_in_polygon_join(
        samp, dia, x="sx", y="sy", grid=ENTRY_GRID,
        point_cols=["inner_oid", "sx", "sy"], polygon_cols=["oid"],
        point_out_cols=["inner_oid"],
    )
    return out.where(F.col("inner_oid") != F.col("oid")).select(
        "inner_oid", F.col("oid").alias("outer_oid")
    )


def q_hole_assign(spark, sf_dir):
    """Distributed hole→exterior assignment (reference
    organize_polygon_rings, sf.py:977-1102, as one Arrow pass over
    whole shapes): each part row becomes one 5-ring shape — two
    nested CW exteriors (min-|2A| tie-break), a both-contained CCW
    hole (bbox prefilter -> ray-cast refine -> smallest-area winner),
    a single-bbox-candidate CCW hole (assigned WITHOUT the ray-cast,
    reference parity), and an
    out-of-bbox orphan hole (promoted).  Winding is classified from the
    REAL ring WKB; the oracle re-derives the expected assignment from
    the generating center/radius arithmetic."""
    from pyshp_spark.operators.spatial import assign_holes_distributed  # noqa: PLC0415

    d = _diamonds(spark, sf_dir).select("oid", "cx", "cy", "r")

    def ring(idx, cx, cy, r, ccw):
        rr = d.select(
            F.col("oid").alias("shape_id"),
            F.lit(idx).cast("int").alias("ring_idx"),
            cx.alias("cx"), cy.alias("cy"), r.alias("r"),
        )
        rr = _diamond_wkb(rr, ccw=ccw)
        return rr.select(
            "shape_id", "ring_idx", "wkb",
            (F.col("cx") - F.col("r")).alias("xmin"),
            (F.col("cy") - F.col("r")).alias("ymin"),
            (F.col("cx") + F.col("r")).alias("xmax"),
            (F.col("cy") + F.col("r")).alias("ymax"),
        )

    cx, cy, r = F.col("cx"), F.col("cy"), F.col("r")
    rings = (
        ring(0, cx, cy, r, False)
        .unionByName(ring(1, cx, cy, r - 1, False))
        .unionByName(ring(2, cx, cy, F.lit(0.5), True))
        .unionByName(ring(3, cx + r - 0.6, cy, F.lit(0.3), True))
        .unionByName(ring(4, cx + r + 2.0, cy, F.lit(0.3), True))
    )
    out = assign_holes_distributed(rings)
    return out.select(
        "shape_id", "ring_idx", "role",
        F.col("parent_idx").cast("int").alias("parent_idx"),
    )


def q_count_extent(spark, sf_dir):
    return _diamonds(spark, sf_dir).agg(
        F.count("*").alias("n_features"),
        F.min("xmin").alias("ext_xmin"),
        F.min("ymin").alias("ext_ymin"),
        F.max("xmax").alias("ext_xmax"),
        F.max("ymax").alias("ext_ymax"),
    )


def q_union_merge(spark, sf_dir):
    # spread=False: aggregation-shaped query, see q_cell_count
    a = _pts(spark, sf_dir, spread=False).select("point_id", "x", "y").withColumn(
        "src", F.lit("lineitem")
    )
    b = _qpts(spark, sf_dir).select(
        F.col("query_id").alias("point_id"), "x", "y"
    ).withColumn("src", F.lit("customer"))
    return a.unionByName(b).groupBy("src").agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("y").alias("max_y"),
    )


def q_project_slice(spark, sf_dir):
    return (
        _pts(spark, sf_dir, spread=False)
        .where(F.col("point_id").between(100000, 200000))
        .select("point_id", "x")
    )


def q_dedup_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs, key="doc_id", text="text")


TOKEN_JACCARD_MAX_DF = 64  # hot-token cap: bounds per-token join fan-out


def q_token_jaccard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") % 5) == 0
    )
    return token_jaccard_pairs(
        docs, key="doc_id", text="text", threshold=0.6,
        max_df=TOKEN_JACCARD_MAX_DF,
    )


def q_minhash_pairs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(docs, key="doc_id", text="text", threshold=0.5)


def q_neardup_filter(spark, sf_dir):
    # full dedup story: MinHash-LSH pairs -> connected components ->
    # one canonical keeper per near-dup cluster, every doc labeled
    from pyshp_spark.operators.dedup import neardup_keepers  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup_pairs(docs, key="doc_id", text="text", threshold=0.5)
    return neardup_keepers(docs, pairs, key="doc_id")


def q_simhash_pairs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_dedup_pairs(docs, key="doc_id", text="text", max_hamming=3)


def q_text_quality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = with_text_quality(docs, text="text")
    return out.select(
        "doc_id", "n_chars_q", "n_tokens", "punct_cnt", "alpha_ratio", "stop_ratio"
    )


def q_lang_id(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_lang_id(docs, text="text").select("doc_id", "lang_pred")


def q_token_stats(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = with_text_quality(docs, text="text")
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars_q").alias("total_chars"),
    )


def q_bpe_tokens(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count_expr(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_token_count_expr(F.col("text")).cast("long").alias("bpe_tokens"),
    )


def q_ann_cosine(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where((F.col("vec_id") % 25) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_brute(queries, emb, k=3)


EMB_DIM = 64
EMB_DEDUP_TAU = 0.15
EMB_DEDUP_PLANES = 8


def q_embedding_dedup(spark, sf_dir):
    # the SCALABLE variant is the entry: LSH-bucket blocking (integer
    # ±1 planes, exactly SQL-mirrorable) instead of per-label all-pairs;
    # the label-blocked exact path remains a pytest oracle
    from pyshp_spark.operators.similarity import embedding_dedup_pairs  # noqa: PLC0415

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_dedup_pairs(
        emb, tau=EMB_DEDUP_TAU, dim=EMB_DIM, n_planes=EMB_DEDUP_PLANES,
        int_planes=True,
    )


def q_minhash_sig(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", F.element_at(minhash_udf()(F.col("text")), 1).alias("sig0")
    )


def q_simhash_sig(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", simhash_udf()(F.col("text")).alias("simhash"))


def q_fingerprint(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_fingerprint(docs, text="text").select("doc_id", "fp64")


LSH_ANN_PLANES = 6
LSH_ANN_PROBE_BITS = 2
IVF_ANN_CENTROIDS = 64
IVF_ANN_PROBE = 8


def q_lsh_ann(spark, sf_dir):
    # integer ±1 hyperplanes over quantized embeddings: bucket bits are
    # exact integer arithmetic, so the full query (bucketing, multi-probe
    # candidates, cosine rerank) has a DuckDB hash oracle (lsh_ann_sql)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where((F.col("vec_id") % 50) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(
        queries, emb, k=3, dim=EMB_DIM, n_planes=LSH_ANN_PLANES,
        probe_bits=LSH_ANN_PROBE_BITS, int_planes=True,
    )


def q_ivf_ann(spark, sf_dir):
    # quantize=1000: integer-dot coarse quantizer (exact SQL mirror of
    # list assignment + probing via ivf_ann_sql); rerank unchanged
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where((F.col("vec_id") % 50) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        queries, emb, k=3, n_centroids=IVF_ANN_CENTROIDS, n_probe=IVF_ANN_PROBE,
        quantize=1000,
    )


def q_geojson_export(spark, sf_dir):
    dia = _diamond_wkb(_diamonds(spark, sf_dir))
    return dia.select(
        "oid",
        geojson_udf()(F.col("wkb"), F.lit(5)).alias("geojson"),
    )


def q_hash_split(spark, sf_dir):
    # deterministic train/val/test assignment by hashed KEY (map-only,
    # zero shuffle, stable under corpus growth); the knuth flavor is the
    # exactly-SQL-mirrorable one — production default is xxhash64
    from pyshp_spark.operators.sample import hash_split  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_split(docs, key="doc_id", hash="knuth").select("doc_id", "split")


def q_stratified_sample(spark, sf_dir):
    # exactly-n-per-language deterministic sample (hash-ranked within
    # stratum = uniform without replacement, reproducible anywhere)
    from pyshp_spark.operators.sample import stratified_sample_n  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample_n(
        docs, strata="lang", n=20, key="doc_id", hash="knuth"
    ).select("doc_id", "lang")


MIX_WEIGHTS = {"src0": 1.5, "src1": 2.0, "src2": 0.25, "src3": 1.0, "src4": 0.5}


def q_mix_corpora(spark, sf_dir):
    # source-weighted dataset mixing (fractional epochs by hashed key):
    # one projection + one explode, no join, no shuffle
    from pyshp_spark.operators.sample import mix_corpora  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mix_corpora(
        docs, MIX_WEIGHTS, source="source", key="doc_id", hash="knuth"
    ).select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))


def q_topk_terms(spark, sf_dir):
    # top-5 discriminative terms per doc by tf/df, integer score —
    # explode feeds map-side partial aggs; df side broadcasts
    from pyshp_spark.operators.text import topk_terms  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return topk_terms(docs, k=5)


PHASH_MAX_HAMMING = 6


def _phash_spark_expr() -> str:
    """Deterministic int64 'perceptual hash' derived from doc keys (the
    container has no image codecs, so the gate exercises the REAL
    banding + popcount plan over a key-derived hash, like the diamond
    geometry derivation): docs cluster in groups of 4 sharing a base
    hash (two 32/30-bit Knuth-multiplier words), and each member flips
    0-3 low-62 bits — so intra-cluster pairs sit at Hamming <= 6.  All
    arithmetic stays far under 2^63; :func:`_phash_duck_expr` is the
    token-for-token DuckDB mirror."""
    ph = (
        "(CAST(((doc_id DIV 4) * 2654435761) % 1073741824 AS BIGINT)"
        " * 4294967296"
        " + ((doc_id DIV 4) * 40503 + 9973) % 4294967296)"
    )
    for j in (1, 2, 3):
        mask = (
            f"(CASE WHEN doc_id % 4 >= {j} THEN "
            f"shiftleft(CAST(1 AS BIGINT),"
            f" CAST((doc_id * 37 + {j * 17}) % 62 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
        ph = f"({ph} ^ {mask})"
    return ph


def _phash_duck_expr() -> str:
    ph = (
        "((((doc_id // 4) * 2654435761) % 1073741824) * 4294967296"
        " + ((doc_id // 4) * 40503 + 9973) % 4294967296)"
    )
    for j in (1, 2, 3):
        mask = (
            f"(CASE WHEN doc_id % 4 >= {j} THEN "
            f"(1::BIGINT << CAST((doc_id * 37 + {j * 17}) % 62 AS INTEGER)) "
            f"ELSE 0::BIGINT END)"
        )
        ph = f"xor({ph}, {mask})"
    return ph


def q_phash_dedup(spark, sf_dir):
    from pyshp_spark.operators.multimodal import phash_dedup_pairs  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    imgs = docs.select(
        F.col("doc_id").alias("image_id"),
        F.expr(_phash_spark_expr()).alias("phash"),
    )
    return phash_dedup_pairs(imgs, max_hamming=PHASH_MAX_HAMMING)


SESSION_GAP_S = 3600.0
INCIDENT_WINDOW_S = 600.0


def q_sessionize(spark, sf_dir):
    # gap-based sessionization over the events table: one shuffle on
    # user_id, two stacked window functions, integer-microsecond gaps
    from pyshp_spark.operators.temporal import sessionize  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, key="user_id", ts="ts", gap_s=SESSION_GAP_S).select(
        "event_id", "user_id", F.col("session_idx").cast("long").alias("session_idx")
    )


def q_asof_join(spark, sf_dir):
    # each non-error event gains the latest preceding error of the same
    # user — union-window formulation, one exchange, zero fan-out
    from pyshp_spark.operators.temporal import asof_join  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") != "error")
    right = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        left, right, key="user_id", ts="ts", payload=["event_id"],
        tiebreak="event_id",
    )
    return out.select(
        "event_id",
        F.coalesce(F.col("asof_event_id"), F.lit(-1))
        .cast("long")
        .alias("asof_error_id"),
    )


def q_range_join(spark, sf_dir):
    # events x incident windows (10 min after every error) via
    # time-bucket blocking + exact refine — the 1-D cell join
    from pyshp_spark.operators.temporal import epoch_us, interval_join  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    win_us = int(INCIDENT_WINDOW_S * 1_000_000)
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        epoch_us(ev, "ts").alias("start_us"),
        (epoch_us(ev, "ts") + win_us).alias("end_us"),
    )
    pairs = interval_join(
        ev.select("event_id", "ts"), incidents,
        ts="ts", start="start_us", end="end_us", bucket_s=INCIDENT_WINDOW_S,
    )
    return pairs.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def sessionize_oracle_sql() -> str:
    from pyshp_spark.operators.temporal import sessionize_sql  # noqa: PLC0415

    return sessionize_sql(
        "events", key="user_id", ts="ts", gap_s=SESSION_GAP_S,
        columns="event_id, user_id",
    )


def asof_join_oracle_sql() -> str:
    from pyshp_spark.operators.temporal import asof_join_sql  # noqa: PLC0415

    inner = asof_join_sql(
        left_sql="SELECT * FROM events WHERE event_type <> 'error'",
        right_sql=(
            "SELECT user_id, ts, event_id FROM events"
            " WHERE event_type = 'error'"
        ),
        key="user_id", ts="ts", payload=["event_id"],
        left_cols="l.event_id", tiebreak="event_id",
    )
    return (
        "SELECT event_id,"
        " CAST(COALESCE(asof_event_id, -1) AS BIGINT) AS asof_error_id"
        f" FROM ({inner})"
    )


def range_join_oracle_sql() -> str:
    win_us = int(INCIDENT_WINDOW_S * 1_000_000)
    return f"""
        WITH incidents AS (
            SELECT event_id AS incident_id,
                   epoch_us(ts) AS start_us,
                   epoch_us(ts) + {win_us} AS end_us
            FROM events WHERE event_type = 'error'
        )
        SELECT i.incident_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events e JOIN incidents i
          ON epoch_us(e.ts) >= i.start_us AND epoch_us(e.ts) < i.end_us
        GROUP BY i.incident_id
    """


ROLLUP_LEVELS = [60, 3600, 86400]


def q_time_rollup(spark, sf_dir):
    # hypertable-style continuous aggregate: minute -> hour -> day
    # counts per event_type as a cascade (raw scan happens ONCE)
    from pyshp_spark.operators.temporal import rollup_counts  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rollup_counts(
        ev, ts="ts", keys=["event_type"], levels_s=ROLLUP_LEVELS
    )


def q_kmv_distinct(spark, sf_dir):
    # KMV distinct-count sketch over doc n-gram fingerprints: the
    # k-bounded TakeOrdered shape — no corpus-sized shuffle
    from pyshp_spark.operators.sketch import kmv_distinct  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct(ev, col="event_id", k=64)


def q_json_extract(spark, sf_dir):
    # semi-structured props column: JSON-path extraction stays JVM-side
    # (get_json_object inside codegen — no Python, no UDF).  The cast is
    # integer-regex-guarded + try_cast: under ANSI mode a bare cast
    # would raise CAST_INVALID_INPUT on a non-integral value, and
    # DuckDB's TRY_CAST('1.5' AS BIGINT) ROUNDS instead of nulling —
    # the guard makes both engines yield NULL for anything but a plain
    # integer token (try_cast still nulls int64 overflow, as DuckDB's
    # TRY_CAST does).
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = F.get_json_object("props", "$.k")
    # \z (absolute end), not $: Java's $ matches BEFORE a final line
    # terminator and cast trims whitespace, so '7\n' would pass on
    # Spark while DuckDB's regexp_full_match rejects it — \z keeps the
    # two engines token-identical
    return ev.select(
        "event_id",
        F.when(s.rlike("^-?[0-9]+\\z"), s).try_cast("long").alias("k"),
    )


def mix_corpora_oracle_sql() -> str:
    from pyshp_spark.operators.sample import mix_corpora_sql  # noqa: PLC0415

    return mix_corpora_sql(
        "documents", MIX_WEIGHTS, source="source", key="doc_id",
        columns="doc_id, source",
    )


def tile_pyramid_oracle_sql() -> str:
    from pyshp_spark.operators.spatial import tile_pyramid_sql  # noqa: PLC0415

    return tile_pyramid_sql(
        f"({_TILES_SQL})", tx="tile_x", ty="tile_y", zoom_max=6, zoom_min=0
    )


def rollup_counts_oracle_sql() -> str:
    from pyshp_spark.operators.temporal import rollup_counts_sql  # noqa: PLC0415

    return rollup_counts_sql(
        "events", ts="ts", keys=["event_type"], levels_s=ROLLUP_LEVELS
    )


def kmv_distinct_oracle_sql() -> str:
    from pyshp_spark.operators.sketch import kmv_distinct_sql  # noqa: PLC0415

    return kmv_distinct_sql("events", "event_id", k=64)


def q_phash_clusters(spark, sf_dir):
    # image near-dup story end-to-end: phash banding pairs ->
    # connected components -> one canonical keeper per image cluster
    from pyshp_spark.operators.dedup import neardup_keepers  # noqa: PLC0415
    from pyshp_spark.operators.multimodal import phash_dedup_pairs  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    imgs = docs.select(
        F.col("doc_id").alias("image_id"),
        F.expr(_phash_spark_expr()).alias("phash"),
    )
    pairs = phash_dedup_pairs(imgs, max_hamming=PHASH_MAX_HAMMING)
    return neardup_keepers(imgs, pairs, key="image_id")


def phash_clusters_oracle_sql() -> str:
    from pyshp_spark.operators.dedup import neardup_keepers_sql  # noqa: PLC0415

    return neardup_keepers_sql(
        phash_dedup_oracle_sql(),
        "(SELECT doc_id AS image_id FROM documents)",
        key="image_id",
    )


def phash_dedup_oracle_sql() -> str:
    """Brute-force mirror: pigeonhole banding is recall-complete for
    any Hamming radius in [0, 63] (multimodal.phash_dedup_pairs), so
    the banded + popcount-verified output equals ALL pairs at
    bit_count(xor) <= max_hamming."""
    return f"""
        WITH p AS (
            SELECT doc_id AS image_id, {_phash_duck_expr()} AS phash
            FROM documents
        )
        SELECT a.image_id AS id_a, b.image_id AS id_b,
               bit_count(xor(a.phash, b.phash)) AS hamming
        FROM p a JOIN p b ON a.image_id < b.image_id
        WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
    """


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ray-cast point-in-polygon join at sf0.001."""
    return q_pip_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bbox_filter": q_bbox_filter,
        "cell_count": q_cell_count,
        "extent_agg": q_extent_agg,
        "pip_join": q_pip_join,
        "pip_skew": q_pip_skew,
        "spatial_semi": q_spatial_semi,
        "spatial_anti": q_spatial_anti,
        "knn": q_knn,
        "tile_assign": q_tile_assign,
        "tile_pyramid": q_tile_pyramid,
        "zonal_stats": q_zonal_stats,
        "poly_contains": q_poly_contains,
        "hole_assign": q_hole_assign,
        "count_extent": q_count_extent,
        "union_merge": q_union_merge,
        "project_slice": q_project_slice,
        "dedup_exact": q_dedup_exact,
        "token_jaccard": q_token_jaccard,
        "minhash_pairs": q_minhash_pairs,
        "neardup_filter": q_neardup_filter,
        "simhash_pairs": q_simhash_pairs,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "token_stats": q_token_stats,
        "bpe_tokens": q_bpe_tokens,
        "ann_cosine": q_ann_cosine,
        "embedding_dedup": q_embedding_dedup,
        "minhash_sig": q_minhash_sig,
        "simhash_sig": q_simhash_sig,
        "fingerprint": q_fingerprint,
        "lsh_ann": q_lsh_ann,
        "ivf_ann": q_ivf_ann,
        "geojson_export": q_geojson_export,
        "phash_dedup": q_phash_dedup,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "topk_terms": q_topk_terms,
        "mix_corpora": q_mix_corpora,
        "phash_clusters": q_phash_clusters,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "json_extract": q_json_extract,
        "time_rollup": q_time_rollup,
        "kmv_distinct": q_kmv_distinct,
    }


def oracle_sql() -> dict[str, str]:
    from pyshp_spark.operators.sample import (  # noqa: PLC0415
        hash_split_sql,
        stratified_sample_n_sql,
    )
    from pyshp_spark.operators.text import (  # noqa: PLC0415
        token_count_sql,
        topk_terms_sql,
    )

    x0, y0, x1, y1 = QUERY_BBOX
    pip_pred = "abs(p.x - d.cx) + abs(p.y - d.cy) < d.r"
    quality = quality_sql_columns("text")
    token_count_sql_str = token_count_sql("text")
    return {
        "bbox_filter": f"""
            WITH pts AS ({_PTS_SQL})
            SELECT point_id, x, y FROM pts
            WHERE x >= {x0} AND x <= {x1} AND y >= {y0} AND y <= {y1}
        """,
        "cell_count": f"""
            WITH pts AS ({_PTS_SQL})
            SELECT {_CELL_SQL} AS cell, count(*) AS n_points
            FROM pts GROUP BY 1
        """,
        "extent_agg": f"""
            WITH d AS ({_DIAMONDS_SQL})
            SELECT brand, min(xmin) AS ext_xmin, min(ymin) AS ext_ymin,
                   max(xmax) AS ext_xmax, max(ymax) AS ext_ymax,
                   count(*) AS n_shapes
            FROM d GROUP BY brand
        """,
        "pip_join": f"""
            WITH pts AS ({_PTS_SQL}), d AS ({_DIAMONDS_SQL})
            SELECT p.point_id, d.oid
            FROM pts p, d
            WHERE p.x BETWEEN d.xmin AND d.xmax
              AND p.y BETWEEN d.ymin AND d.ymax
              AND {pip_pred}
        """,
        "pip_skew": f"""
            WITH pts AS ({_PTS_SKEWED_SQL}), d AS ({_DIAMONDS_SQL})
            SELECT p.point_id, d.oid
            FROM pts p, d
            WHERE p.x BETWEEN d.xmin AND d.xmax
              AND p.y BETWEEN d.ymin AND d.ymax
              AND {pip_pred}
        """,
        "spatial_semi": f"""
            WITH pts AS ({_PTS_SQL}), d AS ({_DIAMONDS_SQL})
            SELECT DISTINCT p.point_id
            FROM pts p, d
            WHERE p.x BETWEEN d.xmin AND d.xmax
              AND p.y BETWEEN d.ymin AND d.ymax
              AND {pip_pred}
        """,
        "spatial_anti": f"""
            -- cell-blocked mirror of the engine's anti join (NOT the
            -- brute NOT-EXISTS-over-cross-join, which exceeds the
            -- 10-minute window at sf0.1): distinct coords get a grid
            -- cell, diamonds enumerate their covered cells (bbox over
            -- the same 7.8125 grid, a superset of exact matches),
            -- candidates are a cell EQUI-join refined exactly, and the
            -- final anti is a row-level NOT EXISTS on coordinate
            -- equality (bit-exact: both sides read identical values),
            -- preserving per-row multiplicity of duplicate point_ids
            WITH pts AS ({_PTS_SQL}), d AS ({_DIAMONDS_SQL}),
            coords AS (SELECT DISTINCT x, y FROM pts),
            dcols AS (
                SELECT cx, cy, r, xmin, ymin, xmax, ymax,
                       unnest(generate_series(
                           CAST(floor(xmin / 7.8125) AS BIGINT),
                           CAST(floor(xmax / 7.8125) AS BIGINT))) AS ccol
                FROM d
            ),
            dcells AS (
                SELECT cx, cy, r, xmin, ymin, xmax, ymax, ccol,
                       unnest(generate_series(
                           CAST(floor(ymin / 7.8125) AS BIGINT),
                           CAST(floor(ymax / 7.8125) AS BIGINT))) AS crow
                FROM dcols
            ),
            hit AS (
                SELECT DISTINCT c.x, c.y
                FROM (
                    SELECT x, y,
                           CAST(floor(x / 7.8125) AS BIGINT) AS ccol,
                           CAST(floor(y / 7.8125) AS BIGINT) AS crow
                    FROM coords
                ) c
                JOIN dcells dc ON c.ccol = dc.ccol AND c.crow = dc.crow
                WHERE c.x BETWEEN dc.xmin AND dc.xmax
                  AND c.y BETWEEN dc.ymin AND dc.ymax
                  AND abs(c.x - dc.cx) + abs(c.y - dc.cy) < dc.r
            )
            SELECT point_id FROM pts p
            WHERE NOT EXISTS (
                SELECT 1 FROM hit h WHERE h.x = p.x AND h.y = p.y
            )
        """,
        "knn": f"""
            WITH q AS ({_QPTS_SQL}), d AS ({_DIAMONDS_SQL}),
            scored AS (
                SELECT q.query_id, d.oid,
                       (q.x - d.cx) * (q.x - d.cx) + (q.y - d.cy) * (q.y - d.cy) AS dist2,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY (q.x - d.cx) * (q.x - d.cx) + (q.y - d.cy) * (q.y - d.cy), d.oid
                       ) AS rank
                FROM q, d
            )
            SELECT query_id, oid, dist2, rank FROM scored WHERE rank <= 5
        """,
        "tile_assign": f"""
            WITH t AS ({_TILES_SQL}), d AS ({_DIAMONDS_SQL})
            SELECT DISTINCT t.tile_id, d.oid
            FROM t, d
            WHERE t.rxmin <= d.xmax AND d.xmin <= t.rxmax
              AND t.rymin <= d.ymax AND d.ymin <= t.rymax
        """,
        "count_extent": f"""
            WITH d AS ({_DIAMONDS_SQL})
            SELECT count(*) AS n_features, min(xmin) AS ext_xmin,
                   min(ymin) AS ext_ymin, max(xmax) AS ext_xmax,
                   max(ymax) AS ext_ymax
            FROM d
        """,
        "union_merge": f"""
            WITH pts AS ({_PTS_SQL}), q AS ({_QPTS_SQL}),
            u AS (
                SELECT point_id, x, y, 'lineitem' AS src FROM pts
                UNION ALL
                SELECT query_id AS point_id, x, y, 'customer' AS src FROM q
            )
            SELECT src, count(*) AS n_rows, min(x) AS min_x, max(y) AS max_y
            FROM u GROUP BY src
        """,
        "project_slice": f"""
            WITH pts AS ({_PTS_SQL})
            SELECT point_id, x FROM pts
            WHERE point_id BETWEEN 100000 AND 200000
        """,
        "dedup_exact": """
            SELECT lower(trim(text)) AS norm_text,
                   min(doc_id) AS keeper_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "token_jaccard": f"""
            WITH docs AS (
                SELECT doc_id, text FROM documents WHERE (doc_id % 5) = 0
            ),
            toks0 AS (
                SELECT DISTINCT doc_id AS id, tok
                FROM docs,
                     unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                        x -> x <> '')) AS t(tok)
            ),
            rare AS (
                SELECT tok FROM toks0 GROUP BY tok
                HAVING count(*) <= {TOKEN_JACCARD_MAX_DF}
            ),
            toks AS (
                SELECT id, tok FROM toks0 JOIN rare USING (tok)
            ),
            sizes AS (SELECT id, count(*) AS nset FROM toks GROUP BY id),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
                FROM toks a JOIN toks b USING (tok)
                WHERE a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b, n_inter,
                   round(n_inter / (sa.nset + sb.nset - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE round(n_inter / (sa.nset + sb.nset - n_inter), 6) >= 0.6
        """,
        "text_quality": f"""
            SELECT doc_id,
                   {quality['n_chars_q']} AS n_chars_q,
                   {quality['n_tokens']} AS n_tokens,
                   {quality['punct_cnt']} AS punct_cnt,
                   {quality['alpha_ratio']} AS alpha_ratio,
                   {quality['stop_ratio']} AS stop_ratio
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id, {lang_id_sql('text')} AS lang_pred FROM documents
        """,
        "token_stats": f"""
            SELECT lang, count(*) AS n_docs,
                   CAST(sum({quality['n_tokens']}) AS BIGINT) AS total_tokens,
                   CAST(sum({quality['n_chars_q']}) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang
        """,
        "bpe_tokens": f"""
            SELECT doc_id,
                   CAST({token_count_sql_str} AS BIGINT) AS ws_tokens,
                   CAST({bpe_token_count_sql('text')} AS BIGINT) AS bpe_tokens
            FROM documents
        """,
        "minhash_sig": minhash_sig0_sql("documents"),
        "minhash_pairs": minhash_pairs_sql("documents", threshold=0.5),
        "neardup_filter": neardup_keepers_sql(
            minhash_pairs_sql("documents", threshold=0.5), "documents"
        ),
        "simhash_pairs": simhash_pairs_sql("documents", max_hamming=3),
        "phash_dedup": phash_dedup_oracle_sql(),
        "hash_split": (
            "SELECT doc_id, split FROM ("
            + hash_split_sql("documents", "doc_id")
            + ")"
        ),
        "stratified_sample": stratified_sample_n_sql(
            "documents", "lang", 20, "doc_id", columns="doc_id, lang"
        ),
        "topk_terms": topk_terms_sql("documents", k=5),
        "mix_corpora": mix_corpora_oracle_sql(),
        "phash_clusters": phash_clusters_oracle_sql(),
        "sessionize": sessionize_oracle_sql(),
        "asof_join": asof_join_oracle_sql(),
        "range_join": range_join_oracle_sql(),
        "json_extract": (
            # integer-regex guard + TRY_CAST, mirroring the Spark side:
            # bare TRY_CAST would ROUND '1.5' to 2 in DuckDB while
            # Spark nulls it — the guard makes both engines NULL
            # anything but a plain integer token (TRY_CAST still nulls
            # int64 overflow on both)
            "SELECT event_id,"
            " TRY_CAST(CASE WHEN regexp_full_match("
            "   json_extract_string(props, '$.k'), '-?[0-9]+')"
            "  THEN json_extract_string(props, '$.k') END AS BIGINT) AS k"
            " FROM events"
        ),
        "time_rollup": rollup_counts_oracle_sql(),
        "tile_pyramid": tile_pyramid_oracle_sql(),
        "poly_contains": f"""
            -- the ring_sample of the 4-vertex diamond is the centroid
            -- of its first non-degenerate triplet (top, right, bottom)
            -- = ((3*cx + r)/3, 3*cy/3) computed as EXACT integer
            -- sums before one IEEE division — identical doubles on
            -- both engines (kernels/rings.py ring_sample parity)
            WITH d AS ({_DIAMONDS_SQL}),
            i AS (
                SELECT oid AS inner_oid,
                       ((cx + (cx + r)) + cx) / 3.0 AS sx,
                       (((cy + r) + cy) + (cy - r)) / 3.0 AS sy
                FROM d WHERE ((oid % 13) + 3) % 3 <> 0
            )
            SELECT i.inner_oid, d.oid AS outer_oid
            FROM i JOIN d
              ON i.sx BETWEEN d.xmin AND d.xmax
             AND i.sy BETWEEN d.ymin AND d.ymax
             AND abs(i.sx - d.cx) + abs(i.sy - d.cy) < d.r
            WHERE i.inner_oid <> d.oid
        """,
        "hole_assign": f"""
            -- expected assignment re-derived from the generating
            -- geometry: ring 0/1 = nested CW exteriors (outer r,
            -- inner r-1); ring 2 = hole inside both bboxes, ray-cast
            -- passes both, min-|2A| picks the inner (1); ring 3 =
            -- hole whose bbox is strictly inside ONLY the outer (0);
            -- ring 4 = hole outside every exterior bbox -> orphan
            WITH d AS (SELECT p_partkey AS oid FROM part)
            SELECT oid AS shape_id, CAST(0 AS INTEGER) AS ring_idx,
                   'exterior' AS role, CAST(0 AS INTEGER) AS parent_idx
            FROM d
            UNION ALL SELECT oid, 1, 'exterior', 1 FROM d
            UNION ALL SELECT oid, 2, 'hole', 1 FROM d
            UNION ALL SELECT oid, 3, 'hole', 0 FROM d
            UNION ALL SELECT oid, 4, 'orphan', NULL FROM d
        """,
        "zonal_stats": f"""
            WITH pts AS (
                SELECT CAST((l_partkey * 7) % 1000 AS DOUBLE) + 0.25 AS x,
                       CAST((l_suppkey * 13) % 1000 AS DOUBLE) + 0.1 AS y,
                       CAST(l_quantity AS BIGINT) AS qty
                FROM lineitem
            ), d AS ({_DIAMONDS_SQL})
            SELECT d.oid, CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(p.qty) AS BIGINT) AS qty_sum,
                   CAST(min(p.qty) AS BIGINT) AS qty_min,
                   CAST(max(p.qty) AS BIGINT) AS qty_max
            FROM pts p, d
            WHERE p.x BETWEEN d.xmin AND d.xmax
              AND p.y BETWEEN d.ymin AND d.ymax
              AND abs(p.x - d.cx) + abs(p.y - d.cy) < d.r
            GROUP BY d.oid
        """,
        "kmv_distinct": kmv_distinct_oracle_sql(),
        "simhash_sig": simhash_sql("documents"),
        "fingerprint": """
            WITH b AS (
              SELECT doc_id, list_transform(range(0, octet_length(encode(text))),
                     i -> (('0x' || substr(hex(encode(text)), 2*i+1, 2))::INTEGER)::HUGEINT) AS bytes
              FROM documents
            )
            SELECT doc_id,
              CAST(CASE WHEN fp >= 9223372036854775808::HUGEINT
                   THEN fp - 18446744073709551616::HUGEINT ELSE fp END AS BIGINT) AS fp64
            FROM (
              SELECT doc_id,
                CASE WHEN len(bytes) = 0 THEN 14695981039346656037::HUGEINT
                ELSE list_reduce(list_prepend(0::HUGEINT, bytes),
                     (acc, x) -> (acc * 1099511628211::HUGEINT + x + 1::HUGEINT)
                                 % 18446744073709551616::HUGEINT)
                END AS fp
              FROM b
            )
        """,
        "ann_cosine": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE (vec_id % 25) = 0
            ),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS cosine
                FROM q, embeddings e
            ),
            ranked AS (
                SELECT query_id, vec_id, cosine,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY cosine DESC, vec_id
                       ) AS rank
                FROM scored
            )
            SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 3
        """,
        # the diamond fixture's coords are all integral doubles, so
        # DuckDB's VARCHAR cast prints them exactly like json.dumps —
        # the canonical GeoJSON string is assembled byte-for-byte
        "geojson_export": f"""
            WITH d AS ({_DIAMONDS_SQL})
            SELECT oid,
              '{{"coordinates": [[[' ||
              cx::VARCHAR || ', ' || (cy+r)::VARCHAR || '], [' ||
              (cx+r)::VARCHAR || ', ' || cy::VARCHAR || '], [' ||
              cx::VARCHAR || ', ' || (cy-r)::VARCHAR || '], [' ||
              (cx-r)::VARCHAR || ', ' || cy::VARCHAR || '], [' ||
              cx::VARCHAR || ', ' || (cy+r)::VARCHAR ||
              ']]], "type": "Polygon"}}' AS geojson
            FROM d
        """,
        "embedding_dedup": embedding_dedup_sql(
            "embeddings", tau=EMB_DEDUP_TAU, dim=EMB_DIM,
            n_planes=EMB_DEDUP_PLANES,
        ),
        "lsh_ann": lsh_ann_sql(
            "embeddings", "(vec_id % 50) = 0", k=3, dim=EMB_DIM,
            n_planes=LSH_ANN_PLANES, probe_bits=LSH_ANN_PROBE_BITS,
        ),
        "ivf_ann": ivf_ann_sql(
            "embeddings", "(vec_id % 50) = 0", k=3,
            n_centroids=IVF_ANN_CENTROIDS, n_probe=IVF_ANN_PROBE,
        ),
    }


if __name__ == "__main__":
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    df = entry(spark)
    print("entry rows:", df.count())
    df.show(5)
