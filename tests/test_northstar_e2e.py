"""North-star end-to-end flow (BASELINE.json):

shapefile bytes -> ingest -> cell-indexed PIP join against the
input_hint image+caption table -> join rows match the pyshp oracle
exactly, AND per matched row: decoded pixels PSNR >= 40 dB vs the
deterministic source, caption equality, __geo_interface__ equivalence
of the joined polygon — with per-partition lineage commits around the
join."""

import io
import json

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pyshp_spark.fixtures.images import images_fixture
from pyshp_spark.fixtures.polygons import fixture_shapefile_bytes
from pyshp_spark.functions.cells import GRID
from pyshp_spark.functions.geojson import geo_interface_from_wkb
from pyshp_spark.kernels.image import decode_image
from pyshp_spark.operators.spatial import point_in_polygon_join
from pyshp_spark.plans.lineage import LineageCheckpoint, run_with_lineage
from pyshp_spark.sources.shapefile import parse_shp_bytes

from oracles import psnr

N_POLY = 50
N_IMG = 250
SEED = 21


@pytest.fixture(scope="module")
def world(spark):
    shp, _, dbf = fixture_shapefile_bytes(n=N_POLY, seed=42)
    poly_pdf = parse_shp_bytes(shp)
    schema = StructType(
        [
            StructField("oid", LongType()),
            StructField("shape_type", IntegerType()),
            StructField("wkb", BinaryType()),
            StructField("xmin", DoubleType()),
            StructField("ymin", DoubleType()),
            StructField("xmax", DoubleType()),
            StructField("ymax", DoubleType()),
        ]
    )
    poly_df = spark.createDataFrame(
        poly_pdf[["oid", "shape_type", "wkb", "xmin", "ymin", "xmax", "ymax"]],
        schema=schema,
    )
    img_pdf = images_fixture(n=N_IMG, seed=SEED)
    img_df = spark.createDataFrame(img_pdf)
    return shp, poly_pdf, poly_df, img_pdf, img_df


def test_full_pipeline(spark, world, ref_shapefile, tmp_path):
    shp, poly_pdf, poly_df, img_pdf, img_df = world

    # --- the join, with lineage checkpointing around it ------------
    pts = img_df.withColumn("cell", GRID.cell_expr(F.col("lon"), F.col("lat")))

    def job(bucket_df):
        return point_in_polygon_join(
            bucket_df, poly_df, x="lon", y="lat", polygon_cols=["oid"]
        ).select("image_id", "caption", "bytes", "w", "h", "fmt", "phash", "oid")

    out = run_with_lineage(
        spark, pts, job, str(tmp_path / "ckpt"), num_buckets=4, cell_col="cell"
    )
    rows = out.collect()
    got_pairs = {(r.image_id, r.oid) for r in rows}

    # --- oracle: reference reader + reference kernels --------------
    reader = ref_shapefile.Reader(shp=io.BytesIO(shp))
    organized = []
    for shape in reader.iterShapes():
        bounds = list(shape.parts) + [len(shape.points)]
        rings = [
            shape.points[bounds[i] : bounds[i + 1]] for i in range(len(shape.parts))
        ]
        organized.append(
            (shape.oid, shape.bbox, ref_shapefile.organize_polygon_rings(rings))
        )
    want_pairs = set()
    for row in img_pdf.itertuples(index=False):
        p = (row.lon, row.lat)
        for oid, bbox, polys in organized:
            if not (bbox[0] <= p[0] <= bbox[2] and bbox[1] <= p[1] <= bbox[3]):
                continue
            for poly in polys:
                if ref_shapefile.ring_contains_point(poly[0], p) and not any(
                    ref_shapefile.ring_contains_point(h, p) for h in poly[1:]
                ):
                    want_pairs.add((row.image_id, oid))
                    break
    assert got_pairs == want_pairs and len(want_pairs) > 0

    # --- per-row invariants on the join output ---------------------
    src = {r.image_id: r for r in img_pdf.itertuples(index=False)}
    for r in rows:
        s = src[r.image_id]
        assert r.caption == s.caption  # caption equality
        assert r.phash == s.phash
        decoded = decode_image(bytes(r.bytes), r.w, r.h, r.fmt)
        i = int(r.image_id[4:])
        pix_rng = np.random.default_rng(SEED * 1_000_003 + i)
        want_rgb = pix_rng.integers(0, 256, size=(s.h, s.w, 3), dtype=np.uint8)
        assert psnr(decoded, want_rgb) >= 40.0  # codec round-trip gate

    # --- __geo_interface__ equivalence on joined polygons ----------
    matched_oids = {oid for _, oid in got_pairs}
    reader2 = ref_shapefile.Reader(shp=io.BytesIO(shp))
    for oid in sorted(matched_oids):
        mine = geo_interface_from_wkb(
            bytes(poly_pdf.iloc[oid].wkb), int(poly_pdf.iloc[oid].shape_type)
        )
        ref = reader2.shape(oid).__geo_interface__
        assert json.loads(json.dumps(mine)) == json.loads(
            json.dumps(ref, default=list)
        )

    # --- lineage audit trail ---------------------------------------
    ckpt = LineageCheckpoint(str(tmp_path / "ckpt"))
    lin = {r.bucket: r for r in ckpt.lineage(spark).collect()}
    assert set(lin) == {0, 1, 2, 3}
    assert sum(r.rows_in for r in lin.values()) == N_IMG
    assert sum(r.rows_out for r in lin.values()) == len(rows)
