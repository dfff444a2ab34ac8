"""__geo_interface__ equivalence vs the reference, on fixture shapefiles."""

import io
import json

import pytest
from pyspark.sql import functions as F

from pyshp_spark.fixtures.polygons import fixture_shapefile_bytes
from pyshp_spark.functions.geojson import geo_interface_from_wkb, geojson_udf
from pyshp_spark.sources.shapefile import parse_shp_bytes

N = 60


@pytest.fixture(scope="module")
def both(ref_shapefile):
    shp, _, _ = fixture_shapefile_bytes(n=N, seed=42)
    mine = parse_shp_bytes(shp)
    reader = ref_shapefile.Reader(shp=io.BytesIO(shp))
    return mine, reader


def _canon(d):
    return json.loads(json.dumps(d, sort_keys=True))


class TestGeoInterface:
    def test_every_fixture_shape_matches(self, both):
        mine, reader = both
        for i, shape in enumerate(reader.iterShapes()):
            got = geo_interface_from_wkb(
                bytes(mine.iloc[i].wkb), int(mine.iloc[i].shape_type)
            )
            assert _canon(got) == _canon(shape.__geo_interface__), f"oid {i}"

    def test_point_and_multipoint(self, ref_shapefile):
        from pyshp_spark.kernels.wkb import wkb_multipoint, wkb_point

        got = geo_interface_from_wkb(wkb_point(1.5, 2.5), 1)
        want = ref_shapefile.Point(1.5, 2.5).__geo_interface__
        assert _canon(got) == _canon(want)
        pts = [(0.0, 0.0), (1.0, 2.0)]
        got = geo_interface_from_wkb(wkb_multipoint(pts), 8)
        want = ref_shapefile.MultiPoint(points=list(pts)).__geo_interface__
        assert _canon(got) == _canon(want)

    def test_spark_udf(self, spark, both):
        mine, reader = both
        import pandas as pd
        from pyspark.sql.types import (
            BinaryType, IntegerType, LongType, StructField, StructType,
        )

        pdf = mine[["oid", "shape_type", "wkb"]]
        schema = StructType(
            [
                StructField("oid", LongType()),
                StructField("shape_type", IntegerType()),
                StructField("wkb", BinaryType()),
            ]
        )
        df = spark.createDataFrame(pdf, schema=schema)
        gj = geojson_udf()(F.col("wkb"), F.col("shape_type"))
        out = {r.oid: r.geojson for r in df.withColumn("geojson", gj).collect()}
        for i, shape in enumerate(reader.iterShapes()):
            assert json.loads(out[i]) == _canon(shape.__geo_interface__)
