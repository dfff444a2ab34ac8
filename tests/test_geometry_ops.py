"""Z/M writer round-trips (through the reference reader) and the
coordinate-explode projection operator."""

import io

import numpy as np
import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from pyshp_spark.operators.geometry import explode_coordinates
from pyshp_spark.sources.shapefile import parse_shp_bytes
from pyshp_spark.sources.shp_writer import write_shp


class TestZMWriter:
    def test_pointz_roundtrip_via_reference(self, ref_shapefile):
        shp, _ = write_shp([(11, (1.5, 2.5), [7.25], [3.5]),
                            (11, (4.0, 5.0), [8.0], [None])])
        r = ref_shapefile.Reader(shp=io.BytesIO(shp))
        s0, s1 = r.shape(0), r.shape(1)
        assert s0.shapeType == 11
        assert s0.points[0] == (1.5, 2.5) and s0.z[0] == 7.25 and s0.m[0] == 3.5
        assert s1.m[0] is None  # NODATA round-trip

    def test_polylinez_roundtrip_both_readers(self, ref_shapefile):
        line = [(0.0, 0.0), (1.0, 1.0), (2.0, 0.0)]
        shp, _ = write_shp([(13, [line], [10.0, 20.0, 30.0], [1.0, None, 3.0])])
        r = ref_shapefile.Reader(shp=io.BytesIO(shp))
        s = r.shape(0)
        assert s.shapeType == 13
        assert list(s.z) == [10.0, 20.0, 30.0]
        assert list(s.m) == [1.0, None, 3.0]
        mine = parse_shp_bytes(shp)
        assert list(mine.iloc[0].z) == [10.0, 20.0, 30.0]
        assert list(mine.iloc[0].m) == [1.0, None, 3.0]

    def test_polygonm_roundtrip(self, ref_shapefile):
        ring = [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0)]
        ms = [1.0, 2.0, 3.0, 4.0, 5.0]
        shp, _ = write_shp([(25, [ring], None, ms)])
        r = ref_shapefile.Reader(shp=io.BytesIO(shp))
        s = r.shape(0)
        assert s.shapeType == 25 and list(s.m) == ms
        mine = parse_shp_bytes(shp)
        assert list(mine.iloc[0].m) == ms

    def test_multipointz(self, ref_shapefile):
        pts = [(0.0, 0.0), (1.0, 2.0)]
        shp, _ = write_shp([(18, pts, [5.0, 6.0], None)])
        r = ref_shapefile.Reader(shp=io.BytesIO(shp))
        s = r.shape(0)
        assert s.shapeType == 18 and list(s.z) == [5.0, 6.0]


SCHEMA = StructType(
    [
        StructField("oid", LongType()),
        StructField("wkb", BinaryType()),
        StructField("z", ArrayType(DoubleType())),
        StructField("m", ArrayType(DoubleType())),
    ]
)


class TestExplodeCoordinates:
    def test_polylinez_long_format(self, spark):
        line = [(0.0, 0.0), (1.0, 1.0), (2.0, 0.0)]
        shp, _ = write_shp([(13, [line], [10.0, 20.0, 30.0], [1.0, None, 3.0])])
        pdf = parse_shp_bytes(shp)[["oid", "wkb", "z", "m"]]
        df = spark.createDataFrame(pdf, schema=SCHEMA)
        rows = explode_coordinates(df).orderBy("point_idx").collect()
        assert [(r.x, r.y) for r in rows] == [(0, 0), (1, 1), (2, 0)]
        assert [r.z for r in rows] == [10.0, 20.0, 30.0]
        assert rows[1].m is None or np.isnan(rows[1].m)

    def test_missing_z_defaults_zero(self, spark):
        shp, _ = write_shp([(3, [[(0.0, 0.0), (5.0, 5.0)]])])
        pdf = parse_shp_bytes(shp)[["oid", "wkb", "z", "m"]]
        df = spark.createDataFrame(pdf, schema=SCHEMA)
        rows = explode_coordinates(df).collect()
        assert all(r.z == 0.0 for r in rows)
