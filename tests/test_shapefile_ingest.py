"""Shapefile ingest/writer vs the reference reader (oracle).

The fixture generator writes real .shp/.shx/.dbf bytes with OUR writer;
the reference Reader opens the same bytes, so both stacks see identical
inputs.  Cross-checks: record counts, per-shape points/parts/bbox, dbf
typed values, bbox filter pushdown equivalence (reference
test_shapefile.py:1356-1497 pattern), and geometry survives the WKB
round trip.
"""

import io

import numpy as np
import pandas as pd
import pytest

from pyshp_spark.fixtures.polygons import fixture_shapefile_bytes, polygon_fixture
from pyshp_spark.kernels.wkb import wkb_rings
from pyshp_spark.sources.shapefile import (
    parse_dbf_bytes,
    parse_shp_bytes,
    shapefile_to_pandas,
)

N = 80  # small but covers all pathologies + skew shapes


@pytest.fixture(scope="module")
def fixture_bytes():
    return fixture_shapefile_bytes(n=N, seed=42)


@pytest.fixture(scope="module")
def ref_reader(ref_shapefile, fixture_bytes):
    shp, shx, dbf = fixture_bytes
    return ref_shapefile.Reader(
        shp=io.BytesIO(shp), shx=io.BytesIO(shx), dbf=io.BytesIO(dbf)
    )


class TestShpParse:
    def test_counts_and_bboxes(self, ref_reader, fixture_bytes):
        shp, _, _ = fixture_bytes
        mine = parse_shp_bytes(shp)
        assert len(mine) == len(ref_reader) == N
        for i, shape in enumerate(ref_reader.iterShapes()):
            row = mine.iloc[i]
            assert row.oid == i == shape.oid
            assert row.shape_type == shape.shapeType == 5
            assert row.num_points == len(shape.points)
            assert row.num_parts == len(shape.parts)
            np.testing.assert_allclose(
                [row.xmin, row.ymin, row.xmax, row.ymax], list(shape.bbox), rtol=0
            )

    def test_points_roundtrip_via_wkb(self, ref_reader, fixture_bytes):
        shp, _, _ = fixture_bytes
        mine = parse_shp_bytes(shp)
        shapes, _, _ = polygon_fixture(n=N, seed=42)
        for i, shape in enumerate(ref_reader.iterShapes()):
            rings = wkb_rings(bytes(mine.iloc[i].wkb))
            # WKB rings are reorganized (exterior+holes) but the multiset
            # of vertices is exactly the file's points
            got = np.vstack(rings)
            want = np.asarray(shape.points, dtype=float)
            assert sorted(map(tuple, got.tolist())) == sorted(
                map(tuple, want.tolist())
            )

    def test_bbox_pushdown_equivalence(self, ref_reader, fixture_bytes):
        shp, _, _ = fixture_bytes
        qbox = (-122.46, 37.70, -122.40, 37.76)
        mine = parse_shp_bytes(shp, bbox=qbox)
        ref_oids = [
            s.oid for s in ref_reader.iterShapes(bbox=qbox) if s is not None
        ]
        assert list(mine.oid) == ref_oids
        assert 0 < len(mine) < N


class TestDbfParse:
    def test_values_match_reference(self, ref_reader, fixture_bytes):
        _, _, dbf = fixture_bytes
        mine = parse_dbf_bytes(dbf)
        assert list(mine.columns) == ["oid", "BKG_KEY", "POP1990", "AREA", "MEDIANRENT"]
        for i, rec in enumerate(ref_reader.iterRecords()):
            row = mine.iloc[i]
            assert row.BKG_KEY == rec["BKG_KEY"]
            assert row.POP1990 == rec["POP1990"]
            assert row.AREA == pytest.approx(rec["AREA"])
            ref_rent = rec["MEDIANRENT"]
            got = row.MEDIANRENT
            assert (pd.isna(got) and ref_rent is None) or got == ref_rent

    def test_field_projection(self, fixture_bytes):
        _, _, dbf = fixture_bytes
        mine = parse_dbf_bytes(dbf, fields=["BKG_KEY"])
        assert list(mine.columns) == ["oid", "BKG_KEY"]

    def test_joined_frame(self, fixture_bytes):
        shp, _, dbf = fixture_bytes
        df = shapefile_to_pandas(shp, dbf)
        assert len(df) == N
        assert "wkb" in df.columns and "BKG_KEY" in df.columns


class TestSparkIngest:
    def test_read_shapefiles(self, spark, fixture_bytes, tmp_path_factory):
        shp, shx, dbf = fixture_bytes
        d = tmp_path_factory.mktemp("shpdir")
        for ext, buf in [("shp", shp), ("shx", shx), ("dbf", dbf)]:
            (d / f"poly.{ext}").write_bytes(buf)
        from pyshp_spark.sources.shapefile import read_shapefiles

        df = read_shapefiles(spark, str(d))
        rows = df.count()
        assert rows == N
        assert {"wkb", "xmin", "BKG_KEY"} <= set(df.columns)
        # merge semantics (reference README merge idiom): two files union
        (d / "poly2.shp").write_bytes(shp)
        (d / "poly2.dbf").write_bytes(dbf)
        assert read_shapefiles(spark, str(d)).count() == 2 * N

    def test_read_shapefiles_with_arrow_off(self, spark, tmp_path):
        """A 2D polygon layer's z, m and part_types columns are all
        None; the schema inference must not depend on the session's
        Arrow setting."""
        from pyshp_spark.sources.shapefile import read_shapefiles

        for ext, buf in zip(("shp", "shx", "dbf"), fixture_shapefile_bytes(n=20)):
            (tmp_path / f"layer.{ext}").write_bytes(buf)
        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(key)
        try:
            spark.conf.set(key, "true")
            on = read_shapefiles(spark, str(tmp_path))
            spark.conf.set(key, "false")
            off = read_shapefiles(spark, str(tmp_path))
            assert off.count() == 20
            assert spark.conf.get(key) == "false"
        finally:
            spark.conf.set(key, prev)
        assert off.schema == on.schema
