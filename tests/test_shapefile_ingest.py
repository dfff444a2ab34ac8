"""Shapefile ingest/writer vs the reference reader (oracle).

The fixture generator writes real .shp/.shx/.dbf bytes with OUR writer;
the reference Reader opens the same bytes, so both stacks see identical
inputs.  Cross-checks: record counts, per-shape points/parts/bbox, dbf
typed values, bbox filter pushdown equivalence (reference
test_shapefile.py:1356-1497 pattern), and geometry survives the WKB
round trip.
"""

import io
import os

import numpy as np
import pandas as pd
import pytest

from pyshp_spark.fixtures.polygons import fixture_shapefile_bytes, polygon_fixture
from pyshp_spark.kernels.wkb import wkb_rings
from pyshp_spark.sources.shapefile import (
    parse_dbf_bytes,
    parse_shp_bytes,
    read_shapefile_urls,
    read_shapefiles,
    shapefile_to_pandas,
)
from pyshp_spark.sources.shp_writer import write_dbf, write_shp

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


def _write_layer(d, base, points, dbf=None):
    """A point file ``base`` in ``d``; ``dbf`` is (specs, records) or
    None for a file without a .dbf."""
    shp, shx = write_shp([(1, p, None, None, None) for p in points])
    (d / f"{base}.shp").write_bytes(shp)
    (d / f"{base}.shx").write_bytes(shx)
    if dbf is not None:
        (d / f"{base}.dbf").write_bytes(write_dbf(*dbf))


class TestOneSchemaRule:
    """``read_shapefiles`` and ``spark.read.format("shapefile")`` give
    the same schema and rows, on the layers where their schema rules
    once differed."""

    @pytest.fixture(autouse=True)
    def _register(self, spark):
        from pyshp_spark.sources.datasource import ShapefileDataSource  # noqa: PLC0415

        spark.dataSource.register(ShapefileDataSource)

    def _both(self, spark, d, bbox=None):
        got = read_shapefiles(spark, str(d), bbox=bbox)
        reader = spark.read.format("shapefile")
        if bbox is not None:
            reader = reader.option("bbox", ",".join(map(str, bbox)))
        want = reader.load(str(d))
        assert got.schema == want.schema

        def rows(df):
            return sorted(df.collect(), key=lambda r: (r.src, r.oid))

        assert rows(got) == rows(want)
        return got

    def test_2d_layer_types_z_m_part_types(self, spark, tmp_path):
        for ext, buf in zip(("shp", "shx", "dbf"), fixture_shapefile_bytes(n=20)):
            (tmp_path / f"layer.{ext}").write_bytes(buf)
        df = self._both(spark, tmp_path)
        types = dict(df.dtypes)
        assert (types["z"], types["m"], types["part_types"]) == (
            "array<double>", "array<double>", "array<int>"
        )
        assert df.count() == 20

    def test_column_only_a_later_file_has(self, spark, tmp_path):
        _write_layer(tmp_path, "a", [(10.0, 20.0)],
                     ([("COMMON", "N", 8, 0)], [[1]]))
        _write_layer(tmp_path, "b", [(10.0, 20.0)],
                     ([("COMMON", "N", 8, 0), ("ONLY_B", "C", 10, 0)],
                      [[2, "hello"]]))
        df = self._both(spark, tmp_path)
        got = {(r.COMMON, r.ONLY_B) for r in df.collect()}
        assert got == {(1, None), (2, "hello")}

    def test_later_file_without_dbf_gives_typed_nulls(self, spark, tmp_path):
        import datetime as dt  # noqa: PLC0415

        specs = [("N0", "N", 8, 0), ("D0", "D", 8, 0), ("L0", "L", 1, 0),
                 ("C0", "C", 10, 0)]
        _write_layer(tmp_path, "a", [(1.0, 2.0)],
                     (specs, [[7, dt.date(2020, 5, 17), True, "hi"]]))
        _write_layer(tmp_path, "b", [(1.0, 2.0)])
        df = self._both(spark, tmp_path)
        types = dict(df.dtypes)
        assert [types[c] for c in ("N0", "D0", "L0", "C0")] == [
            "bigint", "date", "boolean", "string"
        ]
        rows = {os.path.basename(r.src): r for r in df.collect()}
        a, b = rows["a.shp"], rows["b.shp"]
        assert (a.N0, a.D0, a.L0, a.C0) == (7, dt.date(2020, 5, 17), True, "hi")
        assert (b.N0, b.D0, b.L0, b.C0) == (None, None, None, None)

    def test_invalid_date_is_null(self, spark, tmp_path):
        """A D value that is not a date reads as NULL in the date
        column, through both readers, instead of failing the read."""
        import datetime as dt  # noqa: PLC0415

        _write_layer(tmp_path, "a", [(1.0, 2.0)],
                     ([("D0", "D", 8, 0), ("N0", "N", 8, 0)],
                      [[dt.date(2020, 5, 17), 7]]))
        dbf = tmp_path / "a.dbf"
        raw = dbf.read_bytes()
        assert raw.count(b"20200517") == 1
        dbf.write_bytes(raw.replace(b"20200517", b"2020XX17"))
        df = self._both(spark, tmp_path)
        assert dict(df.dtypes)["D0"] == "date"
        assert [(r.D0, r.N0) for r in df.collect()] == [(None, 7)]

    def test_bbox_that_empties_the_first_file(self, spark, tmp_path):
        _write_layer(tmp_path, "a", [(10.0, 20.0)],
                     ([("COMMON", "N", 8, 0)], [[1]]))
        _write_layer(tmp_path, "b", [(10.0, 20.0)],
                     ([("COMMON", "N", 8, 0), ("ONLY_B", "C", 10, 0)],
                      [[2, "hello"]]))
        df = self._both(spark, tmp_path, bbox=(1000.0, 1000.0, 1001.0, 1001.0))
        assert df.count() == 0
        assert dict(df.dtypes)["COMMON"] == "bigint"

    def test_one_map_in_arrow_and_no_data_source_scan(self, spark, tmp_path):
        _write_layer(tmp_path, "a", [(1.0, 2.0)], ([("V", "N", 8, 0)], [[1]]))
        df = read_shapefiles(spark, str(tmp_path))
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
        assert plan.count("MapInArrow") == 1
        assert "BatchScan" not in plan and "PythonDataSource" not in plan

    def test_missing_path_raises_on_the_driver(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError):
            read_shapefiles(spark, str(tmp_path / "nothing.shp"))
        with pytest.raises(FileNotFoundError):
            read_shapefiles(spark, str(tmp_path))


def test_url_ingest_types_2d_layer_from_first_url(spark, tmp_path):
    """Two 2D ``file://`` URLs, the second with an extra dbf column:
    the first URL's frame gives the schema, so z/m/part_types are typed
    lists and the extra column is dropped, not an error."""
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _write_layer(a, "layer", [(1.0, 2.0)], ([("COMMON", "N", 8, 0)], [[1]]))
    _write_layer(b, "layer", [(3.0, 4.0)],
                 ([("COMMON", "N", 8, 0), ("ONLY_B", "C", 10, 0)],
                  [[2, "hello"]]))
    urls = [f"file://{a}/layer.shp", f"file://{b}/layer.shp"]
    df = read_shapefile_urls(spark, urls)
    types = dict(df.dtypes)
    assert (types["z"], types["m"], types["part_types"]) == (
        "array<double>", "array<double>", "array<int>"
    )
    assert types["COMMON"] == "bigint" and "ONLY_B" not in types
    rows = sorted((r.src, r.COMMON, r.xmin) for r in df.collect())
    assert rows == [(urls[0], 1, 1.0), (urls[1], 2, 3.0)]


def test_url_ingest_zip_names_url_and_member(spark, tmp_path):
    """A ``.zip`` URL reads every member; ``src`` is the URL, ``!/``
    and the member name, in the one ``src`` column."""
    import zipfile  # noqa: PLC0415

    _write_layer(tmp_path, "layer", [(1.0, 2.0), (3.0, 4.0)],
                 ([("V", "N", 8, 0)], [[1], [2]]))
    zpath = tmp_path / "layer.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for ext in ("shp", "shx", "dbf"):
            zf.write(tmp_path / f"layer.{ext}", f"layer.{ext}")
    url = f"file://{zpath}"
    df = read_shapefile_urls(spark, [url])
    assert df.columns.count("src") == 1
    rows = sorted((r.src, r.V, r.xmin) for r in df.collect())
    assert rows == [(url + "!/layer.shp", 1, 1.0), (url + "!/layer.shp", 2, 3.0)]
