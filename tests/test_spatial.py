"""Spatial join operators vs a pyshp-based single-node oracle.

The oracle computes containment with reference functions only
(organize_polygon_rings + ring_contains_point, reference
src/shapefile.py:872-1102): a point is inside a shape when it is in
some exterior and in none of that exterior's holes.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from pyshp_spark.fixtures.images import images_fixture
from pyshp_spark.fixtures.polygons import fixture_shapefile_bytes, BBOX
from pyshp_spark.functions.cells import GRID
from pyshp_spark.operators.spatial import (
    knn_brute,
    knn_join,
    point_in_polygon_join,
    spatial_anti_join,
    spatial_semi_join,
    tile_assignment,
)
from pyshp_spark.sources.shapefile import parse_shp_bytes

N_POLY = 60
N_IMG = 300


@pytest.fixture(scope="module")
def poly_pdf():
    shp, _, _ = fixture_shapefile_bytes(n=N_POLY, seed=42)
    return parse_shp_bytes(shp)


@pytest.fixture(scope="module")
def img_pdf():
    return images_fixture(n=N_IMG, seed=7)


@pytest.fixture(scope="module")
def poly_df(spark, poly_pdf):
    pdf = poly_pdf[["oid", "wkb", "xmin", "ymin", "xmax", "ymax"]].copy()
    schema = StructType(
        [
            StructField("oid", LongType()),
            StructField("wkb", BinaryType()),
            StructField("xmin", DoubleType()),
            StructField("ymin", DoubleType()),
            StructField("xmax", DoubleType()),
            StructField("ymax", DoubleType()),
        ]
    )
    return spark.createDataFrame(pdf, schema=schema).cache()


@pytest.fixture(scope="module")
def pts_df(spark, img_pdf):
    pdf = img_pdf[["image_id", "lon", "lat", "tile_x", "tile_y", "zoom"]]
    return spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def oracle_pairs(ref_shapefile, poly_pdf, img_pdf):
    """Expected (image_id, oid) via reference kernels only."""
    import io  # noqa: PLC0415
    shp, _, _ = fixture_shapefile_bytes(n=N_POLY, seed=42)
    reader = ref_shapefile.Reader(shp=io.BytesIO(shp))
    organized = []
    for shape in reader.iterShapes():
        bounds = list(shape.parts) + [len(shape.points)]
        rings = [
            shape.points[bounds[i] : bounds[i + 1]] for i in range(len(shape.parts))
        ]
        organized.append((shape.oid, shape.bbox, ref_shapefile.organize_polygon_rings(rings)))
    pairs = set()
    for row in img_pdf.itertuples(index=False):
        p = (row.lon, row.lat)
        for oid, bbox, polys in organized:
            if not (bbox[0] <= p[0] <= bbox[2] and bbox[1] <= p[1] <= bbox[3]):
                continue
            inside = False
            for poly in polys:
                if ref_shapefile.ring_contains_point(poly[0], p):
                    if not any(
                        ref_shapefile.ring_contains_point(h, p) for h in poly[1:]
                    ):
                        inside = True
                        break
            if inside:
                pairs.add((row.image_id, oid))
    return pairs


class TestPipJoin:
    def test_matches_oracle(self, pts_df, poly_df, oracle_pairs):
        out = point_in_polygon_join(
            pts_df, poly_df, x="lon", y="lat", polygon_cols=["oid"]
        )
        got = {(r.image_id, r.oid) for r in out.select("image_id", "oid").collect()}
        assert got == oracle_pairs
        assert len(got) > 0

    def test_sort_merge_and_salted_paths_agree(self, pts_df, poly_df, oracle_pairs):
        for kw in [dict(broadcast_polygons=False),
                   dict(broadcast_polygons=False, salt_k=4)]:
            out = point_in_polygon_join(
                pts_df, poly_df, x="lon", y="lat", polygon_cols=["oid"], **kw
            )
            got = {(r.image_id, r.oid) for r in out.select("image_id", "oid").collect()}
            assert got == oracle_pairs, kw

    def test_semi_and_anti_partition_the_points(self, pts_df, poly_df, oracle_pairs):
        semi = spatial_semi_join(pts_df, poly_df, x="lon", y="lat")
        anti = spatial_anti_join(pts_df, poly_df, x="lon", y="lat")
        inside_ids = {r.image_id for r in semi.select("image_id").collect()}
        outside_ids = {r.image_id for r in anti.select("image_id").collect()}
        assert inside_ids == {i for i, _ in oracle_pairs}
        assert inside_ids.isdisjoint(outside_ids)
        assert len(inside_ids) + len(outside_ids) == N_IMG

    def test_semi_anti_sort_merge_null_payload_column(
        self, spark, pts_df, poly_df, oracle_pairs
    ):
        """A NULL in a non-coordinate point column must not change
        semi/anti membership on the sort-merge fallback (ADVICE r2:
        null-unsafe equality dropped such rows from semi and wrongly
        kept them in anti)."""
        pts = pts_df.withColumn(
            "payload",
            F.when(F.col("tile_x") % 2 == 0, F.lit(None).cast("string"))
            .otherwise(F.lit("v")),
        ).select("image_id", "lon", "lat", "payload")
        semi = spatial_semi_join(
            pts, poly_df, x="lon", y="lat", broadcast_polygons=False
        )
        anti = spatial_anti_join(
            pts, poly_df, x="lon", y="lat", broadcast_polygons=False
        )
        inside_ids = {r.image_id for r in semi.collect()}
        outside_ids = {r.image_id for r in anti.collect()}
        assert inside_ids == {i for i, _ in oracle_pairs}
        assert inside_ids.isdisjoint(outside_ids)
        assert len(inside_ids) + len(outside_ids) == N_IMG


class TestBroadcastGuard:
    def test_byte_aware_guard_falls_back_to_sort_merge(self, spark, monkeypatch):
        import pyshp_spark.operators.spatial as sp  # noqa: PLC0415
        from pyshp_spark.operators.spatial import _resolve_broadcast  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        big = spark.createDataFrame(
            pd.DataFrame(
                {
                    "oid": range(8),
                    "wkb": [bytes(200_000)] * 8,
                    "xmin": 0.0, "ymin": 0.0, "xmax": 1.0, "ymax": 1.0,
                }
            )
        )
        # 8 rows pass any row guard, but 8 x 200 kB > 1 MB byte budget
        monkeypatch.setattr(sp, "_MAX_BROADCAST_BYTES", 1_000_000)
        assert _resolve_broadcast(big, "auto") is False
        # explicit override still wins
        assert _resolve_broadcast(big, True) is True
        # same frame under a roomy byte budget broadcasts
        monkeypatch.setattr(sp, "_MAX_BROADCAST_BYTES", 10_000_000)
        assert _resolve_broadcast(big, "auto") is True


class TestTileAssignment:
    def test_center_mode_matches_pointwise_oracle(
        self, spark, pts_df, poly_df, ref_shapefile, img_pdf
    ):
        from oracles import tilefrac_to_lonlat  # noqa: PLC0415
        import io  # noqa: PLC0415

        tiles = pts_df.select("tile_x", "tile_y", "zoom").dropDuplicates()
        out = tile_assignment(tiles, poly_df, mode="center", polygon_cols=["oid"])
        got = {
            (r.tile_x, r.tile_y, r.oid)
            for r in out.select("tile_x", "tile_y", "oid").collect()
        }
        # oracle: tile center lon/lat -> reference containment
        shp, _, _ = fixture_shapefile_bytes(n=N_POLY, seed=42)
        reader = ref_shapefile.Reader(shp=io.BytesIO(shp))
        organized = []
        for shape in reader.iterShapes():
            bounds = list(shape.parts) + [len(shape.points)]
            rings = [
                shape.points[bounds[i] : bounds[i + 1]]
                for i in range(len(shape.parts))
            ]
            organized.append(
                (shape.oid, ref_shapefile.organize_polygon_rings(rings))
            )
        want = set()
        tile_rows = (
            img_pdf[["tile_x", "tile_y", "zoom"]].drop_duplicates().itertuples(index=False)
        )
        for t in tile_rows:
            lon, lat = tilefrac_to_lonlat(t.tile_x, t.tile_y, 0.5, 0.5, t.zoom)
            p = (float(lon), float(lat))
            for oid, polys in organized:
                for poly in polys:
                    if ref_shapefile.ring_contains_point(poly[0], p) and not any(
                        ref_shapefile.ring_contains_point(h, p) for h in poly[1:]
                    ):
                        want.add((t.tile_x, t.tile_y, oid))
                        break
        assert got == want

    def test_bbox_mode_superset_of_center(self, pts_df, poly_df):
        tiles = pts_df.select("tile_x", "tile_y", "zoom").dropDuplicates()
        center = tile_assignment(tiles, poly_df, mode="center", polygon_cols=["oid"])
        bbox = tile_assignment(tiles, poly_df, mode="bbox", polygon_cols=["oid"])
        c = {(r.tile_x, r.tile_y, r.oid) for r in center.collect()}
        b = {(r.tile_x, r.tile_y, r.oid) for r in bbox.collect()}
        assert c <= b

    def test_bbox_mode_pairs_match_numpy_overlap(
        self, pts_df, poly_df, poly_pdf, img_pdf
    ):
        """Every (tile, polygon) pair whose bboxes overlap (inclusive),
        each exactly once."""
        from oracles import tilefrac_to_lonlat  # noqa: PLC0415

        tiles = pts_df.select("tile_x", "tile_y", "zoom").dropDuplicates()
        out = tile_assignment(tiles, poly_df, mode="bbox", polygon_cols=["oid"])
        got = sorted((r.tile_x, r.tile_y, r.oid) for r in out.collect())
        t = img_pdf[["tile_x", "tile_y", "zoom"]].drop_duplicates()
        tx, ty, z = (t[c].to_numpy() for c in ("tile_x", "tile_y", "zoom"))
        lon0, lat1 = tilefrac_to_lonlat(tx, ty, 0.0, 0.0, z)
        lon1, lat0 = tilefrac_to_lonlat(tx + 1, ty + 1, 0.0, 0.0, z)
        p = poly_pdf
        hit = (
            (lon0[:, None] <= p.xmax.to_numpy())
            & (p.xmin.to_numpy() <= lon1[:, None])
            & (lat0[:, None] <= p.ymax.to_numpy())
            & (p.ymin.to_numpy() <= lat1[:, None])
        )
        ti, pi = np.nonzero(hit)
        want = sorted(
            (int(tx[i]), int(ty[i]), int(p.oid.iloc[j])) for i, j in zip(ti, pi)
        )
        assert want and got == want

    def test_bbox_mode_rejects_pip_keywords(self, pts_df, poly_df):
        tiles = pts_df.select("tile_x", "tile_y", "zoom")
        with pytest.raises(TypeError, match="broadcast_polygons, salt_k"):
            tile_assignment(tiles, poly_df, mode="bbox", polygon_cols=["oid"],
                            salt_k=4, broadcast_polygons=False)


class TestKnn:
    def _queries(self, spark):
        rng = np.random.default_rng(3)
        x0, y0, x1, y1 = BBOX
        pdf = pd.DataFrame(
            {
                "query_id": np.arange(40),
                "x": rng.uniform(x0, x1, 40),
                "y": rng.uniform(y0, y1, 40),
            }
        )
        return spark.createDataFrame(pdf)

    def _targets(self, spark):
        rng = np.random.default_rng(4)
        x0, y0, x1, y1 = BBOX
        pdf = pd.DataFrame(
            {
                "target_id": np.arange(500),
                "x": rng.uniform(x0, x1, 500),
                "y": rng.uniform(y0, y1, 500),
            }
        )
        return spark.createDataFrame(pdf)

    def test_cell_knn_equals_brute(self, spark):
        q = self._queries(spark)
        t = self._targets(spark)
        brute = knn_brute(
            q, t, k=5, query_id="query_id",
            target_cols=["target_id", "x", "y"], tie_break="target_id",
        )
        cell = knn_join(
            q, t, k=5, query_id="query_id",
            target_cols=["target_id", "x", "y"], tie_break="target_id",
        )
        b = {(r.query_id, r.target_id, r.knn_rank) for r in brute.collect()}
        c = {(r.query_id, r.target_id, r.knn_rank) for r in cell.collect()}
        assert b == c
        assert len(b) == 40 * 5
