"""The PIP join family (inner, semi, anti) against a reference-free
oracle, on both execution paths: the broadcast index and the keyed
sort-merge join, salted and not.

Polygons come from the golden fixture (holes, multipart and nested
shapes); points are random plus a hot coordinate carrying about a
quarter of the rows, exact-duplicate rows, NULL payloads and a NaN
coordinate.  The oracle is ``points_in_rings_even_odd`` behind the
same inclusive bbox test, with row multiplicity kept.
"""

from collections import Counter

import numpy as np
import pytest

from pyshp_spark.fixtures.polygons import BBOX, polygon_fixture
from pyshp_spark.kernels.rings import points_in_rings_even_odd
from pyshp_spark.kernels.wkb import wkb_polygon
from pyshp_spark.operators.spatial import (
    point_in_polygon_join,
    spatial_anti_join,
    spatial_semi_join,
)

CONFIGS = {
    "auto": dict(),
    "sort_merge": dict(broadcast_polygons=False),
    "sort_merge_salted": dict(broadcast_polygons=False, salt_k=4),
    "index_salt_ignored": dict(broadcast_polygons=True, salt_k=4),
}
JOINS = {
    "inner": lambda pts, polys, **kw: point_in_polygon_join(
        pts, polys, polygon_cols=["oid"], **kw
    ),
    "semi": spatial_semi_join,
    "anti": spatial_anti_join,
}


@pytest.fixture(scope="module")
def shapes():
    rings_list, _, _ = polygon_fixture(n=60, seed=42)
    out = []
    for oid, rings in enumerate(rings_list):
        allpts = np.concatenate(rings)
        lo, hi = allpts.min(axis=0), allpts.max(axis=0)
        out.append((oid, rings, (*lo.tolist(), *hi.tolist())))
    return out


def _inside(shapes, px, py):
    """Per point, the oids of the shapes containing it."""
    hits = [[] for _ in px]
    for oid, rings, (x0, y0, x1, y1) in shapes:
        inb = (x0 <= px) & (px <= x1) & (y0 <= py) & (py <= y1)
        inside = inb & points_in_rings_even_odd(rings, px, py)
        for i in np.flatnonzero(inside):
            hits[i].append(oid)
    return hits


@pytest.fixture(scope="module")
def point_rows(shapes):
    """(point_id, x, y, payload) rows."""
    rng = np.random.default_rng(5)
    x0, y0, x1, y1 = BBOX
    w, h = x1 - x0, y1 - y0
    # the pathology shapes sit in a small box near the lower-left corner
    s = 0.002 * w
    px0, py0 = x0 + 0.01 * w, y0 + 0.01 * h
    xy = np.concatenate([
        rng.uniform((x0, y0), (x1, y1), (240, 2)),
        rng.uniform((px0, py0), (px0 + 64 * s, py0 + 17 * s), (80, 2)),
    ])
    hits = _inside(shapes, xy[:, 0], xy[:, 1])
    hot = xy[next(i for i, hh in enumerate(hits) if hh)]
    rows = [
        (i, float(x), float(y), None if i % 7 == 0 else f"v{i % 3}")
        for i, (x, y) in enumerate(xy)
    ]
    # about a quarter of all rows on one coordinate inside a polygon
    rows += [(1000 + i, float(hot[0]), float(hot[1]), "hot")
             for i in range(110)]
    rows += rows[:12:3]  # exact-duplicate rows
    rows.append((2000, float("nan"), float(hot[1]), "nan"))
    return rows


@pytest.fixture(scope="module")
def expected(shapes, point_rows):
    px = np.array([r[1] for r in point_rows])
    py = np.array([r[2] for r in point_rows])
    hits = _inside(shapes, px, py)
    keys = [(r[0], r[3]) for r in point_rows]
    return {
        "inner": Counter(k + (oid,) for k, hh in zip(keys, hits) for oid in hh),
        "semi": Counter(k for k, hh in zip(keys, hits) if hh),
        "anti": Counter(k for k, hh in zip(keys, hits) if not hh),
    }


@pytest.fixture(scope="module")
def polys(spark, shapes):
    return spark.createDataFrame(
        [(oid, bytearray(wkb_polygon(rings)), *bbox)
         for oid, rings, bbox in shapes],
        "oid long, wkb binary, xmin double, ymin double, xmax double, "
        "ymax double",
    )


@pytest.fixture(scope="module")
def pts(spark, point_rows):
    return spark.createDataFrame(
        point_rows, "point_id long, x double, y double, payload string"
    )


def _got(df, mode):
    cols = ["point_id", "payload"] + (["oid"] if mode == "inner" else [])
    return Counter(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("config", list(CONFIGS))
@pytest.mark.parametrize("mode", list(JOINS))
def test_matches_even_odd_oracle(pts, polys, expected, mode, config):
    assert sum(expected["semi"].values()) > 110  # the hot rows match
    out = JOINS[mode](pts, polys, **CONFIGS[config])
    assert _got(out, mode) == expected[mode]


@pytest.mark.parametrize("mode", list(JOINS))
def test_forced_index_ignores_salt(pts, polys, mode):
    out = JOINS[mode](pts, polys, **CONFIGS["index_salt_ignored"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__ps_salt" not in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("frame", ["name_clash", "map_attr"])
def test_semi_anti_sort_merge_carry_no_polygon_attrs(polys, pts, frame):
    """Semi/anti never carry polygon attributes, so neither a polygon
    attribute named like a point column nor a MapType attribute (not
    orderable, not hashable) may break the sort-merge path."""
    polys_f = (
        polys.withColumnRenamed("oid", "point_id") if frame == "name_clash"
        else polys.selectExpr("*", "map('k', cast(oid AS int)) AS tags")
    )
    for mode in ("semi", "anti"):
        want = _got(JOINS[mode](pts, polys_f, broadcast_polygons=True), mode)
        for kw in (dict(broadcast_polygons=False),
                   dict(broadcast_polygons=False, salt_k=4),
                   dict(salt_k=4)):
            assert _got(JOINS[mode](pts, polys_f, **kw), mode) == want, (mode, kw)
