"""The PIP join family (inner, semi, anti) against a reference-free
oracle, on both execution paths: the broadcast index and the
partitioned cogroup, salted and not (the "sort_merge" configs name the
partitioned path).

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
from pyshp_spark.operators import spatial as sp
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
    orderable, not hashable) may break the partitioned path."""
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


@pytest.mark.parametrize("salt_k", [None, 4], ids=["unsalted", "salted"])
def test_partitioned_inner_carries_map_attr(pts, polys, expected, salt_k):
    """The partitioned path hashes and sorts no polygon column, so an
    inner join carries a MapType attribute, as the index path does."""
    tagged = polys.selectExpr("*", "map('k', cast(oid AS int)) AS tags")

    def got(**kw):
        out = point_in_polygon_join(pts, tagged, polygon_cols=["oid", "tags"], **kw)
        return Counter(
            (r.point_id, r.payload, r.oid, tuple(r.tags.items()))
            for r in out.collect()
        )

    want = got(broadcast_polygons=True)
    assert sum(want.values()) == sum(expected["inner"].values())
    assert got(broadcast_polygons=False, salt_k=salt_k) == want


@pytest.mark.parametrize(
    "bad, msg",
    [({"broadcast_polygons": "false"}, "broadcast_polygons"),
     ({"broadcast_polygons": 0}, "broadcast_polygons"),
     ({"salt_k": 0}, "salt_k"),
     ({"broadcast_polygons": False, "salt_k": -1}, "salt_k"),
     ({"salt_k": 2.0}, "salt_k")],
    ids=["bp_string", "bp_int", "salt_zero", "salt_negative", "salt_float"],
)
def test_bad_dispatch_args_raise_before_any_job(spark, pts, polys, bad, msg):
    # a cold cache: without the check "auto" would run its size probes
    # and "false" would build an index
    sc = spark.sparkContext
    sp.clear_polygon_index_cache()
    group = f"pip-bad-args-{sorted(bad.items())}"
    sc.setJobGroup(group, "PIP argument check")
    try:
        for join in JOINS.values():
            with pytest.raises(ValueError, match=msg):
                join(pts, polys, **bad)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sp._INDEX_CACHE


@pytest.mark.parametrize("bp", [True, False], ids=["index", "partitioned"])
def test_inner_int64_attr_exact_next_to_null(spark, bp):
    """A nullable int64 attribute past 2^53 comes back exact, with a
    NULL in the same polygon partition: no float64 round trip on either
    path."""
    big = 2**53 + 1
    sq = np.array([[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0], [0.0, 0.0]])
    polys = spark.createDataFrame(
        [(big, bytearray(wkb_polygon([sq])), 0.0, 0.0, 1.0, 1.0),
         (None, bytearray(wkb_polygon([sq + 2.0])), 2.0, 2.0, 3.0, 3.0)],
        "attr long, wkb binary, xmin double, ymin double, xmax double, "
        "ymax double",
    ).coalesce(1)
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, 2.5, 2.5), (2, 5.0, 5.0)],
        "point_id long, x double, y double",
    )
    out = point_in_polygon_join(pts, polys, broadcast_polygons=bp)
    got = sorted((r.point_id, r.attr) for r in out.collect())
    assert got == [(0, big), (1, None)]


@pytest.mark.parametrize("bp", [True, False], ids=["index", "partitioned"])
def test_inner_without_polygon_cols_after_cached_attrs(pts, polys, expected, bp):
    """``polygon_cols=[]`` emits only point columns, also when an
    earlier call cached an index that carries attributes."""
    sp.clear_polygon_index_cache()
    point_in_polygon_join(pts, polys, polygon_cols=["oid"],
                          broadcast_polygons=True).count()
    out = point_in_polygon_join(pts, polys, polygon_cols=[], broadcast_polygons=bp)
    assert out.columns == pts.columns
    want = Counter()
    for (pid, payload, _), n in expected["inner"].items():
        want[(pid, payload)] += n
    assert _got(out, "semi") == want


def test_index_inner_emits_attrs_without_join_back(pts, polys):
    """The index path's inner join emits the attribute columns from its
    one probe pass: no explode and no join-back in the plan."""
    out = point_in_polygon_join(pts, polys, polygon_cols=["oid"],
                                broadcast_polygons=True)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "Generate" not in plan
    assert "BroadcastHashJoin" not in plan
