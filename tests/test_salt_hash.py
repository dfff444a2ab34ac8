"""The salted sort-merge PIP path hashes only the point columns Spark
can hash, so a MapType payload does not fail analysis and results stay
unchanged.  The broadcast-index path ignores ``salt_k`` (it never
shuffles the points), so there the salted call must equal the unsalted
one too."""

import numpy as np
from pyspark.sql import Row

from pyshp_spark.functions.cells import Grid
from pyshp_spark.kernels.wkb import wkb_polygon
from pyshp_spark.operators.spatial import point_in_polygon_join

GRID4 = Grid(x0=0.0, y0=0.0, dx=2.5, dy=2.5, width=1 << 10)


def _pairs(df):
    return sorted(
        (r.point_id, r.pid, tuple(sorted(r.tags.items())))
        for r in df.select("point_id", "pid", "tags").collect()
    )


def test_salt_with_map_payload_matches_unsalted(spark):
    polys = []
    for pid, (cx, cy) in enumerate([(2.0, 2.0), (6.0, 3.0), (4.0, 7.0)]):
        ring = [(cx, cy + 2), (cx + 2, cy), (cx, cy - 2), (cx - 2, cy),
                (cx, cy + 2)]
        polys.append(Row(wkb=bytearray(wkb_polygon([ring])), xmin=cx - 2,
                         ymin=cy - 2, xmax=cx + 2, ymax=cy + 2, pid=pid))
    polys = spark.createDataFrame(polys)
    xy = np.random.default_rng(7).uniform(0, 9, (300, 2))
    # a hot coordinate shared by many rows, told apart only by id/payload
    xy[:60] = (2.1, 2.2)
    pts = spark.createDataFrame(
        [(i, float(x), float(y), {"k": i % 5}) for i, (x, y) in enumerate(xy)],
        "point_id long, x double, y double, tags map<string,int>",
    )
    want = _pairs(point_in_polygon_join(pts, polys, grid=GRID4))
    assert len(want) >= 60
    for bcast in (True, False):
        got = point_in_polygon_join(
            pts, polys, grid=GRID4, broadcast_polygons=bcast, salt_k=4
        )
        assert _pairs(got) == want, bcast
