"""knn_join's broadcast-index path against ``knn_brute`` (cross join +
window top-k), with no pyshp reference.

Each case compares (query_id, target id, knn_rank, dist2).  Ties at
equal ``dist2`` come from queries at the centre of four lattice
targets, broken by a long, a string and a partly NULL ``tie_break``;
the other cases cover exact-duplicate rows, queries in an empty region
(the exact scan after ``max_rounds``), ``max_rounds=0``, k past the
target count, an empty query frame, targets or queries with a NULL
coordinate, and a query whose first square holds only a neighbor
beyond the covered radius (the stop rule must widen the search).  The
last tests pin the index path's laziness, the argument checks on both
paths, agreement with the round loop, and the index cache's key
separation.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

import pyshp_spark.operators.spatial as sp
from pyshp_spark.functions.cells import Grid
from pyshp_spark.kernels.wkb import wkb_polygon
from pyshp_spark.operators.spatial import (
    BroadcastPolygonIndex,
    knn_brute,
    knn_join,
    spatial_semi_join,
)

GRID = Grid(x0=0.0, y0=0.0, dx=2.0, dy=2.0, width=1 << 10)
Q_SCHEMA = StructType([
    StructField("query_id", LongType()),
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
])


def _targets(spark, tie_type=LongType(), ties=None, n=12, seed=3):
    """An n x n unit lattice; ``tid`` is a shuffled id, ``tie`` the
    tie-break value (``ties`` maps the shuffled id to it)."""
    rng = np.random.default_rng(seed)
    xs, ys = np.meshgrid(np.arange(n, dtype=float), np.arange(n, dtype=float))
    tid = rng.permutation(n * n)
    tie = [ties(int(t)) if ties else int(t) for t in tid]
    schema = StructType([
        StructField("tid", LongType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("tie", tie_type),
    ])
    rows = list(zip(tid.tolist(), xs.ravel().tolist(), ys.ravel().tolist(), tie))
    return spark.createDataFrame(rows, schema)


def _queries(spark, rows):
    return spark.createDataFrame(rows, Q_SCHEMA)


def _centre_queries(spark, n=10):
    """Queries at lattice-cell centres: four targets tie at dist2 0.5."""
    return _queries(spark, [
        (i, 0.5 + (i * 7) % n, 0.5 + (i * 3) % n) for i in range(n)
    ])


def _key(rows):
    return sorted(
        (r["query_id"], r["tid"], r["knn_rank"], r["dist2"]) for r in rows
    )


def _assert_index_matches_brute(q, t, k, want_q=None, want_t=None, **kw):
    """knn_join on the index path equals knn_brute over ``want_q`` and
    ``want_t`` (default: the same inputs)."""
    sp.clear_polygon_index_cache()
    cols = ["tid", "x", "y", "tie"]
    got = knn_join(q, t, k=k, grid=GRID, target_cols=cols, tie_break="tie", **kw)
    assert any(key[0] == "knn" for key in sp._INDEX_CACHE), "index path not taken"
    want = knn_brute(
        q if want_q is None else want_q, t if want_t is None else want_t,
        k=k, target_cols=cols, tie_break="tie",
    )
    got_rows = got.collect()
    assert _key(got_rows) == _key(want.collect())
    return got, got_rows


def test_ties_broken_by_long(spark):
    got, rows = _assert_index_matches_brute(
        _centre_queries(spark), _targets(spark), k=3
    )
    assert len(rows) == 30
    assert got.schema == knn_brute(
        _centre_queries(spark), _targets(spark), k=3,
        target_cols=["tid", "x", "y", "tie"], tie_break="tie",
    ).select(*got.columns).schema


def test_ties_broken_by_string(spark):
    # binary string order: upper case before lower case, ASCII before
    # multi-byte UTF-8
    alphabet = ["B", "a", "Zz", "é", "b", "A", "ü", "aa"]
    t = _targets(
        spark, StringType(), ties=lambda i: alphabet[i % 8] + str(i)
    )
    _assert_index_matches_brute(_centre_queries(spark), t, k=3)


def test_null_tie_values_rank_first(spark):
    # a query's four tied targets are the corners of one lattice cell,
    # and exactly one corner has even x and even y: one NULL per tie
    t = _targets(spark).withColumn(
        "tie",
        F.when((F.col("x") % 2 == 0) & (F.col("y") % 2 == 0), F.lit(None))
        .otherwise(F.col("tie")),
    )
    _, rows = _assert_index_matches_brute(_centre_queries(spark), t, k=2)
    assert all((r["t_x"] % 2, r["t_y"] % 2) == (0, 0)
               for r in rows if r["knn_rank"] == 1)


def test_exact_duplicate_query_and_target_rows(spark):
    q = _centre_queries(spark, 6)
    t = _targets(spark)
    _, rows = _assert_index_matches_brute(
        q.unionByName(q.limit(3)), t.unionByName(t.limit(20)), k=4,
        want_q=q, want_t=t,
    )
    assert len(rows) == 6 * 4


@pytest.mark.parametrize("max_rounds", [0, 1, 6])
def test_empty_region_queries_take_the_exact_scan(spark, max_rounds):
    # the lattice spans 0..11: these queries see no target for many
    # rings, and with max_rounds 0 or 1 they resolve only by the scan
    q = _queries(spark, [(0, 400.5, 300.5), (1, -90.0, 5.5), (2, 5.5, 5.5)])
    _assert_index_matches_brute(q, _targets(spark), k=5, max_rounds=max_rounds)


def test_stop_rule_waits_for_the_covered_radius(spark):
    # query in cell (5, 5) at its left edge; the radius-1 square (cells
    # 4..6) holds only B at distance 3.0, beyond the covered radius 2,
    # so the search must widen and find A at 2.5 in cell 3
    t = spark.createDataFrame(
        [(0, 7.51, 10.5, 0), (1, 13.01, 10.5, 1), (2, 40.0, 40.0, 2)],
        "tid long, x double, y double, tie long",
    )
    q = _queries(spark, [(0, 10.01, 10.5)])
    _, rows = _assert_index_matches_brute(q, t, k=1)
    assert [r["tid"] for r in rows] == [0]


def test_k_past_target_count(spark):
    t = _targets(spark, n=2)
    _, rows = _assert_index_matches_brute(_centre_queries(spark, 3), t, k=10)
    assert len(rows) == 3 * 4


def test_empty_query_frame(spark):
    q = _queries(spark, [])
    got, rows = _assert_index_matches_brute(q, _targets(spark), k=3)
    assert rows == []
    assert got.columns == ["query_id", "x", "y", "tid", "t_x", "t_y", "tie",
                           "dist2", "knn_rank"]


def test_null_coordinates(spark):
    t = _targets(spark)
    missing = t.withColumn(
        "x", F.when(F.col("tid") % 5 == 0, F.lit(None)).otherwise(F.col("x"))
    )
    # a NULL-coordinate target is never a neighbor; a NULL-coordinate
    # query ranks every target at a NULL dist2, i.e. by tie_break
    q = _queries(spark, [(0, 3.5, 4.5), (1, None, 2.0), (2, 7.25, 1.0)])
    _, rows = _assert_index_matches_brute(
        q, missing, k=4, want_t=missing.where(F.col("x").isNotNull()),
    )
    assert all(r["tid"] % 5 for r in rows)
    assert [r["dist2"] for r in rows if r["query_id"] == 1] == [None] * 4


def test_warm_call_starts_no_job_and_persists_nothing(spark):
    sc = spark.sparkContext
    q, t = _centre_queries(spark), _targets(spark)
    cols = ["tid", "x", "y", "tie"]
    sp.clear_polygon_index_cache()
    knn_join(q, t, k=3, grid=GRID, target_cols=cols, tie_break="tie").count()
    persisted = sc._jsc.sc().getPersistentRDDs().size()
    sc.setJobGroup("knn-warm-call", "knn_join construction only")
    try:
        out = knn_join(q, t, k=3, grid=GRID, target_cols=cols, tie_break="tie")
        assert list(sc.statusTracker().getJobIdsForGroup("knn-warm-call")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out.count() == 30
    assert sc._jsc.sc().getPersistentRDDs().size() <= persisted


@pytest.mark.parametrize("path", ["index", "rounds"])
@pytest.mark.parametrize(
    "bad, msg",
    [({"k": 0}, "k >= 1"), ({"k": -1}, "k >= 1"),
     ({"k": 3, "max_rounds": -1}, "max_rounds >= 0")],
    ids=["k_zero", "k_negative", "max_rounds_negative"],
)
def test_bad_k_or_max_rounds_raise_before_any_job(spark, monkeypatch, path,
                                                  bad, msg):
    # a cold cache: without the argument check the index path would
    # probe and build (and then return rows), the round loop would run
    # its rounds and raise the wrong error
    sc = spark.sparkContext
    q, t = _centre_queries(spark), _targets(spark)
    sp.clear_polygon_index_cache()
    if path == "rounds":
        monkeypatch.setattr(sp, "_resolve_broadcast", lambda *a, **k: False)
    group = f"knn-bad-args-{path}-{sorted(bad.items())}"
    sc.setJobGroup(group, "knn_join argument check")
    try:
        with pytest.raises(ValueError, match=msg):
            knn_join(q, t, grid=GRID, target_cols=["tid", "x", "y", "tie"],
                     tie_break="tie", **bad)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sp._INDEX_CACHE


def test_round_loop_matches_index(spark, monkeypatch):
    q = _queries(spark, [(i, 0.25 + (i * 5) % 11, 0.75 + (i * 4) % 11)
                         for i in range(15)])
    t = _targets(spark)
    cols = ["tid", "x", "y", "tie"]
    sp.clear_polygon_index_cache()
    index = knn_join(q, t, k=4, grid=GRID, target_cols=cols, tie_break="tie")
    assert any(key[0] == "knn" for key in sp._INDEX_CACHE)
    index_rows = _key(index.collect())
    sp.clear_polygon_index_cache()
    monkeypatch.setattr(sp, "_resolve_broadcast", lambda *a, **k: False)
    rounds = knn_join(q, t, k=4, grid=GRID, target_cols=cols, tie_break="tie")
    assert not sp._INDEX_CACHE
    assert _key(rounds.collect()) == index_rows
    assert rounds.schema == index.schema
    sp.release_operator_caches("knn_join")


def test_polygon_probe_never_reuses_a_knn_entry(spark):
    # one frame that is both a polygon side (wkb + bbox) and a kNN
    # target side (x, y): unit squares at 0..4 on the diagonal
    rows = [
        (i, bytes(wkb_polygon([[(i, i), (i, i + 1), (i + 1, i + 1),
                                (i + 1, i), (i, i)]])),
         float(i), float(i), i + 1.0, i + 1.0, i + 0.5, i + 0.5)
        for i in range(5)
    ]
    both = spark.createDataFrame(
        rows, "tid long, wkb binary, xmin double, ymin double, xmax double,"
        " ymax double, x double, y double",
    )
    sp.clear_polygon_index_cache()
    knn_join(_centre_queries(spark, 3), both, k=1, grid=GRID,
             target_cols=["tid", "x", "y"]).collect()
    assert [key[0] for key in sp._INDEX_CACHE] == ["knn"]
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, 2.5, 2.5), (2, 0.5, 3.5)], "pid long, x double, y double"
    )
    got = spatial_semi_join(pts, both, grid=GRID)
    assert sorted(r["pid"] for r in got.collect()) == [0, 1]
    polygon_entries = [
        idx for key, idx in sp._INDEX_CACHE.items() if key[0] != "knn"
    ]
    assert len(sp._INDEX_CACHE) == 2
    assert [type(i) for i in polygon_entries] == [BroadcastPolygonIndex]
    sp.clear_polygon_index_cache()
    assert not sp._INDEX_CACHE
