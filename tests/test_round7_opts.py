"""Round-7 optimization invariants.

1. The broadcast-size probe short-circuit: once an index for a polygon
   plan is cached, auto-path joins reuse it without re-probing, and a
   geometry-only request (semi/anti, polygon_cols=[]) reuses an index
   built WITH attribute columns instead of building a second one.
2. point_out_cols on spatial_semi_join / spatial_anti_join trims the
   output columns without changing row content on both paths.
3. knn_join's running top-k fold (the round loop, past the broadcast
   guard) releases every per-round cache except the one backing the
   returned frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession

import pyshp_spark.operators.spatial as sp
from pyshp_spark.functions.cells import Grid
from pyshp_spark.kernels.wkb import wkb_polygon
from pyshp_spark.operators.spatial import (
    knn_brute,
    knn_join,
    point_in_polygon_join,
    spatial_anti_join,
    spatial_semi_join,
)


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("round7-opts")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


GRID4 = Grid(x0=0.0, y0=0.0, dx=4.0, dy=4.0, width=1 << 10)


def _polys(spark):
    rows = []
    for oid, (cx, cy, r) in enumerate([(10.0, 10.0, 5.0), (30.0, 30.0, 8.0),
                                       (50.0, 10.0, 6.0)]):
        ring = np.array(
            [[cx, cy + r], [cx + r, cy], [cx, cy - r], [cx - r, cy],
             [cx, cy + r]]
        )
        rows.append((oid, bytearray(wkb_polygon([ring])),
                     cx - r, cy - r, cx + r, cy + r))
    return spark.createDataFrame(
        rows, "oid long, wkb binary, xmin double, ymin double, "
              "xmax double, ymax double",
    )


def _pts(spark):
    return spark.createDataFrame(
        pd.DataFrame({
            "pid": range(6),
            "x": [10.0, 30.0, 50.0, 90.0, 30.0, 10.0],
            "y": [10.0, 30.0, 10.0, 90.0, 31.0, 80.0],
        })
    )


def test_geometry_only_request_reuses_attr_index(spark):
    sp.clear_polygon_index_cache()
    polys, pts = _polys(spark), _pts(spark)
    inner = point_in_polygon_join(pts, polys, grid=GRID4, polygon_cols=["oid"])
    inner.count()
    assert len(sp._INDEX_CACHE) == 1
    # geometry-only anti/semi must reuse the ["oid"] index, not build a
    # second one under the [] key
    anti = spatial_anti_join(pts, polys, grid=GRID4)
    semi = spatial_semi_join(pts, polys, grid=GRID4)
    got_anti = sorted(r.pid for r in anti.collect())
    got_semi = sorted(r.pid for r in semi.collect())
    assert len(sp._INDEX_CACHE) == 1
    # ground truth from the forced sort-merge path
    want_semi = sorted(
        r.pid for r in spatial_semi_join(
            pts, polys, grid=GRID4, broadcast_polygons=False
        ).collect()
    )
    assert got_semi == want_semi
    assert sorted(got_anti + got_semi) == sorted(r.pid for r in pts.collect())


def test_semi_anti_point_out_cols_trim(spark):
    sp.clear_polygon_index_cache()
    polys, pts = _polys(spark), _pts(spark)
    for bc in ("auto", False):
        anti = spatial_anti_join(
            pts, polys, grid=GRID4, broadcast_polygons=bc,
            point_out_cols=["pid"],
        )
        assert anti.columns == ["pid"]
        full = spatial_anti_join(
            pts, polys, grid=GRID4, broadcast_polygons=bc
        )
        assert sorted(r.pid for r in anti.collect()) == sorted(
            r.pid for r in full.collect()
        )
        semi = spatial_semi_join(
            pts, polys, grid=GRID4, broadcast_polygons=bc,
            point_out_cols=["pid"],
        )
        assert semi.columns == ["pid"]
        fulls = spatial_semi_join(
            pts, polys, grid=GRID4, broadcast_polygons=bc
        )
        assert sorted(r.pid for r in semi.collect()) == sorted(
            r.pid for r in fulls.collect()
        )


def test_vectorized_cover_matches_per_row(spark):
    """The batch-vectorized cover in _parse_polygons_distributed must
    reproduce bbox_cover_np per row exactly (values AND order),
    including NaN-bbox and inverted-bbox rows (empty cover)."""
    rows = []
    ring = np.array([[0.0, 0.0], [0.0, 8.0], [8.0, 8.0], [8.0, 0.0],
                     [0.0, 0.0]])
    rng = np.random.default_rng(7)
    for oid in range(40):
        x0, y0 = rng.uniform(-30, 30, 2)
        w, h = rng.uniform(0, 25, 2)
        rows.append((oid, bytearray(wkb_polygon([ring])),
                     float(x0), float(y0), float(x0 + w), float(y0 + h)))
    rows.append((100, bytearray(wkb_polygon([ring])),
                 float("nan"), 0.0, 5.0, 5.0))       # NaN bbox -> empty
    rows.append((101, bytearray(wkb_polygon([ring])),
                 9.0, 0.0, 1.0, 5.0))                # inverted -> empty
    polys = spark.createDataFrame(
        rows, "oid long, wkb binary, xmin double, ymin double, "
              "xmax double, ymax double",
    )
    pdf = sp._parse_polygons_distributed(polys, GRID4).toPandas()
    got = {
        int(o): np.frombuffer(b, dtype=np.int64)
        for o, b in zip(pdf["oid"], pdf[sp._P + "cover"])
    }
    # the partitioned path's split: each row once per bucket (key % 5)
    # of its keys cell * 3 + salt
    split = sp._parse_polygons_distributed(polys, GRID4, (3, 5)).toPandas()
    for oid, _, x0, y0, x1, y1 in rows:
        if np.isnan([x0, y0, x1, y1]).any() or x1 < x0 or y1 < y0:
            want = np.empty(0, dtype=np.int64)
        else:
            want = GRID4.bbox_cover_np(x0, y0, x1, y1).astype(np.int64)
        assert np.array_equal(got[oid], want), oid
        part = split[split["oid"] == oid]
        keys = [np.frombuffer(b, dtype=np.int64) for b in part[sp._P + "keys"]]
        assert part[sp._P + "bucket"].is_unique, oid
        assert all((kk % 5 == b).all() for kk, b in zip(keys, part[sp._P + "bucket"]))
        got_keys = np.concatenate(keys) if keys else np.empty(0, np.int64)
        assert sorted(got_keys) == sorted(
            (want[:, None] * 3 + np.arange(3)).ravel()
        ), oid


def test_first_ring_stats_matches_scalar_kernels():
    """first_ring_stats' vectorized fast path must be BIT-identical to
    the scalar kernels on every input — random rings (both windings,
    open and closed), degenerate/straight starts, duplicate leading
    coords, NaNs, tiny and >96-vertex rings, and empty shapes all
    differentially checked against the scalar path."""
    from pyshp_spark.kernels.rings import (
        _first_ring_stats_scalar,
        first_ring_stats,
    )

    rng = np.random.default_rng(11)
    cases = []
    for _ in range(300):
        n = int(rng.integers(3, 12))
        r = rng.uniform(-100, 100, (n, 2))
        if rng.random() < 0.5:
            r = np.vstack([r, r[:1]])  # closed
        cases.append([r])
    # regular convex rings (fast path certain), both windings
    th = np.linspace(0, 2 * np.pi, 9)
    circ = np.stack([np.cos(th), np.sin(th)], axis=1) * 10
    cases.append([circ])
    cases.append([circ[::-1].copy()])
    # straight first triplet
    cases.append([np.array([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0],
                            [2.0, 2.0], [0.0, 0.0]])])
    # duplicate leading coords
    cases.append([np.array([[0.0, 0.0], [0.0, 0.0], [3.0, 0.0],
                            [3.0, 3.0], [0.0, 0.0]])])
    # NaN coords
    cases.append([np.array([[0.0, 0.0], [np.nan, 1.0], [2.0, 0.0],
                            [0.0, 0.0]])])
    # long ring (>96 vertices: scalar-only path)
    th2 = np.linspace(0, 2 * np.pi, 120)
    cases.append([np.stack([np.cos(th2), np.sin(th2)], axis=1) * 5])
    # empty shape + multi-ring shape (only ring[0] counts)
    cases.append([])
    cases.append([circ, circ[::-1].copy() * 0.3])
    def same(u, v):
        return u == v or (
            isinstance(u, float) and isinstance(v, float)
            and np.isnan(u) and np.isnan(v)
        )

    got = first_ring_stats(cases)
    for i, rings in enumerate(cases):
        want = (
            (None, None, None, None) if not rings
            else _first_ring_stats_scalar(rings[0])
        )
        assert all(same(g, w) for g, w in zip(got[i], want)), (
            i, got[i], want,
        )


def _n_persisted(spark):
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_operator_cache_generations_bounded_and_releasable(spark):
    """VERDICT r6 task #1: the partitioned PIP join persists nothing, so
    three calls leave no cached frame behind, and release_operator_caches
    still accepts its retired "pip_shuffle" generation as a no-op."""
    sp.clear_polygon_index_cache()
    sp.release_operator_caches()
    polys, pts = _polys(spark), _pts(spark)
    base = _n_persisted(spark)
    want = None
    for _ in range(3):
        out = point_in_polygon_join(
            pts, polys, grid=GRID4, polygon_cols=["oid"],
            broadcast_polygons=False,
        )
        got = sorted((r.pid, r.oid) for r in out.collect())
        if want is None:
            want = got
        assert got == want
        # nothing persisted above baseline
        assert _n_persisted(spark) - base <= 0
    sp.release_operator_caches("pip_shuffle")
    # <=, not ==: unpersist() is async and the module-scoped session is
    # shared across test files, so an EARLIER test's release can land
    # between the baseline capture and here, dropping the count below
    # base (the accumulation bound above is the leak detector)
    assert _n_persisted(spark) <= base


def test_hole_assign_caches_released(spark):
    import numpy as np  # noqa: PLC0415

    from pyshp_spark.operators.spatial import assign_holes_distributed  # noqa: PLC0415

    sp.release_operator_caches()
    # CW exterior (negative shoelace), CCW hole
    ext = np.array([[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0],
                    [0.0, 0.0]])
    hole = np.array([[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0],
                     [2.0, 2.0]])[::-1].copy()
    rows = []
    for sid in range(3):
        rows.append((sid, 0, bytearray(wkb_polygon([ext])),
                     0.0, 0.0, 10.0, 10.0))
        rows.append((sid, 1, bytearray(wkb_polygon([hole])),
                     2.0, 2.0, 4.0, 4.0))
    rings = spark.createDataFrame(
        rows, "shape_id long, ring_idx int, wkb binary, xmin double, "
              "ymin double, xmax double, ymax double",
    )
    base = _n_persisted(spark)
    for _ in range(2):
        out = assign_holes_distributed(rings)
        assert out.count() == 6
        # hole assignment persists nothing
        assert _n_persisted(spark) - base <= 0
    # the retired "assign_holes" generation is still accepted, a no-op
    sp.release_operator_caches("assign_holes")
    # <= for the same async-unpersist reason as the PIP test
    assert _n_persisted(spark) <= base


class TestStratifiedPrefilterLazy:
    """VERDICT r6 task #2: the two-level prefilter must be fully lazy
    (zero jobs at construction) and lineage-recoverable (bit-identical
    output after a forced cache drop)."""

    def _docs(self, spark):
        import pandas as pd  # noqa: PLC0415

        rng = np.random.default_rng(3)
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(4000),
            "lang": rng.choice(["en", "de", "fr"], 4000, p=[0.8, 0.15, 0.05]),
        }))

    def test_construction_runs_no_jobs(self, spark):
        from pyshp_spark.operators.opcache import release_operator_caches  # noqa: PLC0415
        from pyshp_spark.operators.sample import stratified_sample_n  # noqa: PLC0415

        release_operator_caches()
        df = self._docs(spark)
        df.count()  # materialize input outside the probe window
        sc = spark.sparkContext
        sc.setJobGroup("strat-lazy-probe", "construction must be lazy")
        try:
            out = stratified_sample_n(
                df, "lang", 7, "doc_id", hash="knuth", prefilter=True
            )
            out.explain()
            jobs = sc.statusTracker().getJobIdsForGroup("strat-lazy-probe")
            assert list(jobs) == [], f"construction ran jobs: {jobs}"
        finally:
            sc.setJobGroup(None, None)
        assert out.count() == 21

    def test_forced_recompute_bit_identical(self, spark):
        from pyshp_spark.operators.opcache import release_operator_caches  # noqa: PLC0415
        from pyshp_spark.operators.sample import stratified_sample_n  # noqa: PLC0415

        df = self._docs(spark)
        out = stratified_sample_n(
            df, "lang", 7, "doc_id", hash="knuth", prefilter=True
        )
        want = sorted((r.doc_id, r.lang) for r in out.collect())
        # drop the persisted blocks: the SAME frame must recompute
        # through lineage to the SAME rows
        release_operator_caches("stratified_sample")
        got = sorted((r.doc_id, r.lang) for r in out.collect())
        assert got == want
        plain = stratified_sample_n(
            df, "lang", 7, "doc_id", hash="knuth", prefilter=False
        )
        assert want == sorted((r.doc_id, r.lang) for r in plain.collect())


class TestBandStoreCompactionCollapse:
    """VERDICT r6 task #6: compaction folds fully-redundant band rows
    (re-admitted identical content under fresh ids) — kept_per_batch is
    identical to an uncompacted run, and the compacted band store holds
    strictly fewer rows than the raw track_dropped accumulation."""

    def _run(self, spark, state, compact_every):
        from pyshp_spark.streaming.neardup_stream import (  # noqa: PLC0415
            neardup_filter_batch,
        )

        base = [
            f"doc number {i} talks about topic {i} in some detail with "
            f"several shared words {i}" for i in range(6)
        ]
        kept_counts = []
        for bi in range(8):
            rows = []
            # 3 fresh docs per batch + 3 re-sends of batch-0 texts
            for j in range(3):
                rows.append((bi * 100 + j,
                             f"unique batch {bi} doc {j} text body {bi}-{j} "
                             f"with distinct tokens {bi * 10 + j}"))
            for j in range(3):
                rows.append((bi * 100 + 50 + j, base[j]))
            df = spark.createDataFrame(rows, "doc_id long, text string")
            kept = neardup_filter_batch(
                df, state, batch_id=bi, compact_every=compact_every
            )
            kept_counts.append(kept.count())
        return kept_counts

    def test_kept_identical_and_store_smaller(self, spark, tmp_path):
        import os  # noqa: PLC0415

        ref = self._run(spark, str(tmp_path / "nocompact"), compact_every=0)
        got = self._run(spark, str(tmp_path / "compact"), compact_every=4)
        assert got == ref
        bands_c = spark.read.parquet(str(tmp_path / "compact" / "bands"))
        bands_n = spark.read.parquet(str(tmp_path / "nocompact" / "bands"))
        # raw store: one row per (doc, band) of the whole raw stream;
        # collapsed store folds the re-sent duplicates
        assert bands_c.count() < bands_n.count()
        # the collapsed store still rejects re-admitted content and
        # resolves members to their accepted representative
        from pyshp_spark.streaming.neardup_stream import (  # noqa: PLC0415
            neardup_filter_batch,
        )

        probe = spark.createDataFrame(
            [(9_000, "doc number 0 talks about topic 0 in some detail "
                     "with several shared words 0")],
            "doc_id long, text string",
        )
        kept = neardup_filter_batch(
            probe, str(tmp_path / "compact"), batch_id=8, compact_every=4
        )
        assert kept.count() == 0


def test_knn_fold_releases_round_caches(spark, monkeypatch):
    # the round loop runs only past the broadcast guard: clear the
    # index cache (a hit would bypass the patch) and force it
    sp.clear_polygon_index_cache()
    monkeypatch.setattr(sp, "_resolve_broadcast", lambda *a, **k: False)
    rng = np.random.default_rng(11)
    q = spark.createDataFrame(pd.DataFrame({
        "query_id": range(20),
        "x": rng.uniform(0, 100, 20),
        "y": rng.uniform(0, 100, 20),
    }))
    t = spark.createDataFrame(pd.DataFrame({
        "tid": range(300),
        "x": rng.uniform(0, 100, 300),
        "y": rng.uniform(0, 100, 300),
    }))
    grid = Grid(x0=0.0, y0=0.0, dx=10.0, dy=10.0, width=1 << 10)
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = knn_join(q, t, k=3, grid=grid, target_cols=["tid", "x", "y"],
                   tie_break="tid")
    got = {(r.query_id, r.tid, r.knn_rank) for r in out.collect()}
    want = {(r.query_id, r.tid, r.knn_rank) for r in knn_brute(
        q, t, k=3, target_cols=["tid", "x", "y"], tie_break="tid"
    ).collect()}
    assert got == want
    # only the returned frame's backing cache may remain
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1
