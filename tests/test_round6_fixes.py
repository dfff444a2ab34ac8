"""Round-6 fixes, pinned:

1. BroadcastPolygonIndex builds its edge/cover buffers DISTRIBUTED
   (mapInPandas) — identical join output, null-geometry rows handled.
2. The partitioned (salted or not) PIP path has NO localCheckpoint in
   the plan (fault-tolerant on executor loss), matches the broadcast
   index, and keeps duplicate polygon rows' multiplicity.
3. knn_join runs one extra widened ring before conceding, and the
   straggler fallback REFUSES to run a distributed cartesian against
   an unbroadcastable target side (loud error instead).
4. point_out_cols trims refine output width (zonal_stats coords never
   return through Arrow).
5. with_ring_sample keeps NULL-wkb rows (NULL sample coords).
6. Streaming near-dup compaction recovers orphaned staging dirs at
   EVERY batch start, whatever the cadence.
7. assign_holes_distributed == the scalar organize_polygon_rings on the
   golden pathology cases, a 300-exterior shape, an exterior past the
   cover cap, shapes split across Arrow batches and random shapes (the
   kernel alone), and == the reference organizer on the real
   multipart blockgroups corpus.
"""

import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pyshp_spark.functions.cells import Grid
from pyshp_spark.kernels.rings import is_cw, organize_polygon_rings, ring_bbox
from pyshp_spark.kernels.wkb import wkb_polygon
from pyshp_spark.operators.geometry import with_ring_sample
from pyshp_spark.operators.spatial import (
    BroadcastPolygonIndex,
    assign_holes_distributed,
    knn_join,
    point_in_polygon_join,
    zonal_stats,
)

GRID4 = Grid(x0=0.0, y0=0.0, dx=2.5, dy=2.5, width=1 << 10)

FIXDIR = "/root/reference/tests/shapefiles"


def _diamond(cx, cy, r=1.0):
    """CW diamond ring around (cx, cy)."""
    return [(cx, cy + r), (cx + r, cy), (cx, cy - r), (cx - r, cy), (cx, cy + r)]


def _poly_rows(spark, specs):
    """specs: list of (attrs_dict, ring | None)."""
    rows = []
    for attrs, ring in specs:
        if ring is None:
            rows.append(Row(wkb=None, xmin=None, ymin=None, xmax=None,
                            ymax=None, **attrs))
        else:
            xmin, ymin, xmax, ymax = ring_bbox(np.asarray(ring, dtype=float))
            rows.append(Row(wkb=bytearray(wkb_polygon([ring])), xmin=xmin,
                            ymin=ymin, xmax=xmax, ymax=ymax, **attrs))
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def polys(spark):
    specs = [({"pid": i}, _diamond(2.0 + 3 * (i % 4), 2.0 + 3 * (i // 4)))
             for i in range(8)]
    specs.append(({"pid": 98}, None))  # NULL geometry row
    return _poly_rows(spark, specs)


@pytest.fixture(scope="module")
def pts(spark):
    rows = [Row(point_id=i, x=float((i * 7) % 13), y=float((i * 5) % 11))
            for i in range(300)]
    return spark.createDataFrame(rows)


def _pairs(df, pcol="point_id", gcol="pid"):
    return sorted((r[pcol], r[gcol]) for r in df.collect())


class TestDistributedIndexBuild:
    def test_broadcast_matches_shuffle_with_null_rows(self, spark, polys, pts):
        bcast = point_in_polygon_join(
            pts, polys, grid=GRID4, broadcast_polygons=True
        )
        shuf = point_in_polygon_join(
            pts, polys, grid=GRID4, broadcast_polygons=False
        )
        got, want = _pairs(bcast), _pairs(shuf)
        assert got == want
        assert len(got) > 0

    def test_no_blob_columns_survive(self, spark, polys):
        idx = BroadcastPolygonIndex(polys, grid=GRID4)
        assert not any(c.startswith("__ps_") for c in idx.pol_pdf.column_names)
        # the broadcast state is the six flat numpy buffers, then the
        # attribute table's IPC bytes
        state = idx.bc.value
        assert len(state) == 7
        assert all(isinstance(a, np.ndarray) for a in state[:6])
        all_edges, edge_offsets = state[0], state[1]
        assert all_edges.shape[1] == 4
        # 8 diamonds x 4 edges; the NULL row contributes zero edges
        assert int(edge_offsets[-1]) == 32


class TestPartitionedPath:
    def test_no_localcheckpoint_scan_in_plan(self, spark, polys, pts,
                                             tmp_path):
        # parquet-backed inputs: any ExistingRDD scan left in the plan
        # could then only come from a localCheckpoint materialization
        polys.write.parquet(str(tmp_path / "polys"))
        pts.write.parquet(str(tmp_path / "pts"))
        out = point_in_polygon_join(
            spark.read.parquet(str(tmp_path / "pts")),
            spark.read.parquet(str(tmp_path / "polys")),
            grid=GRID4, broadcast_polygons=False, salt_k=2,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan

    def test_salted_matches_broadcast(self, spark, polys, pts):
        salted = point_in_polygon_join(
            pts, polys, grid=GRID4, broadcast_polygons=False, salt_k=3
        )
        bcast = point_in_polygon_join(
            pts, polys, grid=GRID4, broadcast_polygons=True
        )
        assert _pairs(salted) == _pairs(bcast)

    @pytest.mark.parametrize("salt_k", [None, 3], ids=["unsalted", "salted"])
    def test_duplicate_polygon_rows_keep_multiplicity(self, spark, pts, salt_k):
        ring = _diamond(2.0, 2.0)
        dup = _poly_rows(
            spark, [({"pid": 1}, ring), ({"pid": 1}, ring), ({"pid": 2}, ring)]
        )
        out = point_in_polygon_join(
            pts, dup, grid=GRID4, broadcast_polygons=False, salt_k=salt_k
        )
        counts = {
            r["pid"]: r["n"]
            for r in out.groupBy("pid").agg(F.count("*").alias("n")).collect()
        }
        # the two identical pid=1 rows each produce their own matches
        assert counts.get(1, 0) == 2 * counts.get(2, 0) > 0


class TestKnnFallbackBounds:
    def test_extra_ring_resolves_unbroadcastable_without_cartesian(
        self, spark, monkeypatch
    ):
        import pyshp_spark.operators.spatial as sp

        # simulate a fact-sized target side: the index path is
        # forbidden, so only the extra widened ring can resolve (a
        # cached index would answer before the patched guard is asked)
        sp.clear_polygon_index_cache()
        monkeypatch.setattr(sp, "_resolve_broadcast", lambda *a, **k: False)
        queries = spark.createDataFrame([Row(query_id=0, x=0.0, y=0.0)])
        # target sits ~3 cells away: radius 1, 2 miss; the extra
        # widened ring (radius 4 = 2^max_rounds) must reach it
        targets = spark.createDataFrame([Row(tid=0, x=7.6, y=0.0)])
        out = knn_join(
            queries, targets, k=1, grid=GRID4,
            target_cols=["tid", "x", "y"], max_rounds=2,
        )
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["tid"] == 0

    def test_unbroadcastable_target_raises(self, spark, monkeypatch):
        import pyshp_spark.operators.spatial as sp

        # simulate a fact-sized target side without materializing 4M rows
        sp.clear_polygon_index_cache()
        monkeypatch.setattr(sp, "_resolve_broadcast", lambda *a, **k: False)
        queries = spark.createDataFrame([Row(query_id=0, x=0.0, y=0.0)])
        targets = spark.createDataFrame(
            [Row(tid=i, x=500.0 + i, y=500.0) for i in range(20)]
        )
        with pytest.raises(RuntimeError, match="too large to broadcast"):
            knn_join(
                queries, targets, k=1, grid=GRID4,
                target_cols=["tid", "x", "y"], max_rounds=0,
            )


class TestPointOutCols:
    def test_trimmed_output_columns_and_values(self, spark, polys, pts):
        vals = pts.withColumn("v", (F.col("point_id") % 7).cast("long"))
        for bc in (True, False):
            full = point_in_polygon_join(
                vals, polys, grid=GRID4, broadcast_polygons=bc,
                point_cols=["point_id", "x", "y", "v"],
            )
            trim = point_in_polygon_join(
                vals, polys, grid=GRID4, broadcast_polygons=bc,
                point_cols=["point_id", "x", "y", "v"],
                point_out_cols=["point_id", "v"],
            )
            assert set(trim.columns) == {"point_id", "v", "pid"}
            want = sorted(
                (r["point_id"], r["v"], r["pid"]) for r in full.collect()
            )
            got = sorted(
                (r["point_id"], r["v"], r["pid"]) for r in trim.collect()
            )
            assert got == want

    def test_point_out_cols_validation(self, spark, polys, pts):
        with pytest.raises(ValueError, match="point_out_cols"):
            point_in_polygon_join(
                pts, polys, grid=GRID4, point_cols=["x", "y"],
                point_out_cols=["nope"],
            )

    def test_zonal_stats_unchanged_by_trim(self, spark, polys, pts):
        vals = pts.withColumn("v", (F.col("point_id") % 7).cast("long"))
        zs = zonal_stats(
            vals, polys, value_cols=["v"], grid=GRID4, polygon_cols=["pid"]
        )
        joined = point_in_polygon_join(
            vals, polys, grid=GRID4, point_cols=["x", "y", "v"],
            polygon_cols=["pid"],
        )
        want = {
            r["pid"]: (r["n"], r["s"])
            for r in joined.groupBy("pid")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        got = {r["pid"]: (r["n_points"], r["v_sum"]) for r in zs.collect()}
        assert got == want and len(got) > 0


def test_with_ring_sample_keeps_null_wkb_rows(spark):
    df = _poly_rows(
        spark, [({"pid": 1}, _diamond(2.0, 2.0)), ({"pid": 2}, None)]
    )
    out = with_ring_sample(df).select("pid", "sx", "sy").collect()
    by_pid = {r["pid"]: (r["sx"], r["sy"]) for r in out}
    assert len(out) == 2
    assert by_pid[2] == (None, None)
    assert by_pid[1][0] is not None


class TestCompactionRecovery:
    def _mk_store(self, spark, path, nbatches=3):
        for b in range(nbatches):
            df = spark.createDataFrame(
                [Row(id=f"d{b}_{i}", band=i % 2, band_sig=f"s{i}",
                     __bucket=i % 4) for i in range(6)]
            )
            (
                df.write.partitionBy("__bucket")
                .mode("overwrite")
                .parquet(os.path.join(path, f"batch_id={b}"))
            )

    def test_orphaned_success_tmp_promoted(self, spark, tmp_path):
        from pyshp_spark.streaming.neardup_stream import (
            _compact_state,
            _recover_compaction,
        )

        path = str(tmp_path / "bands")
        self._mk_store(spark, path)
        total = spark.read.parquet(path).count()
        # stage a full compaction for batch 3, then simulate a crash
        # AFTER retiring the old dirs but BEFORE the rename
        _compact_state(spark, path, 3, key_cols=["id", "band"],
                       sort_cols=["band", "band_sig"])
        assert os.path.isdir(os.path.join(path, "batch_id=2"))
        os.rename(os.path.join(path, "batch_id=2"),
                  os.path.join(path, ".compact_tmp_3"))
        # store is now "invisible" — recovery must repair it even
        # though batch 4's cadence would not trigger compaction
        _recover_compaction(path)
        assert os.path.isdir(os.path.join(path, "batch_id=2"))
        assert spark.read.parquet(path).count() == total
        assert not any(d.startswith(".compact_tmp") for d in os.listdir(path))

    def test_half_written_tmp_dropped(self, spark, tmp_path):
        from pyshp_spark.streaming.neardup_stream import _recover_compaction

        path = str(tmp_path / "bands2")
        self._mk_store(spark, path, nbatches=2)
        total = spark.read.parquet(path).count()
        tmp = os.path.join(path, ".compact_tmp_2")
        os.makedirs(os.path.join(tmp, "__bucket=0"))
        with open(os.path.join(tmp, "__bucket=0", "part-0.parquet"), "wb") as f:
            f.write(b"not parquet")  # no _SUCCESS: half-write
        _recover_compaction(path)
        assert not os.path.isdir(tmp)
        assert spark.read.parquet(path).count() == total


class TestKeeperChaining:
    """A doc that near-dups only a DROPPED member of an earlier batch
    must still be rejected and resolve to the accepted representative
    (member→keeper mapping closes the first-arrival-wins divergence)."""

    @staticmethod
    def _texts():
        toks = [f"t{i}" for i in range(30)]
        b = " ".join(toks)
        # A: B with the last 6 tokens replaced  -> J(A,B) ~ 0.65
        a = " ".join(toks[:24] + [f"x{i}" for i in range(6)])
        # C: B with the first 6 tokens replaced -> J(C,B) ~ 0.65 but
        # J(C,A) ~ 0.38 (below threshold): C chains only through B
        c = " ".join([f"z{i}" for i in range(6)] + toks[6:])
        return a, b, c

    def test_chained_doc_rejected_and_mapped(self, spark, tmp_path):
        import pandas as pd

        from pyshp_spark.operators.dedup import true_jaccard_udf
        from pyshp_spark.streaming.neardup_stream import neardup_filter_batch

        a, b, c = self._texts()
        jac = spark.createDataFrame(
            pd.DataFrame({"x": [a, c, a], "y": [b, b, c]})
        ).select(F.round(true_jaccard_udf(3)("x", "y"), 6).alias("j")).collect()
        assert jac[0]["j"] >= 0.5 and jac[1]["j"] >= 0.5 and jac[2]["j"] < 0.5

        state = str(tmp_path / "chain_keeper")
        first = neardup_filter_batch(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [1, 2], "text": [a, b]})
            ),
            state, batch_id=0,
        )
        # A (smaller id) keeps, B drops but its bands+text persist
        assert [r.doc_id for r in first.collect()] == [1]
        second = neardup_filter_batch(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [3], "text": [c]})
            ),
            state, batch_id=1,
        )
        assert second.count() == 0  # rejected via the dropped member B
        texts = spark.read.parquet(f"{state}/texts")
        keeper = {r.id: r.keeper for r in texts.select("id", "keeper").collect()}
        # B maps to A; C chains through B and resolves to A as well
        assert keeper == {1: 1, 2: 1, 3: 1}

    def test_track_dropped_false_restores_old_contract(self, spark, tmp_path):
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import neardup_filter_batch

        a, b, c = self._texts()
        state = str(tmp_path / "chain_nokeeper")
        neardup_filter_batch(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [1, 2], "text": [a, b]})
            ),
            state, batch_id=0, track_dropped=False,
        )
        second = neardup_filter_batch(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [3], "text": [c]})
            ),
            state, batch_id=1, track_dropped=False,
        )
        # corpus-proportional store: B's bands are gone, C is accepted
        # (the documented first-arrival-wins divergence)
        assert [r.doc_id for r in second.collect()] == [3]


# ---------------------------------------------------------------- holes ----


def _ref_assignment(rings):
    """ring_idx -> (role, parent_idx) via the scalar organizer
    (``kernels.rings.organize_polygon_rings``, checked against pyshp's
    in ``test_kernels.TestOrganizeRings``).  Its output rings are
    copies, so each is mapped back to the first unused input ring of
    equal coordinates, by position."""
    arrs = [np.asarray(r, dtype=float) for r in rings]
    used = set()

    def position(ring):
        i = next(i for i, a in enumerate(arrs)
                 if i not in used and np.array_equal(a, ring))
        used.add(i)
        return i

    out = {}
    for poly in organize_polygon_rings(arrs):
        head_idx = position(poly[0])
        head_cw = is_cw(poly[0])
        out[head_idx] = ("exterior" if head_cw else "orphan",
                         head_idx if head_cw else None)
        for r in poly[1:]:
            out[position(r)] = ("hole", head_idx)
    return out


def _rings_df(spark, cases):
    """cases: dict name -> list of rings."""
    rows = []
    for name, rings in cases.items():
        for i, ring in enumerate(rings):
            xmin, ymin, xmax, ymax = ring_bbox(np.asarray(ring, dtype=float))
            rows.append(Row(
                shape_id=name, ring_idx=i,
                wkb=bytearray(wkb_polygon([ring])),
                xmin=xmin, ymin=ymin, xmax=xmax, ymax=ymax,
            ))
    return spark.createDataFrame(rows)


def _got_assignment(df):
    out = {}
    for r in df.collect():
        assert r["ring_idx"] not in out.get(r["shape_id"], {})  # once each
        out.setdefault(r["shape_id"], {})[r["ring_idx"]] = (
            r["role"], r["parent_idx"]
        )
    return out


def _square(x0, y0, size, cw=True):
    ring = [(x0, y0), (x0, y0 + size), (x0 + size, y0 + size),
            (x0 + size, y0), (x0, y0)]
    return ring if cw else ring[::-1]


def _lattice():
    """300 CW exteriors on a 20 x 15 lattice, about half with a CCW
    hole, plus one hole outside every exterior: the per-shape grid has
    18 x 18 cells and each exterior covers one or a few of them."""
    rng = __import__("random").Random(7)
    rings = []
    for i in range(300):
        x0, y0 = (i % 20) * 10.0, (i // 20) * 10.0
        rings.append(_square(x0, y0, 8.0))
        if rng.random() < 0.5:
            rings.append(_square(x0 + 2, y0 + 2, 3.0, cw=False))
    rings.append(_square(500.0, 500.0, 3.0, cw=False))  # orphan
    return rings


class TestAssignHolesDistributed:
    def test_golden_pathology_cases(self, spark):
        from tests.test_kernels import TestOrganizeRings

        cases = dict(TestOrganizeRings.CASES, single_candidate_outside=[
            # a diamond exterior whose bbox, not its area, holds the hole
            [(10, 20), (20, 10), (10, 0), (0, 10), (10, 20)],
            _square(50.0, 50.0, 10.0),
            _square(1.0, 1.0, 2.0, cw=False),
        ])
        # a lone bbox candidate is assigned without the ray-cast
        assert _ref_assignment(cases["single_candidate_outside"])[2] == (
            "hole", 0)
        got = _got_assignment(assign_holes_distributed(_rings_df(spark, cases)))
        for name, rings in cases.items():
            assert got.get(name, {}) == _ref_assignment(rings), name

    def test_ring_heavy_shape(self, spark):
        """One shape with 300 exteriors: every hole finds its exterior
        through the per-shape grid, and the outside hole is orphaned."""
        rings = _lattice()
        got = _got_assignment(assign_holes_distributed(
            _rings_df(spark, {"monster": rings})
        ))
        assert got["monster"] == _ref_assignment(rings)

    def test_exterior_past_the_cover_cap(self, spark):
        """An exterior enclosing the lattice covers all 18 x 18 grid
        cells, past the cover cap, so it pairs with every hole of its
        shape; each lattice hole then has two candidates and takes the
        smaller exterior after the ray-cast."""
        rings = [_square(-5.0, -5.0, 600.0)] + _lattice()
        want = _ref_assignment(rings)
        assert sum(role == "hole" for role, _ in want.values()) > 100
        got = _got_assignment(assign_holes_distributed(
            _rings_df(spark, {"enclosed": rings})
        ))
        assert got["enclosed"] == want

    def test_shape_split_across_batches(self, spark):
        """With two rows per Arrow batch every multi-ring shape crosses
        a batch boundary; the kernel carries it whole into the next
        batch."""
        from tests.test_kernels import TestOrganizeRings

        cases = dict(TestOrganizeRings.CASES, monster=_lattice())
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key)
        spark.conf.set(key, "2")
        try:
            got = _got_assignment(
                assign_holes_distributed(_rings_df(spark, cases))
            )
        finally:
            spark.conf.set(key, prev)
        for name, rings in cases.items():
            assert got.get(name, {}) == _ref_assignment(rings), name

    def test_null_wkb_ring_becomes_orphan(self, spark):
        """A ring row with NULL wkb (unclassifiable winding) must appear
        in the output as an orphan, not vanish — row accounting holds."""
        from tests.test_kernels import TestOrganizeRings

        cases = {"good": TestOrganizeRings.CASES["single_ext_two_holes"]}
        df = _rings_df(spark, cases)
        null_row = spark.createDataFrame(
            [Row(shape_id="good", ring_idx=99, wkb=None,
                 xmin=0.0, ymin=0.0, xmax=0.0, ymax=0.0)],
            schema=df.schema,
        )
        got = _got_assignment(
            assign_holes_distributed(df.unionByName(null_row))
        )
        assert got["good"][99] == ("orphan", None)
        want = _ref_assignment(cases["good"])
        assert {k: v for k, v in got["good"].items() if k != 99} == want

    def test_plan_is_one_shuffle_and_one_arrow_pass(self, spark):
        """The executed plan: one exchange by shape, one mapInArrow, and
        no cache, join, window or union."""
        from tests.test_kernels import TestOrganizeRings

        out = assign_holes_distributed(
            _rings_df(spark, TestOrganizeRings.CASES)
        )
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
        assert plan.count("Exchange hashpartitioning(shape_id") == 1
        assert plan.count("Exchange") == 1
        assert plan.count("MapInArrow") == 1
        for node in ("InMemoryTableScan", "Join", "Window", "Union"):
            assert node not in plan, node

    def test_blockgroups_multipart_corpus(self, spark, ref_shapefile):
        """Every real multipart shape in the reference's blockgroups
        fixture: distributed assignment == the reference organizer."""
        rdr = ref_shapefile.Reader(f"{FIXDIR}/blockgroups")
        cases = {}
        for i, shp in enumerate(rdr.iterShapes()):
            if shp.shapeType == 0 or len(shp.points) == 0:
                continue
            parts = list(shp.parts) + [len(shp.points)]
            rings = [
                [tuple(p) for p in shp.points[parts[j]:parts[j + 1]]]
                for j in range(len(parts) - 1)
            ]
            cases[f"s{i}"] = rings
        multi = {k: v for k, v in cases.items() if len(v) > 1}
        assert multi, "fixture should contain multipart shapes"
        got = _got_assignment(assign_holes_distributed(_rings_df(spark, cases)))
        for name, rings in cases.items():
            assert got.get(name, {}) == _ref_assignment(rings), name


def test_hole_kernel_matches_scalar_organizer_on_random_shapes():
    """The Arrow kernel alone, no Spark: random shapes of overlapping
    CW/CCW squares and diamonds (nested exteriors, multi-candidate
    holes, area ties) assign exactly as the scalar organizer does."""
    import pyarrow as pa  # noqa: PLC0415

    from pyshp_spark.kernels.rings import RingSamplingError  # noqa: PLC0415
    from pyshp_spark.operators.spatial import _assign_holes  # noqa: PLC0415

    rng = np.random.default_rng(1)

    def ring():
        # big exteriors, small holes: most holes have several candidates
        cw = rng.random() < 0.5
        cx, cy = rng.integers(0, 16, 2).astype(float)
        r = float(rng.integers(3, 11) if cw else rng.integers(1, 4))
        if rng.random() < 0.5:
            return _square(cx - r, cy - r, 2 * r, cw=cw)
        pts = [(cx, cy + r), (cx + r, cy), (cx, cy - r), (cx - r, cy)]
        pts = pts if cw else pts[::-1]
        return pts + pts[:1]

    cases = {f"s{i}": [ring() for _ in range(rng.integers(1, 12))]
             for i in range(400)}
    rows = [(name, i, ring_bbox(np.asarray(r, dtype=float)),
             bytes(wkb_polygon([r])))
            for name, rings in cases.items() for i, r in enumerate(rings)]
    bb = np.array([r[2] for r in rows])
    t = pa.table({
        "shape_id": [r[0] for r in rows], "ring_idx": [r[1] for r in rows],
        "wkb": [r[3] for r in rows], "xmin": bb[:, 0], "ymin": bb[:, 1],
        "xmax": bb[:, 2], "ymax": bb[:, 3],
    })
    names = ["shape_id", "ring_idx", "role", "parent_idx"]
    got = {}
    for b in _assign_holes(t, names):
        for r in b.to_pylist():
            got.setdefault(r["shape_id"], {})[r["ring_idx"]] = (
                r["role"], r["parent_idx"])
    checked = 0
    for name, rings in cases.items():
        try:
            want = _ref_assignment(rings)
        except RingSamplingError:  # the reference raises; the kernel orphans
            continue
        assert got[name] == want, name
        checked += 1
    assert checked > 300


class TestCascadeStageReuse:
    """The cascade rollups deliberately do NOT persist per level: their
    union branches are identical plan prefixes, so the one corpus-sized
    shuffle must be deduplicated by runtime exchange reuse (an
    interleaved A/B measured per-level persist strictly worse — see
    tile_pyramid's docstring and BENCH.md).  Pin that the reuse
    actually fires, so a Spark upgrade or config change that silently
    breaks it (turning the cascade into L corpus scans) is caught."""

    def _reused_exchanges(self, df) -> int:
        _ = df.collect()  # executedPlan is final only after an action
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        return plan.count("ReusedExchange")

    def test_tile_pyramid_reuses_base_exchange(self, spark):
        from pyshp_spark.operators.spatial import tile_pyramid

        df = spark.range(100_000).select(
            (F.col("id") % 251).alias("tile_x"),
            (F.col("id") % 241).alias("tile_y"),
        )
        out = tile_pyramid(df, zoom_max=6, zoom_min=0)
        # 7 levels: the corpus-sized base exchange must be reused by
        # each of the 6 coarser branches
        assert self._reused_exchanges(out) >= 6

    def test_rollup_counts_reuses_base_exchange(self, spark):
        from pyshp_spark.operators.temporal import rollup_counts

        df = spark.range(100_000).select(
            F.timestamp_seconds(F.col("id") % 500_000).alias("ts"),
            (F.col("id") % 3).cast("string").alias("event_type"),
        )
        out = rollup_counts(df, levels_s=[60, 3600, 86400])
        # 3 levels: base exchange reused by the 2 coarser branches
        assert self._reused_exchanges(out) >= 2


class TestLazyConstruction:
    def test_assign_holes_construction_runs_no_jobs(self, spark):
        """The persisted subtrees must stay lazy: constructing the
        result (plan composition, explain) runs NO Spark job — the
        eager-side-effect pitfall round-5 ADVICE flagged for
        localCheckpoint paths."""
        from pyshp_spark.operators.spatial import assign_holes_distributed

        sc = spark.sparkContext
        rows = [Row(shape_id="s", ring_idx=0,
                    wkb=bytearray(wkb_polygon(
                        [[(0.0, 0.0), (0.0, 4.0), (4.0, 4.0),
                          (4.0, 0.0), (0.0, 0.0)]])),
                    xmin=0.0, ymin=0.0, xmax=4.0, ymax=4.0)]
        df = spark.createDataFrame(rows)
        sc.setJobGroup("lazy-probe", "construction must be lazy")
        try:
            out = assign_holes_distributed(df)
            out.explain()  # plan compilation allowed, jobs are not
            jobs = sc.statusTracker().getJobIdsForGroup("lazy-probe")
            assert list(jobs) == [], f"construction ran jobs: {jobs}"
        finally:
            sc.setJobGroup(None, None)
        assert out.count() == 1  # and the plan still executes
