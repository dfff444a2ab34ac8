"""Round-2 fixes: MULTIPATCH write, dbf encoding edge cases, simhash
banding generalization, knn candidate dedup, single-pass anti join,
responsibility-cell bbox dedup, broadcast auto-guard.

Oracles: the reference reader for file formats, brute-force pandas for
operators.
"""

import io
import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyshp_spark.functions.cells import GRID, Grid
from pyshp_spark.operators.dedup import simhash_dedup_pairs
from pyshp_spark.operators.spatial import (
    bbox_overlap_join,
    knn_brute,
    knn_join,
    point_in_polygon_join,
    spatial_anti_join,
)
from pyshp_spark.sources.shapefile import (
    MULTIPATCH,
    _parse_dbf_value,
    parse_dbf_bytes,
    parse_shp_bytes,
)
from pyshp_spark.sources.shp_writer import _encode_dbf_value, write_dbf, write_shp

from oracles import simhash64_py


# ------------------------------------------------------- MULTIPATCH ----


def test_multipatch_write_roundtrip_through_reference(ref_shapefile):
    """W6 gap: MULTIPATCH write (reference sf.py:5093-5198).  Our bytes
    must open in the reference reader with identical parts/partTypes/
    points/z, and in our own reader."""
    parts = [
        [(0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0)],  # TRIANGLE_STRIP
        [(5.0, 5.0), (5.0, 7.0), (7.0, 7.0), (7.0, 5.0), (5.0, 5.0)],  # RING
    ]
    part_types = [0, 5]  # TRIANGLE_STRIP, RING
    z = [0.0, 1.0, 2.0, 3.0, 0.5, 1.5, 2.5, 3.5, 0.5]
    m = [None, 1.0, None, 2.0, None, None, None, None, None]
    shp, shx = write_shp([(MULTIPATCH, parts, z, m, part_types)])

    r = ref_shapefile.Reader(shp=io.BytesIO(shp), shx=io.BytesIO(shx))
    shape = r.shape(0)
    assert shape.shapeType == MULTIPATCH
    assert list(shape.partTypes) == part_types
    assert list(shape.parts) == [0, 4]
    flat = [tuple(p) for p in itertools.chain(*parts)]
    assert [tuple(p) for p in shape.points] == flat
    assert list(shape.z) == z
    assert list(shape.m) == m

    ours = parse_shp_bytes(shp)
    assert len(ours) == 1
    row = ours.iloc[0]
    assert row.shape_type == MULTIPATCH
    assert list(row.part_types) == part_types
    assert list(row.z) == z
    assert list(row.m) == m
    assert row.num_points == 9


# ------------------------------------------------- dbf encoding edge ----


def test_dbf_utf8_truncation_never_splits_code_point(ref_shapefile):
    """F12: a multi-byte char straddling the field width must not produce
    invalid UTF-8 (reference _truncate_utf8_str semantics, sf.py:254-283,
    including its conservative cut when b[size] is a start byte)."""
    cases = [
        ("abc", 2, b"ab"),     # ASCII: plain cut
        ("aé", 2, b"a"),       # é straddles -> dropped
        ("ééé", 5, b"\xc3\xa9\xc3\xa9"),
        ("aéb", 3, b"a"),      # reference parity: conservative cut
        ("aébc", 4, b"a\xc3\xa9"),
    ]
    for s, size, want in cases:
        got = _encode_dbf_value(s, "C", size, 0).rstrip(b" ")
        assert got == want, (s, size, got, want)
        got.decode("utf-8")  # never raises

    # full round trip through BOTH readers
    fields = [("name", "C", 5, 0)]
    dbf = write_dbf(fields, [["ééééé"], ["plain"]])
    ours = parse_dbf_bytes(dbf)
    assert list(ours["name"]) == ["éé", "plain"]
    rr = ref_shapefile.DbfReader(dbf=io.BytesIO(dbf))
    assert [rec[0] for rec in rr.records()] == ["éé", "plain"]


def test_dbf_pad_byte_decode_recovery():
    """F11: utf-16-le text legitimately ends in 0x00; rstripping all pad
    bytes breaks decoding — recovery must restore the minimal number
    (reference _decode_C_or_M_field, sf.py:456-517)."""
    # "A" in utf-16-le = b"A\x00"; padded to width 6 with spaces.
    # rstrip alone leaves b"A" (undecodable); recovery restores the
    # trailing NUL -> decodes to "A"
    raw = "A".encode("utf-16-le") + b" " * 4
    assert _parse_dbf_value(raw, "C", 0, "utf-16-le", "strict") == "A"
    # "AB" -> b"A\x00B\x00" + 2 pad spaces: restore exactly one NUL
    raw = "AB".encode("utf-16-le") + b"  "
    assert _parse_dbf_value(raw, "C", 0, "utf-16-le", "strict") == "AB"
    # plain utf-8 unaffected
    assert _parse_dbf_value(b"hi    ", "C", 0, "utf-8", "strict") == "hi"


def test_dbf_logical_trailing_nul_is_none():
    """A trailing L field stored as 0x00 must parse as None (the S-dtype
    view used to strip it to b'', and b'' in b'YyTt1' is True)."""
    fields = [("flag", "L", 1, 0)]
    dbf = bytearray(write_dbf(fields, [[True], [False], [None]]))
    # patch the third record's L byte to 0x00 (header 32+32+1, rec_len 2)
    header_len = 32 + 32 + 1
    rec_len = 2
    dbf[header_len + 2 * rec_len + 1] = 0x00
    out = parse_dbf_bytes(bytes(dbf))
    assert list(out["flag"]) == [True, False, None]
    assert _parse_dbf_value(b"\x00", "L", 0, "utf-8", "strict") is None
    assert _parse_dbf_value(b"", "L", 0, "utf-8", "strict") is None


# ------------------------------------------------- simhash banding ----


@pytest.mark.parametrize("max_hamming", [0, 3, 7])
def test_simhash_banding_recall(spark, max_hamming):
    """Pigeonhole recall must hold for ANY max_hamming: operator pairs ==
    brute-force pairs at the same threshold."""
    base = "the quick brown fox jumps over the lazy dog " * 3
    texts = [base]
    for i in range(12):
        texts.append(base.replace("fox", f"fox{i}").replace("dog", f"dog{i % 3}"))
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    got = {
        (r.id_a, r.id_b)
        for r in simhash_dedup_pairs(df, max_hamming=max_hamming).collect()
    }
    sigs = [simhash64_py(t) for t in texts]
    want = {
        (a, b)
        for a in range(len(texts))
        for b in range(a + 1, len(texts))
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= max_hamming
    }
    assert got == want


# ------------------------------------------------------- knn dedup ----


def test_knn_join_distinct_targets_sharing_first_column(spark):
    """Targets sharing target_cols[0] must not collapse in the cell-
    expansion path's candidate dedup."""
    targets = spark.createDataFrame(
        pd.DataFrame({"x": [10.0, 10.0, 10.0, 50.0], "y": [1.0, 2.0, 3.0, 50.0]})
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [1], "x": [10.0], "y": [0.0]})
    )
    grid = Grid(x0=0.0, y0=0.0, dx=2.0, dy=2.0, width=1 << 10)
    got = knn_join(queries, targets, k=3, grid=grid, target_cols=["x", "y"],
                   tie_break="y").collect()
    want = knn_brute(queries, targets, k=3, target_cols=["x", "y"],
                     tie_break="y").collect()
    gset = {(r["t_x"], r["t_y"], r["knn_rank"]) for r in got}
    wset = {(r["t_x"], r["t_y"], r["knn_rank"]) for r in want}
    assert gset == wset
    assert len(got) == 3  # all three co-located targets found


# ----------------------------------------- single-pass anti + guard ----


def _mini_polys(spark):
    from pyshp_spark.kernels.wkb import wkb_polygon  # noqa: PLC0415

    rows = []
    for oid, (cx, cy, r) in enumerate([(10.0, 10.0, 5.0), (30.0, 30.0, 4.0)]):
        ring = np.array(
            [[cx, cy + r], [cx + r, cy], [cx, cy - r], [cx - r, cy], [cx, cy + r]]
        )
        rows.append(
            (oid, bytearray(wkb_polygon([ring])), cx - r, cy - r, cx + r, cy + r)
        )
    return spark.createDataFrame(
        rows, "oid long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    )


def test_anti_join_single_pass_no_second_join(spark):
    polys = _mini_polys(spark)
    pts = spark.createDataFrame(
        pd.DataFrame({
            "pid": range(6),
            "x": [10.0, 30.0, 10.0, 90.0, 30.0, 0.0],
            "y": [10.0, 30.0, 30.0, 90.0, 10.0, 0.0],
        })
    )
    grid = Grid(x0=0.0, y0=0.0, dx=4.0, dy=4.0, width=1 << 10)
    anti = spatial_anti_join(pts, polys, grid=grid)
    got = sorted(r.pid for r in anti.collect())
    assert got == [2, 3, 4, 5]
    plan = anti._jdf.queryExecution().executedPlan().toString()
    # the anti answer comes out of the refine pass itself: no anti join
    # (and no join at all) in the physical plan
    assert "LeftAnti" not in plan
    assert "Join" not in plan


def test_pip_broadcast_auto_guard_falls_back(spark, monkeypatch):
    """Oversized build side (row guard of 1) must pick the
    sort-merge/cell-join plan, with identical results."""
    import pyshp_spark.operators.spatial as sp  # noqa: PLC0415

    polys = _mini_polys(spark)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0, 1, 2], "x": [10.0, 30.0, 90.0],
                      "y": [10.0, 30.0, 90.0]})
    )
    grid = Grid(x0=0.0, y0=0.0, dx=4.0, dy=4.0, width=1 << 10)
    bc = point_in_polygon_join(pts, polys, grid=grid, polygon_cols=["oid"])
    want = sorted((r.pid, r.oid) for r in bc.collect())
    # a cached index answers "auto" without the size probe: start cold
    sp.clear_polygon_index_cache()
    monkeypatch.setattr(sp, "_MAX_BROADCAST_ROWS", 1)
    fb = point_in_polygon_join(pts, polys, grid=grid, polygon_cols=["oid"])
    assert sorted((r.pid, r.oid) for r in fb.collect()) == want
    plan = fb._jdf.queryExecution().executedPlan().toString()
    assert "__ps_cell" in plan  # cell equi-join path, not driver broadcast


def test_pip_join_tolerates_null_geometry_rows(spark):
    """NULL-shape rows (null wkb + NaN bbox) from our own ingest must not
    crash the broadcast index build, and match nothing."""
    polys = _mini_polys(spark)
    null_row = spark.createDataFrame(
        [(99, None, None, None, None, None)],
        "oid long, wkb binary, xmin double, ymin double, xmax double, ymax double",
    )
    polys = polys.unionByName(null_row)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0, 1], "x": [10.0, 90.0], "y": [10.0, 90.0]})
    )
    grid = Grid(x0=0.0, y0=0.0, dx=4.0, dy=4.0, width=1 << 10)
    out = point_in_polygon_join(pts, polys, grid=grid, polygon_cols=["oid"])
    assert sorted((r.pid, r.oid) for r in out.collect()) == [(0, 0)]


# ------------------------------------- responsibility-cell bbox join ----


def test_bbox_overlap_join_matches_brute_no_dedup_shuffle(spark):
    rng = np.random.default_rng(11)
    n_r, n_b = 120, 80
    rx = rng.uniform(0, 90, n_r)
    ry = rng.uniform(0, 90, n_r)
    rects = pd.DataFrame({
        "rid": range(n_r), "rxmin": rx, "rymin": ry,
        "rxmax": rx + rng.uniform(0.5, 20, n_r),
        "rymax": ry + rng.uniform(0.5, 20, n_r),
    })
    bx = rng.uniform(0, 90, n_b)
    by = rng.uniform(0, 90, n_b)
    boxes = pd.DataFrame({
        "bid": range(n_b), "xmin": bx, "ymin": by,
        "xmax": bx + rng.uniform(0.5, 25, n_b),
        "ymax": by + rng.uniform(0.5, 25, n_b),
    })
    grid = Grid(x0=0.0, y0=0.0, dx=8.0, dy=8.0, width=1 << 10)
    out = bbox_overlap_join(
        spark.createDataFrame(rects), spark.createDataFrame(boxes),
        grid=grid, out_cols=["rid", "bid"],
    )
    got = sorted((r.rid, r.bid) for r in out.collect())
    want = sorted(
        (int(r.rid), int(b.bid))
        for r in rects.itertuples()
        for b in boxes.itertuples()
        if r.rxmin <= b.xmax and b.xmin <= r.rxmax
        and r.rymin <= b.ymax and b.ymin <= r.rymax
    )
    assert got == want  # exactly once per overlapping pair
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # dedup is a filter now


# ------------------------------------------------- token_jaccard cap ----


def test_token_jaccard_max_df_matches_python_oracle(spark):
    from pyshp_spark.operators.dedup import token_jaccard_pairs  # noqa: PLC0415

    texts = [
        "the cat sat on the mat",
        "the cat sat on the hat",
        "the dog ran in the park",
        "a completely different document entirely",
        "the cat sat on the mat",  # exact dup of 0
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    max_df, thr = 3, 0.5
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.jaccard)
        for r in token_jaccard_pairs(df, threshold=thr, max_df=max_df).collect()
    }
    # python oracle over df-capped token sets
    toksets = [set(t.lower().split()) for t in texts]
    dfreq = {}
    for s in toksets:
        for t in s:
            dfreq[t] = dfreq.get(t, 0) + 1
    capped = [{t for t in s if dfreq[t] <= max_df} for s in toksets]
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(capped[a] & capped[b])
            union = len(capped[a] | capped[b])
            if union and round(inter / union, 6) >= thr:
                want[(a, b)] = (inter, round(inter / union, 6))
    assert got == want


# --------------------------------------------- URL source + variants ----


def test_read_url_shapefile_file_scheme():
    from pyshp_spark.sources.shapefile import read_url_shapefile

    url = "file:///root/reference/tests/shapefiles/blockgroups.shp"
    df = read_url_shapefile(url)
    assert len(df) == 663  # .dbf sibling fetched too (attrs merged)
    assert "POP1990" in df.columns or len(df.columns) > 12


def test_read_url_shapefile_zip():
    from pyshp_spark.sources.shapefile import read_url_shapefile

    df = read_url_shapefile("file:///root/reference/tests/shapefiles/blockgroups.zip")
    assert len(df) == 663


def test_read_shapefile_urls_distributed(spark):
    from pyshp_spark.sources.shapefile import read_shapefile_urls

    urls = [
        "file:///root/reference/tests/shapefiles/blockgroups.shp",
        "file:///root/reference/tests/shapefiles/blockgroups.shp",
    ]
    df = read_shapefile_urls(spark, urls)
    assert df.count() == 2 * 663


def test_deleted_as_none_preserves_indexing():
    fields = [("v", "N", 4, 0)]
    dbf = bytearray(write_dbf(fields, [[1], [2], [3]]))
    header_len = 32 + 32 + 1
    rec_len = 5
    dbf[header_len + rec_len] = 0x2A  # '*' = deleted flag on record 1
    from pyshp_spark.sources.shapefile import parse_dbf_bytes as p

    dropped = p(bytes(dbf))
    assert list(dropped["oid"]) == [0, 2]
    kept = p(bytes(dbf), deleted_as_none=True)
    assert list(kept["oid"]) == [0, 1, 2]
    assert kept["v"][1] is None or pd.isna(kept["v"][1])
    assert list(kept["v"][[0, 2]]) == [1, 3]


def test_outside_bbox_as_none_preserves_indexing():
    from pyshp_spark.sources.shapefile import POINT

    shp, _ = write_shp([(POINT, (0.0, 0.0)), (POINT, (100.0, 100.0)),
                        (POINT, (1.0, 1.0))])
    flt = parse_shp_bytes(shp, bbox=(-5, -5, 5, 5))
    assert list(flt["oid"]) == [0, 2]
    kept = parse_shp_bytes(shp, bbox=(-5, -5, 5, 5), outside_bbox_as_none=True)
    assert list(kept["oid"]) == [0, 1, 2]
    assert kept["wkb"][1] is None
    assert kept["wkb"][0] is not None


def test_rewind_kernel(ref_shapefile):
    from pyshp_spark.kernels.rings import is_cw, rewind

    ring = np.array([[0.0, 0.0], [0.0, 2.0], [2.0, 2.0], [2.0, 0.0], [0.0, 0.0]])
    r2 = rewind(ring)
    assert is_cw(ring) != is_cw(r2)
    want = ref_shapefile.rewind([tuple(p) for p in ring])
    assert [tuple(p) for p in r2] == want


# ---------------------------------------- randomized plan-path parity ----


@pytest.mark.parametrize("seed", [3, 17, 99])
def test_bbox_overlap_randomized_vs_brute(spark, seed):
    """Responsibility-cell emission under adversarial inputs: touching
    edges (integral coords -> exact float equality at boundaries),
    degenerate zero-area boxes, heavy overlap."""
    rng = np.random.default_rng(seed)
    n_r, n_b = 60, 50
    rx = rng.integers(0, 50, n_r).astype(float)
    ry = rng.integers(0, 50, n_r).astype(float)
    rects = pd.DataFrame({
        "rid": range(n_r), "rxmin": rx, "rymin": ry,
        "rxmax": rx + rng.integers(0, 30, n_r),   # zero-width allowed
        "rymax": ry + rng.integers(0, 30, n_r),
    })
    bx = rng.integers(0, 50, n_b).astype(float)
    by = rng.integers(0, 50, n_b).astype(float)
    boxes = pd.DataFrame({
        "bid": range(n_b), "xmin": bx, "ymin": by,
        "xmax": bx + rng.integers(0, 35, n_b),
        "ymax": by + rng.integers(0, 35, n_b),
    })
    grid = Grid(x0=0.0, y0=0.0, dx=7.0, dy=7.0, width=1 << 10)
    out = bbox_overlap_join(
        spark.createDataFrame(rects), spark.createDataFrame(boxes),
        grid=grid, out_cols=["rid", "bid"],
    )
    got = sorted((r.rid, r.bid) for r in out.collect())
    want = sorted(
        (int(r.rid), int(b.bid))
        for r in rects.itertuples()
        for b in boxes.itertuples()
        if r.rxmin <= b.xmax and b.xmin <= r.rxmax
        and r.rymin <= b.ymax and b.ymin <= r.rymax
    )
    assert got == want


@pytest.mark.parametrize("seed", [5, 23])
def test_semi_anti_partition_randomized(spark, seed):
    """semi + anti exactly partition the input rows (single-pass modes),
    matching a brute python ray-cast oracle."""
    from pyshp_spark.kernels.rings import points_in_rings_even_odd  # noqa: PLC0415
    from pyshp_spark.kernels.wkb import wkb_polygon, wkb_rings  # noqa: PLC0415
    from pyshp_spark.operators.spatial import spatial_semi_join  # noqa: PLC0415

    rng = np.random.default_rng(seed)
    polys = []
    for oid in range(25):
        cx, cy = rng.uniform(5, 95, 2)
        r = rng.uniform(1, 8)
        ring = np.array(
            [[cx, cy + r], [cx + r, cy], [cx, cy - r], [cx - r, cy], [cx, cy + r]]
        )
        polys.append((oid, bytearray(wkb_polygon([ring])),
                      float(cx - r), float(cy - r), float(cx + r), float(cy + r)))
    pdf_pts = pd.DataFrame({
        "pid": range(400),
        "x": rng.uniform(0, 100, 400),
        "y": rng.uniform(0, 100, 400),
    })
    poly_df = spark.createDataFrame(
        polys, "oid long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    )
    pts_df = spark.createDataFrame(pdf_pts)
    grid = Grid(x0=0.0, y0=0.0, dx=5.0, dy=5.0, width=1 << 10)
    semi = {r.pid for r in spatial_semi_join(pts_df, poly_df, grid=grid).collect()}
    anti = {r.pid for r in spatial_anti_join(pts_df, poly_df, grid=grid).collect()}
    assert semi | anti == set(range(400))
    assert semi & anti == set()
    # brute oracle
    px = pdf_pts.x.to_numpy()
    py = pdf_pts.y.to_numpy()
    inside = np.zeros(400, dtype=bool)
    for _, w, x0, y0, x1, y1 in polys:
        bbox_ok = (x0 <= px) & (px <= x1) & (y0 <= py) & (py <= y1)
        hit = points_in_rings_even_odd(wkb_rings(bytes(w)), px, py)
        inside |= bbox_ok & hit
    assert semi == set(pdf_pts.pid[inside])


@pytest.mark.parametrize("seed", [7, 41])
def test_knn_cell_path_randomized_equals_brute(spark, seed):
    rng = np.random.default_rng(seed)
    q = pd.DataFrame({
        "query_id": range(30),
        "x": rng.uniform(0, 100, 30),
        "y": rng.uniform(0, 100, 30),
    })
    t = pd.DataFrame({
        "tid": range(500),
        "x": rng.uniform(0, 100, 500),
        "y": rng.uniform(0, 100, 500),
    })
    grid = Grid(x0=0.0, y0=0.0, dx=6.25, dy=6.25, width=1 << 10)
    qd, td = spark.createDataFrame(q), spark.createDataFrame(t)
    got = knn_join(qd, td, k=4, grid=grid, target_cols=["tid", "x", "y"],
                   tie_break="tid").collect()
    want = knn_brute(qd, td, k=4, target_cols=["tid", "x", "y"],
                     tie_break="tid").collect()
    gset = {(r.query_id, r.tid, r.knn_rank) for r in got}
    wset = {(r.query_id, r.tid, r.knn_rank) for r in want}
    assert gset == wset


def test_polygon_index_cache_lru_eviction(spark):
    import pyshp_spark.operators.spatial as sp

    sp.clear_polygon_index_cache()
    grid = Grid(x0=0.0, y0=0.0, dx=4.0, dy=4.0, width=1 << 10)
    polys = _mini_polys(spark)
    # distinct plans (limit(n) varies) -> distinct cache keys
    for n in range(1, sp._INDEX_CACHE_MAX + 3):
        sp._cached_polygon_index(polys.limit(n), grid, ["oid"])
    assert len(sp._INDEX_CACHE) == sp._INDEX_CACHE_MAX
    # re-requesting an entry keeps it cached (hit, no growth)
    before = set(sp._INDEX_CACHE)
    sp._cached_polygon_index(polys.limit(sp._INDEX_CACHE_MAX + 2), grid, ["oid"])
    assert set(sp._INDEX_CACHE) == before
    sp.clear_polygon_index_cache()
    assert len(sp._INDEX_CACHE) == 0
