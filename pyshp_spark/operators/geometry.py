"""Geometry projection operators (reference P2: points_2D / points_3D,
sf.py:1340-1349) re-expressed for DataFrames.

``explode_coordinates`` turns the geometry table into a long-format
point table (one row per vertex) with z/m attached positionally —
the columnar analog of iterating ``shape.points``/``shape.z``.  Note:
polygon WKB stores rings in ORGANIZED order (exterior+holes); for
multi-exterior shapes whose ring order was rewritten at ingest, z/m
positional alignment follows the organized order, not raw file order.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from pyshp_spark.kernels.wkb import (
    WKB_LINESTRING,
    WKB_MULTILINESTRING,
    WKB_MULTIPOINT,
    WKB_MULTIPOLYGON,
    WKB_POINT,
    WKB_POLYGON,
    parse_wkb,
)


def _wkb_coords(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """(coords (n,2), part_index (n,)) in WKB storage order."""
    gtype, obj = parse_wkb(buf)
    if gtype in (WKB_POINT, WKB_MULTIPOINT, WKB_LINESTRING):
        a = np.asarray(obj, dtype=np.float64).reshape(-1, 2)
        return a, np.zeros(len(a), dtype=np.int32)
    if gtype == WKB_MULTILINESTRING:
        parts = obj
    elif gtype == WKB_POLYGON:
        parts = obj
    elif gtype == WKB_MULTIPOLYGON:
        parts = [r for rings in obj for r in rings]
    else:
        raise ValueError(f"unsupported WKB type {gtype}")
    if not parts:
        return np.empty((0, 2)), np.empty(0, dtype=np.int32)
    coords = np.vstack(parts)
    pidx = np.repeat(np.arange(len(parts), dtype=np.int32),
                     [len(p) for p in parts])
    return coords, pidx


def explode_coordinates(
    df: DataFrame,
    id_cols: list[str] | None = None,
    with_zm: bool = True,
) -> DataFrame:
    """Geometry table (wkb [, z, m]) -> one row per vertex:
    (id_cols..., part_idx, point_idx, x, y [, z, m]).

    Missing z defaults to 0.0 (reference sf.py:1129-1132); m stays
    null where absent/NODATA.  ``with_zm=False`` gives the points_2D
    view (z/m dropped)."""
    ids = id_cols or (["oid"] if "oid" in df.columns else [])
    has_z = with_zm and "z" in df.columns
    has_m = with_zm and "m" in df.columns
    in_cols = ids + ["wkb"] + (["z"] if has_z else []) + (["m"] if has_m else [])
    id_fields = [f for f in df.schema.fields if f.name in ids]
    out_fields = id_fields + [
        StructField("part_idx", IntegerType()),
        StructField("point_idx", IntegerType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
    ]
    if has_z:
        out_fields.append(StructField("z", DoubleType()))
    if has_m:
        out_fields.append(StructField("m", DoubleType()))
    schema = StructType(out_fields)
    out_names = [f.name for f in out_fields]

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per-row WKB parse is irreducible, but everything else is
            # offset-array assembly: one concatenate + one np.repeat per
            # batch instead of a pandas frame per geometry row
            wkbs = pdf["wkb"].to_numpy(dtype=object)
            coords_l, pidx_l, counts = [], [], np.zeros(len(pdf), np.int64)
            z_l = [] if has_z else None
            m_l = [] if has_m else None
            zs = pdf["z"].to_numpy(dtype=object) if has_z else None
            ms = pdf["m"].to_numpy(dtype=object) if has_m else None
            for i, w in enumerate(wkbs):
                if w is None:
                    continue
                coords, pidx = _wkb_coords(bytes(w))
                n = len(coords)
                if n == 0:
                    continue
                counts[i] = n
                coords_l.append(coords)
                pidx_l.append(pidx)
                if has_z:
                    zv = zs[i]
                    z_l.append(
                        np.array(
                            [0.0 if v is None else float(v) for v in zv],
                            dtype=np.float64,
                        )
                        if zv is not None and len(zv) == n
                        else np.zeros(n)  # missing z -> 0.0 default
                    )
                if has_m:
                    mv = ms[i]
                    m_l.append(
                        np.array(
                            [np.nan if v is None else float(v) for v in mv],
                            dtype=np.float64,
                        )
                        if mv is not None and len(mv) == n
                        else np.full(n, np.nan)
                    )
            if not coords_l:
                yield pd.DataFrame({c: [] for c in out_names})
                continue
            coords = np.concatenate(coords_l)
            d = {c: pdf[c].to_numpy()[np.repeat(np.arange(len(pdf)), counts)]
                 for c in ids}
            d["part_idx"] = np.concatenate(pidx_l)
            d["point_idx"] = np.concatenate(
                [np.arange(n, dtype=np.int32) for n in counts[counts > 0]]
            )
            d["x"] = coords[:, 0]
            d["y"] = coords[:, 1]
            if has_z:
                d["z"] = np.concatenate(z_l)
            if has_m:
                d["m"] = np.concatenate(m_l)
            yield pd.DataFrame(d)[out_names]

    return df.select(*in_cols).mapInPandas(explode, schema=schema)


def with_ring_sample(
    df: DataFrame,
    wkb: str = "wkb",
    sx: str = "sx",
    sy: str = "sy",
) -> DataFrame:
    """Append each polygon's deterministic interior sample point
    (reference sf.py:921-968 iteration-order parity — the hole→exterior
    assignment anchor, see kernels/rings.ring_sample), computed from
    the FIRST ring of the WKB inside Arrow batches with per-batch WKB
    factorization: a polygon repeated across rows samples once.  Rows
    whose ``wkb`` is NULL are KEPT with NULL sample coords (no silent
    row drop — callers doing row accounting see every input row).

    This is the building block that lifts the reference's single-process
    ring-containment logic into distributed polygon⋈polygon joins: the
    sample point reduces "polygon A assigned to polygon B" to a plain
    point-in-polygon probe of this engine's PIP join.

    Delegates to :func:`with_ring_stats` (one shared Arrow-batch
    machinery) and drops the winding/area columns; like it, a ring-less
    (POLYGON EMPTY) or too-degenerate-to-sample ring yields NULL
    coords rather than aborting the job."""
    # scratch names guaranteed absent from the caller's frame: a fixed
    # name could collide with (and then drop) a user column
    taken = set(df.columns) | {sx, sy}
    cw_tmp, a2_tmp = "__rs_cw", "__rs_a2"
    while cw_tmp in taken or a2_tmp in taken:
        cw_tmp += "_"
        a2_tmp += "_"
    return with_ring_stats(
        df, wkb=wkb, is_cw_col=cw_tmp, area2_col=a2_tmp, sx=sx, sy=sy
    ).drop(cw_tmp, a2_tmp)


def with_ring_stats(
    df: DataFrame,
    wkb: str = "wkb",
    is_cw_col: str = "is_cw",
    area2_col: str = "area2",
    sx: str = "sx",
    sy: str = "sy",
) -> DataFrame:
    """Append per-ring classification stats for the FIRST ring of each
    WKB: winding (``is_cw`` — reference sf.py:835-840: CW == exterior),
    ``area2`` = |2x signed area| (the reference's nested-exterior
    tie-break metric, sf.py:1053-1061) and the deterministic interior
    sample point (sf.py:921-968).  NULL wkb rows keep NULLs, as does a
    valid WKB with ZERO rings (POLYGON EMPTY — no winding or area to
    classify; downstream row accounting surfaces both as orphans);
    rings too degenerate to sample (RingSamplingError) keep NULL sample
    coords but real winding/area.  One Arrow pass with per-batch WKB
    factorization: a polygon repeated across rows computes once."""
    from pyspark.sql.types import BooleanType  # noqa: PLC0415

    from pyshp_spark.kernels.rings import first_ring_stats  # noqa: PLC0415
    from pyshp_spark.kernels.wkb import wkb_rings  # noqa: PLC0415

    out_schema = StructType(
        df.schema.fields
        + [
            StructField(is_cw_col, BooleanType()),
            StructField(area2_col, DoubleType()),
            StructField(sx, DoubleType()),
            StructField(sy, DoubleType()),
        ]
    )
    null_stats = (None, None, None, None)

    def stats(batches):
        cache: dict[bytes, tuple] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # factorize codes NULL wkb as -1: those rows pass through
            # with NULL outputs instead of being dropped
            codes, uniques = pd.factorize(pdf[wkb])
            # batch-vectorized stats for the cache misses: winding,
            # |2A| and the first-triplet ring_sample run as one numpy
            # pass across every missing shape (kernels.rings.
            # first_ring_stats — bit-exact, per-shape scalar fallback
            # for anything the fast gates exclude).  The old per-shape
            # loop cost ~150us of scalar kernel calls per ring
            # (profiled: 3x signed_area + a per-ring crossing test +
            # np.errstate enter/exit per shape).
            miss = []
            for w in uniques:
                b = bytes(w)
                if b not in cache:
                    miss.append(b)
            if miss:
                stats_vals = first_ring_stats([wkb_rings(b) for b in miss])
                for b, v in zip(miss, stats_vals):
                    # match the ring's own winding: arbitrary WKB may
                    # carry a CCW first ring, and the kernel's triplet
                    # orientation gate needs the truth
                    cache[b] = v
            vals = [cache[bytes(w)] for w in uniques]
            pdf = pdf.copy()
            pdf[is_cw_col] = [vals[c][0] if c >= 0 else None for c in codes]
            pdf[area2_col] = [vals[c][1] if c >= 0 else None for c in codes]
            pdf[sx] = [vals[c][2] if c >= 0 else None for c in codes]
            pdf[sy] = [vals[c][3] if c >= 0 else None for c in codes]
            yield pdf

    return df.mapInPandas(stats, schema=out_schema)
