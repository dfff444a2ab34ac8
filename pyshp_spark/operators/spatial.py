"""Spatial join operators: filter -> refine, all DataFrame-native.

The reference's only spatial machinery is a per-record bbox test and a
scalar ray-cast (reference src/shapefile.py:856-914); joins over it
would be O(N*M) single-threaded loops.  Here the same kernels become a
three-stage distributed plan:

  1. FILTER  — equi-join on int64 grid cells (polygon side carries an
     exploded bbox cell cover, point side one cell).  Catalyst picks
     broadcast-hash when the polygon side is small (we hint it), else
     sort-merge with AQE skew splitting; optional salting spreads hot
     cells explicitly.
  2. PREFILTER — bbox overlap as a pure Column expression
     (codegen'd; reference semantics sf.py:856-861, inclusive <=).
  3. REFINE — vectorized even-odd ray-cast over Arrow batches
     (``mapInArrow``), parsing each distinct polygon WKB once per
     batch.  Bit-for-bit the reference's crossing test.

Because a point maps to exactly one cell, a (point, polygon) pair
appears at most once after the cell join — no dedup pass is needed.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DataType, MapType, StructType, VariantType,
)
from pyspark.sql.window import Window

from pyshp_spark.functions.bbox import point_in_bbox_expr
from pyshp_spark.functions.cells import GRID, Grid
from pyshp_spark.kernels.rings import pip_pairs, pip_pairs_flat, rings_to_edges
from pyshp_spark.kernels.wkb import wkb_rings

_P = "__ps_"  # internal column prefix

#: reserved polygon frame columns (geometry + bbox); every default
#: polygon_cols derivation excludes exactly this set — keep the three
#: join entry points and zonal_stats on ONE list so adding a reserved
#: column can never silently change an aggregation grain
POLYGON_META_COLS = ("wkb", "xmin", "ymin", "xmax", "ymax")


def _explode_bbox_cover(
    df: DataFrame,
    grid: Grid,
    xmin: str = "xmin",
    ymin: str = "ymin",
    xmax: str = "xmax",
    ymax: str = "ymax",
    out: str = _P + "cell",
) -> DataFrame:
    """One output row per bbox cover cell, entirely in JVM codegen
    (two Generate-over-sequence nodes) — replaces the ArrowEvalPython
    cover UDF that paid a JVM->Python->JVM round trip plus a per-row
    Python loop on every cover explode (guide §4.1: built-ins over
    UDFs).  Same cell set as ``Grid.bbox_cover_np`` (identical floor
    arithmetic).  Rows with a NULL/NaN bound or an inverted bbox yield
    no cover rows — the filter reproduces the UDF's empty-cover
    behavior for missing geometry (NaN comparisons are false)."""
    cc, cr = _P + "covc", _P + "covr"
    df = df.where((F.col(xmin) <= F.col(xmax)) & (F.col(ymin) <= F.col(ymax)))
    c0 = F.floor((F.col(xmin) - F.lit(grid.x0)) / F.lit(grid.dx)).cast("long")
    c1 = F.floor((F.col(xmax) - F.lit(grid.x0)) / F.lit(grid.dx)).cast("long")
    r0 = F.floor((F.col(ymin) - F.lit(grid.y0)) / F.lit(grid.dy)).cast("long")
    r1 = F.floor((F.col(ymax) - F.lit(grid.y0)) / F.lit(grid.dy)).cast("long")
    return (
        df.withColumn(cc, F.explode(F.sequence(c0, c1)))
        .withColumn(cr, F.explode(F.sequence(r0, r1)))
        .withColumn(out, F.col(cc) + F.col(cr) * F.lit(grid.width))
        .drop(cc, cr)
    )


def _polygons_with_cells(
    polygons: DataFrame, grid: Grid, salt_k: int | None
) -> DataFrame:
    """Explode each polygon row into one row per cover cell (and salt)."""
    out = _explode_bbox_cover(polygons, grid)
    if salt_k:
        out = out.withColumn(
            _P + "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_k - 1)))
        )
    return out


def _points_with_cell(
    points: DataFrame, x: str, y: str, grid: Grid, salt_k: int | None
) -> DataFrame:
    out = points.withColumn(_P + "cell", grid.cell_expr(F.col(x), F.col(y)))
    if salt_k:
        # salt over the WHOLE point row, not just (x, y): the archetypal
        # hot spot is many rows at ONE exact coordinate, and a
        # coordinate-derived salt maps them all to a single (cell, salt)
        # partition — the salted join then still serializes the hot cell
        # in one task (guide §2.5).  Hashing the point columns spreads
        # identical-coordinate rows across all k salts; the salt only
        # routes rows, so results are unchanged, and it stays
        # DETERMINISTIC under task retry (no rand()).  Only columns
        # Spark can hash take part (a MapType payload fails analysis);
        # x and y always can.  Rows that are full duplicates still share
        # one salt — for that hot-key shape, dedup_coords=True refines
        # each distinct coordinate once instead.
        hashable = [
            F.col(f.name) for f in points.schema.fields
            if _spark_hashable(f.dataType)
        ]
        out = out.withColumn(
            _P + "salt",
            F.pmod(F.hash(*hashable), F.lit(salt_k)).cast("int"),
        )
    return out


def _spark_hashable(dt: DataType) -> bool:
    """Whether Spark's ``hash`` accepts the type: maps and variants,
    also nested in arrays or structs, are rejected at analysis."""
    if isinstance(dt, (MapType, VariantType)):
        return False
    if isinstance(dt, ArrayType):
        return _spark_hashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_spark_hashable(f.dataType) for f in dt.fields)
    return True


def _refine_pip(
    df: DataFrame, x: str, y: str, keep_wkb: bool = False,
    drop_cols: set[str] | frozenset[str] = frozenset(),
) -> DataFrame:
    """Arrow-batched even-odd ray-cast refine on candidate pairs.

    Expects columns ``wkb`` (polygon) and point coords; parses each
    distinct WKB once per batch and tests all its candidate points in
    one vectorized call.  ``drop_cols`` are refine INPUTS excluded from
    the output (e.g. probe coords a downstream aggregation never reads
    — not shipping them back through Arrow trims the channel, which is
    the scaling bottleneck).
    """
    out_fields = [
        f for f in df.schema.fields
        if (keep_wkb or f.name != "wkb") and f.name not in drop_cols
    ]

    out_schema = StructType(out_fields)
    out_cols = [f.name for f in out_fields]
    in_names = [f.name for f in df.schema.fields]
    wkb_i = in_names.index("wkb")
    x_i, y_i = in_names.index(x), in_names.index(y)
    out_idx = [in_names.index(c) for c in out_cols]

    def refine(batches):
        # mapInArrow, not mapInPandas: a pandas conversion materializes
        # one Python bytes object PER CANDIDATE ROW for the wkb column
        # (pair-scale, the dominant boundary cost of the shuffle-path
        # plan); Arrow keeps the binary column as one contiguous buffer,
        # dictionary_encode dedups it at C speed, and only the DISTINCT
        # wkbs per batch ever become Python objects
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        edge_cache: dict[bytes, np.ndarray] = {}
        for rb in batches:
            wkb_arr = rb.column(wkb_i)
            # a null wkb must not reach the kernel (it would silently
            # test the wrong polygon); filter rows first
            if wkb_arr.null_count:
                rb = rb.filter(pc.is_valid(wkb_arr))
                wkb_arr = rb.column(wkb_i)
            if rb.num_rows == 0:
                yield rb.select(out_idx)
                continue
            enc = pc.dictionary_encode(wkb_arr)
            codes = enc.indices.to_numpy(zero_copy_only=False)
            edges = []
            for w in enc.dictionary:
                b = w.as_py()
                e = edge_cache.get(b)
                if e is None:
                    e = rings_to_edges(wkb_rings(b))
                    edge_cache[b] = e
                edges.append(e)
            px = rb.column(x_i).to_numpy(zero_copy_only=False)
            py = rb.column(y_i).to_numpy(zero_copy_only=False)
            keep = pip_pairs(edges, codes, px, py)
            yield rb.select(out_idx).filter(pa.array(keep))

    return df.mapInArrow(refine, schema=out_schema)


def _resolve_broadcast(
    polygons: DataFrame,
    broadcast_polygons,
    max_broadcast_rows: int,
    max_broadcast_bytes: int = 1_500_000_000,
) -> bool:
    """"auto" probes the build side with a LIMIT-bounded count (scans at
    most max_broadcast_rows+1 rows, so cheap even on a huge table) and
    falls back to the shuffle path when it is too big to broadcast.

    The guard is byte-aware, not just row-count-aware: a few million
    rows of small diamonds broadcast fine, but the same row count of
    large multipart WKB would OOM the driver toPandas.  Once the row
    probe passes (n is bounded), build-side bytes are measured EXACTLY
    with one sum(length(wkb)) scan — a LIMIT-based estimate can miss
    large rows sitting past the probed prefix, and this scan is cheap
    next to the broadcast collect that would follow anyway."""
    if broadcast_polygons != "auto":
        return bool(broadcast_polygons)
    n = polygons.limit(max_broadcast_rows + 1).count()
    if n > max_broadcast_rows:
        return False
    if n and "wkb" in polygons.columns:
        total_wkb = (
            polygons.select(F.length("wkb").alias("__l"))
            .agg(F.sum("__l"))
            .first()[0]
        ) or 0
        # 96 B/row slack for the bbox doubles + id attrs + pandas overhead
        if total_wkb + n * 96.0 > max_broadcast_bytes:
            return False
    return True


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    x: str = "x",
    y: str = "y",
    grid: Grid = GRID,
    broadcast_polygons: bool | str = "auto",
    salt_k: int | None = None,
    point_cols: list[str] | None = None,
    polygon_cols: list[str] | None = None,
    max_broadcast_rows: int = 4_000_000,
    max_broadcast_bytes: int = 1_500_000_000,
    point_out_cols: list[str] | None = None,
    dedup_coords: bool = False,
) -> DataFrame:
    """Inner join: each point row paired with every polygon containing it.

    ``polygons`` needs columns (wkb, xmin, ymin, xmax, ymax, ...).
    Containment semantics = even-odd ray-cast over all rings, matching
    the reference's organized exterior-minus-holes membership.

    Scale notes: the broadcast path is for dimension-sized polygon
    sets — geometries are parsed ONCE (distributed, on the executors)
    into flat edge arrays shipped as a broadcast variable, so the cell
    equi-join carries only a dense int polygon id (no WKB bytes ever
    cross Arrow on the fact side) and the probe side never shuffles.
    ``broadcast_polygons="auto"`` (default) probes the build-side size
    and picks broadcast vs sort-merge automatically; pass True/False to
    force, and optionally ``salt_k`` to pre-split hot cells on the
    shuffle path.  ``point_out_cols`` (subset of the point columns)
    restricts which point columns reach the OUTPUT — coords consumed
    only by the refine never travel back through Arrow.

    Sort-merge-path type contract: the deterministic polygon id hashes
    and window-partitions over (wkb, *polygon_cols), so on that path
    every ``polygon_cols`` column must be a type Spark can hash and
    partition by (MapType, for one, is not) — an AnalysisException
    surfaces at plan time otherwise.  Project such columns away and
    re-attach them after the join, or use the broadcast path.

    ``dedup_coords=True`` (shuffle/salted path only) collapses the
    probe to DISTINCT (x, y) before the candidate join, refines only
    distinct coordinates, and re-attaches the full point rows with a
    JVM coordinate equi-join afterwards — the guide §2.5 hot-key
    special case for probe sets where many rows share exact
    coordinates (sensor pile-ups, default locations): a coordinate
    carried by a million rows contributes its candidate pairs ONCE to
    the join + Arrow refine instead of a million times, which both
    kills the skewed candidate partition and shrinks the Python
    boundary bytes.  Results are identical (the join-back restores
    per-row multiplicity; Spark joins match NaN=NaN and drop NULL keys,
    and neither NaN nor NULL coordinates can appear in the matched set
    — exactly the rows the bbox filter already rejects).  Leave False
    when probe coordinates are mostly unique: the distinct + join-back
    then costs an extra shuffle for no pair reduction.
    """
    pcols = point_cols or [c for c in points.columns]
    gcols = polygon_cols or [
        c for c in polygons.columns if c not in POLYGON_META_COLS
    ]
    ocols = pcols if point_out_cols is None else point_out_cols
    bad = set(ocols) - set(pcols)
    if bad:
        raise ValueError(f"point_out_cols not in point_cols: {sorted(bad)}")
    if not salt_k:
        # an already-cached index answers the broadcast question for
        # free — only cache misses pay the size-probe jobs
        if (
            broadcast_polygons == "auto"
            and (max_broadcast_rows, max_broadcast_bytes) == _DEFAULT_GUARD
            and _has_cached_index(polygons, grid, gcols)
        ) or _resolve_broadcast(
            polygons, broadcast_polygons, max_broadcast_rows, max_broadcast_bytes
        ):
            return _pip_join_broadcast(
                points, polygons, x, y, grid, pcols, gcols, ocols
            )
        broadcast_polygons = False  # probe said too big: sort-merge path
    else:
        # salted path: the probe only decides the broadcast HINT on the
        # exploded build side
        broadcast_polygons = _resolve_broadcast(
            polygons, broadcast_polygons, max_broadcast_rows, max_broadcast_bytes
        )
    build_src = polygons.select(*POLYGON_META_COLS, *gcols)
    joinback_src = None
    if dedup_coords:
        # §2.5 hot-key collapse: candidate join + refine see each
        # distinct coordinate once; full rows re-attach afterwards
        joinback_src = points.select(*pcols)
        points = joinback_src.select(F.col(x), F.col(y)).distinct()
        pcols = [x, y]
        refine_drop: set[str] = set()  # coords are the join-back key
    else:
        refine_drop = set(pcols) - set(ocols)

    def _attach(refined: DataFrame) -> DataFrame:
        if joinback_src is None:
            return refined
        return joinback_src.join(refined, on=[x, y]).select(*ocols, *gcols)

    probe = _points_with_cell(points.select(*pcols), x, y, grid, salt_k)
    join_keys = [_P + "cell"] + ([_P + "salt"] if salt_k else [])
    if broadcast_polygons:
        build = F.broadcast(_polygons_with_cells(build_src, grid, salt_k))
        cand = probe.join(build, on=join_keys, how="inner").where(
            point_in_bbox_expr(
                F.col(x), F.col(y),
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            )
        ).select(*pcols, *gcols, "wkb")
        return _attach(_refine_pip(cand, x, y, drop_cols=refine_drop))

    # shuffle path: the exploded build side replicates each polygon row
    # x cover-cells x salt_k through the exchange — so ship only
    # (pid, bbox, attrs), never the WKB.  The geometry re-attaches to
    # the (much smaller) bbox-prefiltered candidate set with a plain
    # equi-join on the pid: unique key, so no skew, and AQE broadcasts
    # the dimension side when it fits.  The pid is a DETERMINISTIC
    # function of row content — (xxhash64, murmur3) over (wkb, attrs,
    # duplicate-rank), 96 collision bits — so an executor lost mid-query
    # recomputes identical ids through plain lineage: no localCheckpoint
    # (whose blocks are unrecoverable on a real cluster) and no eager
    # job at plan-construction time.  The duplicate-rank window keeps
    # fully-identical polygon rows distinct (join multiplicity); its
    # sort is over identical rows, so any tie order yields the same
    # result.  persist() shares the one window shuffle between the two
    # uses while staying lineage-recoverable.
    dup_w = Window.partitionBy("wkb", *gcols).orderBy(F.lit(1))
    keyed = (
        build_src.withColumn(_P + "dup", F.row_number().over(dup_w))
        .withColumn(_P + "pid", F.xxhash64("wkb", *gcols, _P + "dup"))
        .withColumn(_P + "pid2", F.hash("wkb", *gcols, _P + "dup"))
        .drop(_P + "dup")
        .persist()
    )
    _register_op_caches("pip_shuffle", [keyed])
    pid_keys = [_P + "pid", _P + "pid2"]
    build = _polygons_with_cells(keyed.drop("wkb"), grid, salt_k)
    cand = probe.join(build, on=join_keys, how="inner").where(
        point_in_bbox_expr(
            F.col(x), F.col(y),
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
        )
    ).select(*pcols, *gcols, *pid_keys)
    cand = cand.join(
        keyed.select(*pid_keys, "wkb"), on=pid_keys, how="inner"
    ).select(*pcols, *gcols, "wkb")
    return _attach(_refine_pip(cand, x, y, drop_cols=refine_drop))


_INDEX_CACHE: dict = {}
_INDEX_CACHE_MAX = 4

# operator-internal cache generations live in operators/opcache.py;
# re-exported here because the spatial operators are their main users
from pyshp_spark.operators.opcache import (  # noqa: F401
    register_op_caches as _register_op_caches,
    release_operator_caches,
)


def clear_polygon_index_cache() -> None:
    """Drop all cached broadcast polygon indexes (call after mutating
    files underneath a path an index was built from — the cache keys on
    the query PLAN, not the data)."""
    while _INDEX_CACHE:
        _, old = _INDEX_CACHE.popitem()
        try:
            old.bc.unpersist()
        except Exception:
            pass


def _index_cache_key(polygons: DataFrame, grid: Grid,
                     polygon_cols: list[str] | None):
    """(app, plan-semantic-hash, grid, cols) cache key, or None when the
    semantic hash is unavailable (then nothing is cached)."""
    try:
        return (
            polygons.sparkSession.sparkContext.applicationId,
            polygons._jdf.queryExecution().analyzed().semanticHash(),
            grid,
            tuple(polygon_cols) if polygon_cols is not None else None,
        )
    except Exception:
        return None


def _find_cached_index(key, polygon_cols):
    """Cache lookup for ``key``; a geometry-only request
    (``polygon_cols == []``) may reuse ANY same-(plan, grid) entry —
    the broadcast arrays are built from the geometry columns alone, so
    an index built with attribute columns answers semi/anti probes
    identically.  Returns the entry (marked most-recently-used) or
    None."""
    idx = _INDEX_CACHE.get(key)
    if idx is None and not (polygon_cols or []):
        for k2 in _INDEX_CACHE:
            if k2[:3] == key[:3]:
                key, idx = k2, _INDEX_CACHE[k2]
                break
    if idx is not None:
        _INDEX_CACHE[key] = _INDEX_CACHE.pop(key)  # mark MRU
    return idx


_DEFAULT_GUARD = (4_000_000, 1_500_000_000)


def _has_cached_index(polygons, grid, polygon_cols) -> bool:
    """True when a usable broadcast index for this polygon plan is
    already cached — the entry points consult this BEFORE running the
    broadcast-size probe, so steady-state repeated joins against the
    same dimension table skip the probe's two jobs (a LIMIT-bounded
    count plus a sum(length(wkb)) scan that re-evaluates any geometry-
    producing UDF over the whole build side) entirely.  Callers only
    take this shortcut under the DEFAULT guard values: a per-call
    tightened guard must keep forcing the probe (and its fallback)."""
    key = _index_cache_key(polygons, grid, polygon_cols)
    if key is None:
        return False
    if key in _INDEX_CACHE:
        return True
    if not (polygon_cols or []):
        return any(k[:3] == key[:3] for k in _INDEX_CACHE)
    return False


def _cached_polygon_index(polygons: DataFrame, grid: Grid,
                          polygon_cols: list[str] | None):
    """Session-scoped LRU over BroadcastPolygonIndex keyed by the
    polygon plan's semantic hash: repeated joins against the same
    dimension table (the steady-state workload shape) reuse the
    already-built broadcast instead of re-collecting and re-parsing.
    Evicted entries release their broadcast.  Keys are PLANS — if the
    files underneath a read path are rewritten in place, call
    :func:`clear_polygon_index_cache`."""
    key = _index_cache_key(polygons, grid, polygon_cols)
    if key is None:
        return BroadcastPolygonIndex(polygons, grid=grid, polygon_cols=polygon_cols)
    idx = _find_cached_index(key, polygon_cols)
    if idx is None:
        idx = BroadcastPolygonIndex(polygons, grid=grid, polygon_cols=polygon_cols)
        _INDEX_CACHE[key] = idx
    while len(_INDEX_CACHE) > _INDEX_CACHE_MAX:
        oldest = next(iter(_INDEX_CACHE))
        old = _INDEX_CACHE.pop(oldest)
        try:
            old.bc.unpersist()
        except Exception:
            pass
    return idx


def _parse_polygons_distributed(
    polygons: DataFrame, grid: Grid
) -> pd.DataFrame:
    """Executor-side WKB -> flat-buffer parse for the broadcast index
    build: each polygon row comes back as (bbox, attrs, edge-bytes,
    cover-bytes) so the driver never runs per-row Python over geometry.

    Edge bytes are C-order float64 (E, 4) rows; cover bytes int64 cell
    ids.  Duplicate WKB values are factorized per Arrow batch and parsed
    once.  Null WKB / NaN bbox rows (NULL shapes from ingest) yield
    empty buffers — they can contain no point."""
    from pyspark.sql.types import BinaryType, StructField, StructType  # noqa: PLC0415

    keep = [f for f in polygons.schema.fields if f.name != "wkb"]
    out_schema = StructType(
        keep
        + [
            StructField(_P + "edges", BinaryType()),
            StructField(_P + "cover", BinaryType()),
        ]
    )
    keep_names = [f.name for f in keep]
    empty = b""

    # a dimension table often arrives as ONE scan partition (small file
    # counts, single row groups); the parse is the expensive part, so
    # spread it across the cluster — the one-time WKB shuffle is
    # dimension-sized and buys core-count parallelism
    sc = polygons.sparkSession.sparkContext
    target = sc.defaultParallelism
    if polygons.rdd.getNumPartitions() < max(2, target // 2):
        polygons = polygons.repartition(target)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep_names].copy()
            if len(pdf) == 0:
                out[_P + "edges"] = pd.Series([], dtype=object)
                out[_P + "cover"] = pd.Series([], dtype=object)
                yield out
                continue
            codes, uniques = pd.factorize(pdf["wkb"])
            uniq_blobs = [
                rings_to_edges(wkb_rings(bytes(w))).tobytes() for w in uniques
            ]
            out[_P + "edges"] = [
                uniq_blobs[c] if c >= 0 else empty for c in codes
            ]
            bb = pdf[["xmin", "ymin", "xmax", "ymax"]].to_numpy(
                dtype=np.float64
            )
            bad = np.isnan(bb).any(axis=1)
            # cover cells for the WHOLE batch in one vectorized pass
            # (the per-row bbox_cover_np call cost ~11us of numpy setup
            # per polygon — ~5 core-seconds at the 500k build guard);
            # same cell values and order as bbox_cover_np: row-major
            # over (rows, cols), empty for NaN or inverted bboxes
            bbz = np.where(np.isnan(bb), 0.0, bb)  # keep floors defined
            c0 = np.floor((bbz[:, 0] - grid.x0) / grid.dx).astype(np.int64)
            c1 = np.floor((bbz[:, 2] - grid.x0) / grid.dx).astype(np.int64)
            r0 = np.floor((bbz[:, 1] - grid.y0) / grid.dy).astype(np.int64)
            r1 = np.floor((bbz[:, 3] - grid.y0) / grid.dy).astype(np.int64)
            ncols = np.maximum(c1 - c0 + 1, 0)
            nrows = np.maximum(r1 - r0 + 1, 0)
            counts = np.where(bad, 0, ncols * nrows)
            ends = np.cumsum(counts)
            starts = ends - counts
            total = int(ends[-1]) if len(ends) else 0
            if total:
                within = np.arange(total) - np.repeat(starts, counts)
                nc_rep = np.repeat(ncols, counts)
                cells = (
                    np.repeat(c0, counts) + within % nc_rep
                    + (np.repeat(r0, counts) + within // nc_rep)
                    * grid.width
                )
            else:
                cells = np.empty(0, dtype=np.int64)
            out[_P + "cover"] = [
                cells[s:e].tobytes() if e > s else empty
                for s, e in zip(starts, ends)
            ]
            yield out

    parsed = polygons.mapInPandas(parse, schema=out_schema)
    # the collect must take the Arrow path: the default row-pickled
    # toPandas is ~50x slower at the broadcast guard ceiling (hundreds
    # of thousands of binary-blob rows).
    with _arrow_enabled(polygons.sparkSession):
        return parsed.toPandas()


@contextmanager
def _arrow_enabled(sess):
    """Force the Arrow JVM<->Python path around a driver transfer
    (toPandas / createDataFrame-from-pandas) and restore whatever the
    session had — the default row-pickled path is ~50x slower at the
    broadcast guard ceiling."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    try:
        prev = sess.conf.get(key)
    except Exception:
        prev = None
    try:
        sess.conf.set(key, "true")
        yield
    finally:
        if prev is not None:
            sess.conf.set(key, prev)
        else:
            sess.conf.unset(key)


class BroadcastPolygonIndex:
    """Build-once broadcast spatial index over a dimension-sized polygon
    set; probe many times with point DataFrames.

    The polygon side is parsed DISTRIBUTED (a ``mapInPandas`` stage
    turns each WKB into a flat float64 edge buffer and an int64 cell
    cover on the executors), then only those compact binary buffers are
    collected — the driver's whole build is ``b"".join`` + one
    ``np.frombuffer`` per index array, memcpy-speed regardless of
    polygon complexity.  The result is the same flat edge arrays + CSR
    cell -> polygon-id index (a handful of numpy buffers — each Python
    worker deserializes the broadcast in ~ms), broadcast once per
    session.
    Every probe is a single ``mapInArrow`` over the points doing index
    lookup, bbox prune and ray-cast refine inside the worker, emitting
    ONLY an array of matching polygon ids per point — candidate pairs
    never cross the Arrow channel (at 45M candidates that transfer, not
    the kernel, dominated a pair-row plan).  A JVM-side explode + tiny
    broadcast join reattaches polygon attribute columns.  No shuffle
    anywhere on the fact side."""

    def __init__(self, polygons: DataFrame, grid: Grid = GRID,
                 polygon_cols: list[str] | None = None):
        self.grid = grid
        self.gcols = polygon_cols if polygon_cols is not None else [
            c for c in polygons.columns
            if c not in POLYGON_META_COLS
        ]
        self._gfields = {f.name: f for f in polygons.schema.fields}
        spark = polygons.sparkSession
        self.spark = spark
        pol_pdf = _parse_polygons_distributed(
            polygons.select(*POLYGON_META_COLS, *self.gcols), grid
        )
        n = len(pol_pdf)
        # the executors already parsed WKB -> (E,4) float64 edge rows and
        # int64 cell covers; reassembly here is bytes-join + frombuffer
        # (pure memcpy — no per-polygon Python work on the driver)
        edge_blobs = pol_pdf[_P + "edges"].tolist()
        edge_counts = np.fromiter(
            (len(b) // 32 for b in edge_blobs), dtype=np.int64, count=n
        )
        all_edges = np.frombuffer(
            b"".join(edge_blobs), dtype=np.float64
        ).reshape(-1, 4)
        edge_offsets = np.concatenate(
            [np.zeros(1, dtype=np.int64), np.cumsum(edge_counts)]
        )
        bbox_arr = pol_pdf[["xmin", "ymin", "xmax", "ymax"]].to_numpy(
            dtype=np.float64
        )
        cover_blobs = pol_pdf[_P + "cover"].tolist()
        cover_counts = np.fromiter(
            (len(b) // 8 for b in cover_blobs), dtype=np.int64, count=n
        )
        cover_cell = np.frombuffer(b"".join(cover_blobs), dtype=np.int64)
        cover_pid = np.repeat(np.arange(n, dtype=np.int32), cover_counts)
        order = np.argsort(cover_cell, kind="stable")
        sorted_cells = cover_cell[order]
        # int32 pids halve the broadcast's fattest buffer (valid: the
        # row guard caps the build side well under 2^31 rows)
        sorted_pids = cover_pid[order]
        # uniques via the diff mask — np.unique would re-SORT the
        # already-sorted array (the build's single hottest step at the
        # guard ceiling)
        if len(sorted_cells):
            uniq_mask = np.empty(len(sorted_cells), dtype=bool)
            uniq_mask[0] = True
            np.not_equal(sorted_cells[1:], sorted_cells[:-1], out=uniq_mask[1:])
            uniq_cells = sorted_cells[uniq_mask]
            cell_starts = np.flatnonzero(uniq_mask)
        else:
            uniq_cells = sorted_cells
            cell_starts = np.empty(0, dtype=np.int64)
        cell_offsets = np.concatenate([cell_starts, [len(sorted_cells)]])
        self.bc = spark.sparkContext.broadcast(
            (all_edges, edge_offsets, bbox_arr, uniq_cells, cell_offsets,
             sorted_pids)
        )
        # the blobs fed the index build; gtable only needs the attrs
        self.pol_pdf = pol_pdf.drop(columns=[_P + "edges", _P + "cover"])
        self._gtable = None

    def gtable(self):
        from pyspark.sql.types import IntegerType, StructField, StructType  # noqa: PLC0415

        if self._gtable is None:
            gpdf = self.pol_pdf[self.gcols].copy()
            gpdf.insert(0, _P + "pid", np.arange(len(self.pol_pdf), dtype=np.int32))
            gschema = StructType(
                [StructField(_P + "pid", IntegerType())]
                + [self._gfields[g] for g in self.gcols]
            )
            # same Arrow-path rule as the index-build collect: a
            # row-pickled createDataFrame of a guard-ceiling attrs
            # table would dominate the first probe's wall
            with _arrow_enabled(self.spark):
                self._gtable = self.spark.createDataFrame(
                    gpdf, schema=gschema
                )
        return self._gtable

    def join_points(self, points: DataFrame, x: str = "x", y: str = "y",
                    point_cols: list[str] | None = None,
                    mode: str = "inner",
                    point_out_cols: list[str] | None = None) -> DataFrame:
        """mode="inner": one output row per (point, containing polygon)
        pair, polygon attrs attached.  mode="semi"/"anti": the point
        rows inside at least one / outside every polygon — answered in
        the SAME single refine pass (the per-point match count is
        already computed), so neither costs a second scan or any
        shuffle.  ``point_out_cols`` restricts which point columns the
        refine ships back out through Arrow (coords an aggregation
        never reads stay worker-side)."""
        from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType  # noqa: PLC0415

        if mode not in ("inner", "semi", "anti"):
            raise ValueError(f"unknown join mode {mode!r}")
        pcols = point_cols or list(points.columns)
        ocols = pcols if point_out_cols is None else point_out_cols
        grid = self.grid
        bc = self.bc
        # the cell id is recomputed from (x, y) INSIDE the worker — it is
        # pure float math, and not shipping it saves an int64 Arrow
        # column on the fact side (the channel is the scaling bottleneck)
        probe = points.select(*pcols)
        by_name = {f.name: f for f in probe.schema.fields}
        point_fields = [by_name[c] for c in ocols]
        if mode == "inner":
            out_schema = StructType(
                point_fields
                + [StructField(_P + "matches", ArrayType(IntegerType()))]
            )
        else:
            out_schema = StructType(point_fields)
        point_names = [f.name for f in point_fields]
        empty_i64 = np.empty(0, dtype=np.int64)

        def refine_slice(state, cells, px, py):
            """(point_idx, pid) matches for one cache-sized point slice.
            Every temporary stays ~L2-resident: on DRAM-bandwidth-bound
            hosts this is the difference between flat and near-linear
            multi-worker scaling."""
            (all_e, e_off, bboxes, idx_cells, idx_off, idx_pids) = state
            n = len(cells)
            pos = np.searchsorted(idx_cells, cells)
            pos_c = np.clip(pos, 0, max(len(idx_cells) - 1, 0))
            hit = (len(idx_cells) > 0) & (idx_cells[pos_c] == cells)
            starts = np.where(hit, idx_off[pos_c], 0)
            counts = np.where(hit, idx_off[pos_c + 1] - idx_off[pos_c], 0)
            total = int(counts.sum())
            if not total:
                return np.empty(0, np.int64), empty_i64
            point_idx = np.repeat(np.arange(n), counts)
            # flattened ranges: start_i + (0..count_i-1) per point
            head = np.concatenate([[0], np.cumsum(counts)[:-1]])
            within = np.arange(total) - np.repeat(head, counts)
            pair_pids = idx_pids[np.repeat(starts, counts) + within]
            # bbox prune (reference-inclusive semantics), then ray-cast
            bb = bboxes[pair_pids]
            tx = px[point_idx]
            ty = py[point_idx]
            m = (
                (bb[:, 0] <= tx) & (tx <= bb[:, 2])
                & (bb[:, 1] <= ty) & (ty <= bb[:, 3])
            )
            point_idx = point_idx[m]
            pair_pids = pair_pids[m]
            if len(pair_pids):
                inside = pip_pairs_flat(
                    all_e, e_off, pair_pids, px[point_idx], py[point_idx]
                )
                point_idx = point_idx[inside]
                pair_pids = pair_pids[inside]
            return point_idx, pair_pids

        SLICE = 8192
        probe_names = [f.name for f in probe.schema.fields]
        x_i, y_i = probe_names.index(x), probe_names.index(y)
        pt_idxs = [probe_names.index(c) for c in point_names]

        def refine(batches):
            # mapInArrow, not mapInPandas: the inner mode's per-point
            # match lists are emitted as ONE zero-copy
            # pa.ListArray.from_arrays(offsets, values) per batch — the
            # pandas route had to np.split the pid array into one tiny
            # numpy object PER MATCHED POINT (profiled at ~30% of the
            # whole worker time), and the point columns now pass
            # through as Arrow buffers without a pandas round trip
            import pyarrow as pa  # noqa: PLC0415

            state = bc.value
            for rb in batches:
                n = rb.num_rows
                px = rb.column(x_i).to_numpy(zero_copy_only=False)
                py = rb.column(y_i).to_numpy(zero_copy_only=False)
                cells = grid.cell_np(px, py)
                idx_parts = []
                pid_parts = []
                for s in range(0, n, SLICE):
                    pi, pp = refine_slice(
                        state, cells[s : s + SLICE], px[s : s + SLICE],
                        py[s : s + SLICE],
                    )
                    idx_parts.append(pi + s)
                    pid_parts.append(pp)
                point_idx = (
                    np.concatenate(idx_parts) if idx_parts
                    else np.empty(0, np.int64)
                )
                pair_pids = (
                    np.concatenate(pid_parts) if pid_parts
                    else np.empty(0, np.int64)
                )
                per_point = np.bincount(point_idx, minlength=n)
                if mode == "semi":
                    yield rb.select(pt_idxs).filter(pa.array(per_point > 0))
                    continue
                if mode == "anti":
                    yield rb.select(pt_idxs).filter(pa.array(per_point == 0))
                    continue
                keep = per_point > 0
                base = rb.select(pt_idxs).filter(pa.array(keep))
                # point_idx is globally ascending (slices processed in
                # order, masks preserve order), so pair_pids is already
                # grouped by point: offsets over the kept counts turn it
                # into the per-point list column without any splitting
                offsets = np.zeros(int(keep.sum()) + 1, dtype=np.int32)
                np.cumsum(per_point[keep], out=offsets[1:], dtype=np.int32)
                matches = pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(pair_pids.astype(np.int32), type=pa.int32()),
                )
                yield pa.RecordBatch.from_arrays(
                    [base.column(i) for i in range(base.num_columns)]
                    + [matches],
                    names=[*point_names, _P + "matches"],
                )

        matched = probe.mapInArrow(refine, schema=out_schema)
        if mode in ("semi", "anti"):
            return matched
        exploded = matched.select(
            *point_names, F.explode(_P + "matches").alias(_P + "pid")
        )
        if not self.gcols:
            return exploded.drop(_P + "pid")
        return (
            exploded.join(F.broadcast(self.gtable()), on=_P + "pid", how="inner")
            .select(*point_names, *self.gcols)
        )


def _pip_join_broadcast(points, polygons, x, y, grid, pcols, gcols, ocols=None):
    return _cached_polygon_index(
        polygons, grid, gcols
    ).join_points(points, x=x, y=y, point_cols=pcols, point_out_cols=ocols)


def spatial_semi_join(
    points, polygons, x="x", y="y", grid=GRID,
    broadcast_polygons: bool | str = "auto", salt_k: int | None = None,
    max_broadcast_rows: int = 4_000_000,
    max_broadcast_bytes: int = 1_500_000_000,
    point_out_cols: list[str] | None = None, **kw,
) -> DataFrame:
    """Rows of ``points`` that fall inside at least one polygon.

    Row-level semantics on BOTH paths: every input row inside some
    polygon appears exactly once (duplicate input rows preserved).  The
    broadcast path answers from the SAME single refine pass as the
    inner join (per-point match counts are a by-product) — no pair
    explosion, no dedup shuffle.  The sort-merge fallback left_semi
    joins the points against the distinct matched point-values with
    null-safe equality (a row carrying a NULL in a non-coordinate
    column must still match its own matched tuple), which also
    preserves left multiplicity."""
    pcols = points.columns
    if not salt_k and (
        (
            broadcast_polygons == "auto"
            and (max_broadcast_rows, max_broadcast_bytes) == _DEFAULT_GUARD
            and _has_cached_index(polygons, grid, [])
        )
        or _resolve_broadcast(
            polygons, broadcast_polygons, max_broadcast_rows, max_broadcast_bytes
        )
    ):
        return _cached_polygon_index(polygons, grid, []).join_points(
            points, x=x, y=y, mode="semi", point_out_cols=point_out_cols
        )
    matched = point_in_polygon_join(
        points, polygons, x=x, y=y, grid=grid, polygon_cols=[],
        broadcast_polygons=False, salt_k=salt_k, **kw
    )
    matched_vals = matched.select(*pcols).dropDuplicates(pcols)
    out = points.join(
        matched_vals, on=_null_safe_cond(points, matched_vals, pcols),
        how="left_semi",
    )
    return out if point_out_cols is None else out.select(*point_out_cols)


def _null_safe_cond(left: DataFrame, right: DataFrame, cols: list[str]) -> Column:
    """Null-safe (<=>) equality over ``cols`` — plain column equality
    silently drops rows with a NULL in ANY joined column, diverging
    from dropDuplicates' group-by semantics (which treat NULLs equal)."""
    cond = left[cols[0]].eqNullSafe(right[cols[0]])
    for c in cols[1:]:
        cond = cond & left[c].eqNullSafe(right[c])
    return cond


def spatial_anti_join(
    points, polygons, x="x", y="y", grid=GRID,
    broadcast_polygons: bool | str = "auto", salt_k: int | None = None,
    max_broadcast_rows: int = 4_000_000,
    max_broadcast_bytes: int = 1_500_000_000,
    point_out_cols: list[str] | None = None, **kw,
) -> DataFrame:
    """Rows of ``points`` outside every polygon.

    Row-level semantics on BOTH paths (duplicate input rows preserved).
    Broadcast path: emitted directly from the single refine pass
    (``per_point == 0`` rows) — one scan, zero shuffles, no second PIP
    pipeline.  Sort-merge fallback: left_anti against the distinct
    matched point-values with null-safe equality (plain equality would
    wrongly KEEP a matched row whose non-coordinate column is NULL)."""
    pcols = points.columns
    if not salt_k and (
        (
            broadcast_polygons == "auto"
            and (max_broadcast_rows, max_broadcast_bytes) == _DEFAULT_GUARD
            and _has_cached_index(polygons, grid, [])
        )
        or _resolve_broadcast(
            polygons, broadcast_polygons, max_broadcast_rows, max_broadcast_bytes
        )
    ):
        return _cached_polygon_index(polygons, grid, []).join_points(
            points, x=x, y=y, mode="anti", point_out_cols=point_out_cols
        )
    matched = point_in_polygon_join(
        points, polygons, x=x, y=y, grid=grid, polygon_cols=[],
        broadcast_polygons=False, salt_k=salt_k, **kw
    )
    matched_vals = matched.select(*pcols).dropDuplicates(pcols)
    out = points.join(
        matched_vals, on=_null_safe_cond(points, matched_vals, pcols),
        how="left_anti",
    )
    return out if point_out_cols is None else out.select(*point_out_cols)


def tile_assignment(
    tiles: DataFrame,
    polygons: DataFrame,
    grid: Grid = GRID,
    mode: str = "center",
    tx: str = "tile_x",
    ty: str = "tile_y",
    zoom: str = "zoom",
    polygon_cols: list[str] | None = None,
    **kw,
) -> DataFrame:
    """Assign raster tiles to polygons.

    mode="center": tile assigned to the polygon(s) containing its
    center point (exact ray-cast semantics).
    mode="bbox": tile assigned to every polygon whose bbox overlaps the
    tile's lon/lat bbox (pure Column math + cell join, no UDF refine).
    """
    from pyshp_spark.functions.cells import tile_to_lonlat_cols  # noqa: PLC0415

    if mode == "center":
        lon, lat = tile_to_lonlat_cols(
            F.col(tx), F.col(ty), F.col(zoom), fx=F.lit(0.5), fy=F.lit(0.5)
        )
        pts = tiles.withColumn("__cx", lon).withColumn("__cy", lat)
        out = point_in_polygon_join(
            pts, polygons, x="__cx", y="__cy", grid=grid,
            polygon_cols=polygon_cols, **kw
        )
        return out.drop("__cx", "__cy")
    if mode == "bbox":
        lon0, lat1 = tile_to_lonlat_cols(F.col(tx), F.col(ty), F.col(zoom))
        lon1, lat0 = tile_to_lonlat_cols(
            F.col(tx) + F.lit(1), F.col(ty) + F.lit(1), F.col(zoom)
        )
        boxed = (
            tiles.withColumn("__txmin", lon0)
            .withColumn("__tymin", lat0)
            .withColumn("__txmax", lon1)
            .withColumn("__tymax", lat1)
        )
        gcols = polygon_cols or [
            c for c in polygons.columns
            if c not in POLYGON_META_COLS
        ]
        build = _polygons_with_cells(
            polygons.select("xmin", "ymin", "xmax", "ymax", *gcols), grid, None
        )
        probe = _explode_bbox_cover(
            boxed, grid, "__txmin", "__tymin", "__txmax", "__tymax"
        )
        cand = probe.join(F.broadcast(build), on=_P + "cell").where(
            (F.col("__txmin") <= F.col("xmax"))
            & (F.col("xmin") <= F.col("__txmax"))
            & (F.col("__tymin") <= F.col("ymax"))
            & (F.col("ymin") <= F.col("__tymax"))
        )
        # responsibility cell: the pair is emitted only from the cell
        # holding the overlap rectangle's min corner (in BOTH covers by
        # construction) — dedup is a codegen'd filter, zero shuffle
        cand = cand.where(
            F.col(_P + "cell")
            == grid.cell_expr(
                F.greatest(F.col("__txmin"), F.col("xmin")),
                F.greatest(F.col("__tymin"), F.col("ymin")),
            )
        )
        out_cols = tiles.columns + gcols
        return cand.select(*out_cols)
    raise ValueError(f"unknown tile_assignment mode {mode!r}")


def bbox_overlap_join(
    rects: DataFrame,
    boxes: DataFrame,
    grid: Grid = GRID,
    rect_cols: tuple[str, str, str, str] = ("rxmin", "rymin", "rxmax", "rymax"),
    out_cols: list[str] | None = None,
    broadcast_boxes: bool = True,
) -> DataFrame:
    """Generic rectangle x bbox overlap join (raster-tile -> polygon
    assignment on a plane grid): both sides explode to cell covers,
    equi-join on cell, bbox-overlap Column prefilter (reference
    semantics, inclusive <=), dedup multi-cell matches.  ``boxes`` needs
    xmin/ymin/xmax/ymax columns; no UDF refine (bbox semantics are the
    contract)."""
    rxmin, rymin, rxmax, rymax = rect_cols
    build = _explode_bbox_cover(boxes, grid)
    if broadcast_boxes:
        build = F.broadcast(build)
    probe = _explode_bbox_cover(rects, grid, rxmin, rymin, rxmax, rymax)
    cand = probe.join(build, on=_P + "cell").where(
        (F.col(rxmin) <= F.col("xmax"))
        & (F.col("xmin") <= F.col(rxmax))
        & (F.col(rymin) <= F.col("ymax"))
        & (F.col("ymin") <= F.col(rymax))
    )
    # responsibility-cell dedup: of all cells the two covers share, the
    # pair is emitted only from the one containing the overlap
    # rectangle's min corner — same floor() arithmetic as the covers,
    # so exactly one join row survives; replaces a full-output
    # dropDuplicates shuffle with a codegen'd filter
    cand = cand.where(
        F.col(_P + "cell")
        == grid.cell_expr(
            F.greatest(F.col(rxmin), F.col("xmin")),
            F.greatest(F.col(rymin), F.col("ymin")),
        )
    )
    cols = out_cols or [c for c in rects.columns + boxes.columns if c != _P + "cell"]
    return cand.select(*cols)


# ------------------------------------------------------------------ kNN ----


def knn_brute(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    qx: str = "x",
    qy: str = "y",
    tx: str = "x",
    ty: str = "y",
    query_id: str = "query_id",
    target_cols: list[str] | None = None,
    tie_break: str | None = None,
) -> DataFrame:
    """Exact kNN by cross join + per-query window top-k.  The baseline
    (and the oracle-parity path); use :func:`knn_join` at scale.
    Distance column ``dist2`` is squared Euclidean (no sqrt -> exact
    float parity with SQL oracles)."""
    tcols = target_cols or [c for c in targets.columns]
    t = targets.select(*[F.col(c).alias("__t_" + c) for c in tcols])
    joined = queries.crossJoin(F.broadcast(t)).withColumn(
        "dist2",
        (F.col(qx) - F.col("__t_" + tx)) * (F.col(qx) - F.col("__t_" + tx))
        + (F.col(qy) - F.col("__t_" + ty)) * (F.col(qy) - F.col("__t_" + ty)),
    )
    order = [F.col("dist2")] + (
        [F.col("__t_" + tie_break)] if tie_break else []
    )
    w = Window.partitionBy(query_id).orderBy(*order)
    out = (
        joined.withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
    )
    renames = [F.col("__t_" + c).alias(c if c not in queries.columns else "t_" + c)
               for c in tcols]
    return out.select(*queries.columns, *renames, "dist2", "knn_rank")


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    grid: Grid = GRID,
    qx: str = "x",
    qy: str = "y",
    tx: str = "x",
    ty: str = "y",
    query_id: str = "query_id",
    target_cols: list[str] | None = None,
    tie_break: str | None = None,
    max_rounds: int = 6,
    brute_threshold: int | None = None,
    allow_cartesian_fallback: bool = False,
) -> DataFrame:
    """Exact kNN via expanding cell-neighborhood search.

    Round r joins unresolved queries against targets within Chebyshev
    cell radius 2^r, keeps a RUNNING per-query top-k (each round's new
    candidates fold into the previous round's top-k frame — the window
    input is O(queries*k + new candidates), never the whole candidate
    history), and declares a query resolved when its k-th candidate
    distance is <= the guaranteed covered distance radius*min(dx,dy)
    (any nearer target must lie in an already-searched cell).  The
    driver runs exactly ONE action per round (the unresolved count,
    which also materializes that round's top-k cache); each round's
    top-k and unresolved-query frames are persisted and the previous
    round's released, so peak storage is O(1) rounds.  Stragglers left
    after ``max_rounds`` (empty regions / degenerate grids) fall back
    to a broadcast brute scan when the target side passes the
    broadcast size guard (cheap: the straggler set is tiny).  Past the
    guard, ONE extra widened ring (radius 2^max_rounds) runs first,
    and if queries STILL remain it raises loudly (raise ``max_rounds``
    or use a finer grid) instead of running a cluster-killer — unless
    ``allow_cartesian_fallback=True``, which opts back in to the
    bounded distributed scan (stragglers x full target table) for
    callers who prefer correctness-over-cost.

    ``brute_threshold`` is opt-in: when set, a target set at or below
    that many rows skips the rounds and runs the broadcast brute path
    (identical output).  The default (None) never runs the extra
    count() job — callers who know the target side is dimension-sized
    should call :func:`knn_brute` directly.

    Note: exact-duplicate query rows and target rows distinct-collapse
    ONCE at entry (target rows must be distinct on ``target_cols`` —
    pass an id column — or duplicate targets will collapse); ring
    candidates are then unique (query, target) pairs BY CONSTRUCTION
    (consecutive rings cover disjoint cell sets), so the fold needs no
    per-round pair-level dropDuplicates — that was one extra exchange
    over the merged top-k+candidates EVERY round (guide §2.4; only the
    brute fallbacks, whose cross-join regenerates pairs the rings
    already found, still dedup their one fold).
    """
    tcols = target_cols or [c for c in targets.columns]
    if brute_threshold is not None and targets.count() <= brute_threshold:
        return knn_brute(
            queries, targets, k, qx=qx, qy=qy, tx=tx, ty=ty,
            query_id=query_id, target_cols=tcols, tie_break=tie_break,
        )
    tgt = targets.withColumn(_P + "tcell", grid.cell_expr(F.col(tx), F.col(ty)))
    tgt = tgt.select(
        _P + "tcell", *[F.col(c).alias("__t_" + c) for c in tcols]
    ).dropDuplicates().cache()
    cached = [tgt]
    dedup_keys = [query_id] + ["__t_" + c for c in tcols]
    order = [F.col("dist2")] + ([F.col("__t_" + tie_break)] if tie_break else [])
    w = Window.partitionBy(query_id).orderBy(*order)
    qcols = queries.columns
    queries = queries.dropDuplicates()

    def ring_cand(remaining, r: int) -> DataFrame:
        """Candidate pairs from the radius-2^r cell ring (cells NOT
        covered by the previous radius), lazily."""
        radius = 2**r
        q = remaining.withColumn(
            _P + "qcol", grid.col_expr(F.col(qx))
        ).withColumn(_P + "qrow", grid.row_expr(F.col(qy)))
        q = q.withColumn(
            _P + "dc", F.explode(F.sequence(F.lit(-radius), F.lit(radius)))
        ).withColumn(
            _P + "dr", F.explode(F.sequence(F.lit(-radius), F.lit(radius)))
        )
        if r > 0:
            prev = 2 ** (r - 1)
            q = q.where(
                (F.abs(F.col(_P + "dc")) > prev) | (F.abs(F.col(_P + "dr")) > prev)
            )
        q = q.withColumn(
            _P + "tcell",
            (F.col(_P + "qcol") + F.col(_P + "dc"))
            + (F.col(_P + "qrow") + F.col(_P + "dr")) * F.lit(grid.width),
        )
        cand = q.join(tgt, on=_P + "tcell", how="inner").withColumn(
            "dist2",
            (F.col(qx) - F.col("__t_" + tx)) * (F.col(qx) - F.col("__t_" + tx))
            + (F.col(qy) - F.col("__t_" + ty)) * (F.col(qy) - F.col("__t_" + ty)),
        )
        return cand.drop(
            _P + "tcell", _P + "qcol", _P + "qrow", _P + "dc", _P + "dr"
        )

    def fold_topk(topk, cand, dedup: bool = False) -> DataFrame:
        """Running top-k: merge the previous top-k rows with this
        round's candidates and keep per-query rank <= k under the
        (dist2, tie_break) order — identical to windowing the full
        candidate history because top-k is a fold under a total order.
        Ring folds need no dedup (queries/targets distinct at entry +
        disjoint ring cells -> unique pairs); the brute FALLBACK folds
        pass dedup=True because their cross-join re-generates pairs the
        rings already put into the running top-k."""
        merged = cand if topk is None else topk.drop("__rk").unionByName(cand)
        if dedup:
            merged = merged.dropDuplicates(dedup_keys)
        return (
            merged.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
        )

    def advance(topk, remaining, r: int):
        """One round: fold candidates, mark resolved queries, count the
        unresolved remainder (the round's single action), release the
        previous round's caches."""
        new_topk = fold_topk(topk, ring_cand(remaining, r)).persist()
        safe_dist = ((2**r) * min(grid.dx, grid.dy)) ** 2
        kth = new_topk.where(
            (F.col("__rk") == k) & (F.col("dist2") <= F.lit(safe_dist))
        ).select(query_id)
        new_remaining = remaining.join(
            kth, on=query_id, how="left_anti"
        ).persist()
        n = new_remaining.count()
        for old in (topk, remaining):
            if old is not None and old is not queries:
                old.unpersist()
        cached.extend([new_topk, new_remaining])
        return new_topk, new_remaining, n

    # round 0 runs unconditionally (an empty query set folds to an
    # empty, correctly-shaped top-k) — no upfront count action
    topk = None
    remaining = queries
    n_rem = 1
    for r in range(max_rounds):
        if not n_rem:
            break
        topk, remaining, n_rem = advance(topk, remaining, r)

    if topk is None:
        # max_rounds == 0 with a possibly-empty query set: the brute
        # plan yields the correct result without the round machinery —
        # except past the broadcast guard, where the fallback below
        # keeps the bounded-ring/raise contract
        if _resolve_broadcast(targets, "auto", 4_000_000):
            for df in cached:
                df.unpersist()
            return knn_brute(
                queries, targets, k, qx=qx, qy=qy, tx=tx, ty=ty,
                query_id=query_id, target_cols=tcols, tie_break=tie_break,
            )

    renames = [F.col("__t_" + c).alias(c if c not in qcols else "t_" + c)
               for c in tcols]
    out_cols = [*qcols, *renames, "dist2", F.col("__rk").alias("knn_rank")]

    if n_rem:
        # straggler fallback: a broadcast brute scan when the target
        # side fits the guard (cheap — the straggler set is tiny).
        # Past the guard the default is ONE extra widened ring, then a
        # loud failure (an unguarded distributed cartesian is a
        # cluster-killer); allow_cartesian_fallback=True opts back in
        # to the bounded distributed scan instead of the error.
        if _resolve_broadcast(targets, "auto", 4_000_000):
            # reuse the deduped cached target frame — no second scan
            t = F.broadcast(tgt.drop(_P + "tcell"))
            extra = remaining.crossJoin(t).withColumn(
                "dist2",
                (F.col(qx) - F.col("__t_" + tx))
                * (F.col(qx) - F.col("__t_" + tx))
                + (F.col(qy) - F.col("__t_" + ty))
                * (F.col(qy) - F.col("__t_" + ty)),
            )
            topk = fold_topk(topk, extra, dedup=True)
        else:
            topk, remaining, n_rem = advance(topk, remaining, max_rounds)
            if n_rem:
                if not allow_cartesian_fallback:
                    for df in cached:
                        df.unpersist()
                    raise RuntimeError(
                        "knn_join: queries remain unresolved after "
                        f"{max_rounds}+1 cell-ring rounds and the target "
                        "side is too large to broadcast for the brute "
                        "fallback — raise max_rounds, use a finer grid, or "
                        "pass allow_cartesian_fallback=True to accept the "
                        "bounded distributed scan"
                    )
                t = tgt.drop(_P + "tcell")
                extra = remaining.crossJoin(t).withColumn(
                    "dist2",
                    (F.col(qx) - F.col("__t_" + tx))
                    * (F.col(qx) - F.col("__t_" + tx))
                    + (F.col(qy) - F.col("__t_" + ty))
                    * (F.col(qy) - F.col("__t_" + ty)),
                )
                topk = fold_topk(topk, extra, dedup=True)
        # the fallback fold is lazy: materialize the (queries*k-sized)
        # result so the round caches can be released.  persist + count
        # (NOT localCheckpoint): blocks stay lineage-recoverable.
        out = topk.select(*out_cols).persist()
        out.count()
        for df in cached:
            df.unpersist()
        _register_op_caches("knn_join", [out])
        return out

    # no fallback: the last round's persisted top-k IS the answer —
    # already materialized by that round's count, so release every
    # other cache and return the select over it
    out = topk.select(*out_cols)
    for df in cached:
        if df is not topk:
            df.unpersist()
    _register_op_caches("knn_join", [topk])
    return out


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def tile_pyramid(
    tiles: DataFrame,
    tx: str = "tile_x",
    ty: str = "tile_y",
    zoom_max: int = 6,
    zoom_min: int = 0,
    keys: list[str] | None = None,
) -> DataFrame:
    """Quadtree tile-pyramid rollup: per-tile row counts at every zoom
    from ``zoom_max`` down to ``zoom_min``, computed as a CASCADE —
    the input is scanned ONCE at the native zoom, and every coarser
    zoom re-aggregates the previous level's (4x smaller) output via
    the parent transform ``(tx div 2, ty div 2)``.  The 2-D analogue
    of temporal.rollup_counts: quadtree parents nest exactly, so the
    cascade equals aggregating the raw table at every level.

    Output: (zoom, tx, ty, *keys, n).  This is the tile-serving /
    density-map shape for a 10^12-image corpus georeferenced by tile
    (BASELINE north star): one corpus-sized shuffle at zoom_max, then
    each level shuffles only the previous level's tile counts
    (<= 4^zoom rows), never the corpus.
    """
    if zoom_min > zoom_max:
        raise ValueError("zoom_min must be <= zoom_max")
    keys = keys or []
    # the union's level branches are identical plan prefixes, so the
    # "corpus scanned once" property is delivered at RUNTIME by
    # Spark's exchange/query-stage reuse (on by default, and part of
    # AQE): every branch's corpus-sized shuffle canonicalizes to ONE
    # stage, and each branch re-aggregates only post-shuffle
    # level-sized rows.  Deliberately NOT persisted per level: an
    # interleaved A/B (13 levels, 40M rows, local[16]) measured
    # per-level persist STRICTLY worse — +12 s of driver planning at
    # construction (CacheManager plans each nested level eagerly),
    # 35 s vs 15-27 s first action, and a 12 s cache-scan tax on
    # re-reads — because stage reuse already dedups the only
    # corpus-sized work.
    cur = (
        tiles.groupBy(
            F.col(tx).cast("long").alias("tx"),
            F.col(ty).cast("long").alias("ty"),
            *keys,
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = cur.withColumn("zoom", F.lit(zoom_max).cast("int"))
    for z in range(zoom_max - 1, zoom_min - 1, -1):
        cur = (
            cur.select(
                F.expr("tx div 2").alias("tx"),
                F.expr("ty div 2").alias("ty"),
                *keys,
                "n",
            )
            .groupBy("tx", "ty", *keys)
            .agg(F.sum("n").alias("n"))
        )
        out = out.unionByName(cur.withColumn("zoom", F.lit(z).cast("int")))
    return out.select("zoom", "tx", "ty", *keys, "n")


def tile_pyramid_sql(
    table: str,
    tx: str = "tile_x",
    ty: str = "tile_y",
    zoom_max: int = 6,
    zoom_min: int = 0,
    keys: list[str] | None = None,
) -> str:
    """DuckDB mirror of :func:`tile_pyramid`: each zoom aggregated
    directly from the raw table (exactly equal to the cascade because
    quadtree parents nest)."""
    keys = keys or []
    ks = "".join(f", {k}" for k in keys)
    kg = "".join(f", {k}" for k in keys)
    parts = []
    for z in range(zoom_max, zoom_min - 1, -1):
        d = 2 ** (zoom_max - z)
        parts.append(f"""
            SELECT CAST({z} AS INTEGER) AS zoom,
                   CAST({tx} AS BIGINT) // {d} AS tx,
                   CAST({ty} AS BIGINT) // {d} AS ty{ks},
                   CAST(count(*) AS BIGINT) AS n
            FROM {table} GROUP BY 1, 2, 3{kg}
        """)
    return " UNION ALL ".join(parts)


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame,
    value_cols: list[str],
    x: str = "x",
    y: str = "y",
    grid: Grid = GRID,
    polygon_cols: list[str] | None = None,
    **join_kwargs,
) -> DataFrame:
    """Zonal statistics: per-polygon aggregates of point-carried values
    (count, sum, min, max, avg per value column) — the raster→vector
    reduction of a tile-georeferenced image corpus (e.g. mean decoded
    brightness or caption length per admin polygon).

    Plan shape = the PIP join's (broadcast-index / salted sort-merge,
    chosen by the same auto logic) followed by ONE hash aggregation on
    the polygon key with map-side partial aggs — the join output never
    materializes anywhere, Catalyst pipelines refine straight into the
    partial agg.  Output: (*polygon_cols, n_points, <c>_sum, <c>_min,
    <c>_max, <c>_avg per value column).
    """
    gcols = polygon_cols or [
        c
        for c in polygons.columns
        if c not in POLYGON_META_COLS
    ]
    # coords are refine INPUTS only — the aggregation never reads them,
    # so they are excluded from the refine output (point_out_cols) and
    # never travel back through the Arrow channel
    joined = point_in_polygon_join(
        points,
        polygons,
        x=x,
        y=y,
        grid=grid,
        point_cols=[x, y, *[c for c in value_cols if c not in (x, y)]],
        polygon_cols=gcols,
        point_out_cols=list(value_cols),
        **join_kwargs,
    )
    aggs = [F.count(F.lit(1)).alias("n_points")]
    for c in value_cols:
        aggs += [
            F.sum(c).alias(f"{c}_sum"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.avg(c).alias(f"{c}_avg"),
        ]
    return joined.groupBy(*gcols).agg(*aggs)


def assign_holes_distributed(
    rings: DataFrame,
    shape_id: str = "shape_id",
    ring_idx: str = "ring_idx",
    cell_block_threshold: int = 64,
    max_cover: int = 64,
) -> DataFrame:
    """Distributed hole→exterior assignment: the reference's
    ``organize_polygon_rings`` (sf.py:977-1102) lifted from a per-shape
    Python loop to a DataFrame plan, for pathological shapes whose ring
    count dwarfs a single task (continent coastlines, dissolved
    admin layers).

    Input: one row per ring — (shape_id, ring_idx, wkb [single-ring
    polygon], xmin, ymin, xmax, ymax).  Output: (shape_id, ring_idx,
    role, parent_idx) with role:

    * ``exterior`` — CW ring (reference sf.py:997-1002); parent = self.
    * ``hole`` — CCW ring attached to an exterior: single exterior
      takes every hole (sf.py:1005-1009); multiple exteriors run the
      reference pipeline as joins — strict bbox-contains prefilter
      (sf.py:1023-1032), ray-cast refine of the hole's deterministic
      ``ring_sample`` point for multi-candidate holes (sf.py:1034-1051),
      smallest-|2A| exterior in ring order for still-ambiguous ones
      (sf.py:1053-1061).
    * ``orphan`` — CCW ring no exterior claims (promoted to an
      exterior downstream, reference sf.py:1063-1093), including every
      ring of an all-holes shape (sf.py:1096-1102); parent is NULL.
      A hole too degenerate to sample (RingSamplingError — where the
      single-process reference would raise) also lands here, as does a
      row whose ``wkb`` is NULL (unclassifiable winding) — every input
      row appears exactly once in the output (row accounting holds).

    Scale shape: ring stats are one Arrow pass; the ray-cast refine is
    hash-distributed per HOLE (the candidate-count window exchanges on
    (shape, hole) before it), so even one monster shape's refine
    spreads across the cluster.  The bbox candidate join is per-shape
    for ordinary shapes (equi-join on shape_id, mirroring the
    reference's per-shape quadratic prefilter) — but a shape with more
    than ``cell_block_threshold`` exteriors switches to a CELL-BLOCKED
    candidate join: a per-shape ~sqrt(n_ext) x sqrt(n_ext) grid over
    the exteriors' extent, each exterior bbox exploded to its covered
    cells (capped at ``max_cover``; wider rings fall back to a
    per-shape broad bucket), each hole hashed to its bbox min-corner
    cell, and candidates found by (shape, cell) equi-join.  Because an
    exterior that strictly bbox-contains a hole must cover the hole's
    min-corner cell (floor is monotone and both sides clamp to the
    same grid), blocking is lossless; the exact strict-contains filter
    then applies to BOTH paths.  This turns the quadratic
    |holes| x |exteriors| enumeration of a dissolved-admin/coastline
    monster shape into near-linear work spread by cell.

    Caching: three small frames (ring stats, surviving candidate
    pairs, per-hole assignments) are lazily persisted because each
    feeds multiple non-identical union branches (runtime exchange
    reuse cannot dedup those; without the cache one action re-ran the
    candidate chain 4x).  They are tracked as ONE generation per
    operator: the next ``assign_holes_distributed`` call releases the
    previous call's frames, and
    :func:`release_operator_caches`("assign_holes") reclaims them on
    demand — a long-lived ETL loop holds at most one generation, and a
    released result recomputes through plain lineage if re-used.
    """
    from pyshp_spark.operators.geometry import with_ring_stats  # noqa: PLC0415

    idx_type = rings.schema[ring_idx].dataType
    # the persisted stats frame keeps wkb ONLY for exterior rings (the
    # sole downstream consumer is the exterior refine): holes' geometry
    # bytes — the bulk of a coastline-scale layer — are NULLed inside
    # the stats Arrow pass itself (wkb_cw_only), so the session-lifetime
    # footprint is exterior blobs + task-sized per-ring stats, never
    # the whole corpus, and no extra projection sits between the Arrow
    # node and the cache.  One persist, one evaluation of the (possibly
    # expensive) rings subtree.
    stats = with_ring_stats(rings, wkb_cw_only=True).persist()
    exts = stats.where(F.col("is_cw"))
    holes = stats.where(~F.col("is_cw"))
    # NULL wkb -> NULL is_cw matches NEITHER filter above: surface those
    # rows as orphans (NULL parent) instead of silently dropping them
    out_nullwkb = stats.where(F.col("is_cw").isNull()).select(
        shape_id,
        ring_idx,
        F.lit("orphan").alias("role"),
        F.lit(None).cast(rings.schema[ring_idx].dataType).alias("parent_idx"),
    )

    out_ext = exts.select(
        shape_id,
        ring_idx,
        F.lit("exterior").alias("role"),
        F.col(ring_idx).alias("parent_idx"),
    )

    ext_counts = exts.groupBy(shape_id).agg(
        F.count(F.lit(1)).alias("__n_ext"),
        F.min(ring_idx).alias("__lone_ext"),
        # exterior-extent grid origin/corner for the cell-blocked path
        F.min("xmin").alias("__gx0"),
        F.min("ymin").alias("__gy0"),
        F.max("xmax").alias("__gx1"),
        F.max("ymax").alias("__gy1"),
    )
    h = holes.join(ext_counts, on=shape_id, how="left")
    null_parent = F.lit(None).cast(idx_type)

    # no exteriors at all: every hole promotes (reference sf.py:1096-1102)
    out_noext = h.where(F.col("__n_ext").isNull()).select(
        shape_id, ring_idx, F.lit("orphan").alias("role"),
        null_parent.alias("parent_idx"),
    )
    # one exterior: all holes attach unconditionally (sf.py:1005-1009)
    out_lone = h.where(F.col("__n_ext") == 1).select(
        shape_id, ring_idx, F.lit("hole").alias("role"),
        F.col("__lone_ext").cast(idx_type).alias("parent_idx"),
    )

    grid_cols = ["__n_ext", "__gx0", "__gy0", "__gx1", "__gy1"]
    hm_all = h.where(F.col("__n_ext") > 1).select(
        shape_id,
        F.col(ring_idx).alias("__h_idx"),
        F.col("xmin").alias("__hxmin"),
        F.col("ymin").alias("__hymin"),
        F.col("xmax").alias("__hxmax"),
        F.col("ymax").alias("__hymax"),
        "sx",
        "sy",
        *grid_cols,
    )
    hm = hm_all.drop(*grid_cols)
    ext_m = exts.select(
        shape_id,
        F.col(ring_idx).alias("__e_idx"),
        "wkb", "xmin", "ymin", "xmax", "ymax", "area2",
    ).join(ext_counts.select(shape_id, *grid_cols), on=shape_id)
    pair_cols = [
        shape_id, "__h_idx", "__hxmin", "__hymin", "__hxmax", "__hymax",
        "sx", "sy", "__e_idx", "wkb", "xmin", "ymin", "xmax", "ymax",
        "area2",
    ]
    thr = F.lit(cell_block_threshold)
    # ordinary shapes: plain per-shape equi-join (the reference's
    # quadratic prefilter — fine while n_ext is task-sized)
    cand_plain = (
        hm_all.where(F.col("__n_ext") <= thr)
        .drop(*grid_cols)
        .join(
            ext_m.where(F.col("__n_ext") <= thr).drop(*grid_cols),
            on=shape_id,
        )
        .select(*pair_cols)
    )
    # ring-heavy shapes: cell-blocked candidate join.  k ~ sqrt(n_ext)
    # cells per axis over the exteriors' extent; degenerate (zero-area)
    # extents divide by a tiny epsilon and clamp into [0, k-1].
    kcol = F.least(
        F.lit(1024),
        F.greatest(
            F.lit(1),
            F.ceil(F.sqrt(F.col("__n_ext").cast("double"))).cast("int"),
        ),
    ).cast("long")
    cw = F.greatest((F.col("__gx1") - F.col("__gx0")) / kcol, F.lit(1e-300))
    ch = F.greatest((F.col("__gy1") - F.col("__gy0")) / kcol, F.lit(1e-300))

    def cell_of(v, origin, width, k):
        return F.least(k - 1, F.greatest(F.lit(0), F.floor((v - origin) / width)))

    eb = (
        ext_m.where(F.col("__n_ext") > thr)
        .withColumn("__k", kcol)
        .withColumn("__c0", cell_of(F.col("xmin"), F.col("__gx0"), cw, F.col("__k")))
        .withColumn("__c1", cell_of(F.col("xmax"), F.col("__gx0"), cw, F.col("__k")))
        .withColumn("__r0", cell_of(F.col("ymin"), F.col("__gy0"), ch, F.col("__k")))
        .withColumn("__r1", cell_of(F.col("ymax"), F.col("__gy0"), ch, F.col("__k")))
        .withColumn(
            "__ncell",
            (F.col("__c1") - F.col("__c0") + 1)
            * (F.col("__r1") - F.col("__r0") + 1),
        )
    )
    ext_keep = ["__e_idx", "wkb", "xmin", "ymin", "xmax", "ymax", "area2"]
    ext_cells = (
        eb.where(F.col("__ncell") <= F.lit(max_cover))
        .withColumn("__cc", F.explode(F.sequence(F.col("__c0"), F.col("__c1"))))
        .withColumn("__cr", F.explode(F.sequence(F.col("__r0"), F.col("__r1"))))
        .select(
            shape_id,
            (F.col("__cr") * F.col("__k") + F.col("__cc")).alias("__cell"),
            *ext_keep,
        )
    )
    # an exterior covering more than max_cover cells joins every hole
    # of its shape instead of exploding (bounded fan-out)
    ext_broad = eb.where(F.col("__ncell") > F.lit(max_cover)).select(
        shape_id, *ext_keep
    )
    hb = (
        hm_all.where(F.col("__n_ext") > thr)
        .withColumn("__k", kcol)
        .withColumn(
            "__cell",
            cell_of(F.col("__hymin"), F.col("__gy0"), ch, F.col("__k"))
            * F.col("__k")
            + cell_of(F.col("__hxmin"), F.col("__gx0"), cw, F.col("__k")),
        )
        .drop(*grid_cols, "__k")
    )
    cand_cell = hb.join(ext_cells, on=[shape_id, "__cell"]).select(*pair_cols)
    cand_broad = hb.drop("__cell").join(ext_broad, on=shape_id).select(*pair_cols)
    cand = (
        cand_plain.unionByName(cand_cell).unionByName(cand_broad)
    ).where(
        # strict bbox-contains, reference sf.py:864-869 semantics —
        # the exact filter shared by all three candidate sources
        (F.col("xmin") < F.col("__hxmin"))
        & (F.col("__hxmax") < F.col("xmax"))
        & (F.col("ymin") < F.col("__hymin"))
        & (F.col("__hymax") < F.col("ymax"))
    )
    wcnt = Window.partitionBy(shape_id, "__h_idx")
    # persist the shared subtrees: ``cand`` feeds both the single- and
    # multi-candidate splits and ``assigned`` feeds both out_multi and
    # the orphan anti-join — without a cache each union branch re-runs
    # the whole candidate-join + refine chain (4x the exchanges under
    # AQE's serial stage materialization).  Both frames are small
    # (bbox-surviving candidate pairs / one row per assigned hole) and
    # stay lazy — no eager job at construction time.
    cand = cand.withColumn("__ncand", F.count(F.lit(1)).over(wcnt)).persist()
    keep_cols = [shape_id, "__h_idx", "__e_idx", "area2"]
    # exactly one bbox candidate: assigned WITHOUT the ray-cast check —
    # reference parity (the refine loop only runs for >1 candidates)
    single = cand.where(F.col("__ncand") == 1).select(*keep_cols)
    multi = cand.where(F.col("__ncand") > 1).select(
        *keep_cols, "sx", "sy", "wkb"
    )
    refined = _refine_pip(multi, "sx", "sy", drop_cols={"sx", "sy"})
    worder = Window.partitionBy(shape_id, "__h_idx").orderBy(
        "area2", "__e_idx"
    )
    best = (
        refined.withColumn("__rk", F.row_number().over(worder))
        .where(F.col("__rk") == 1)
        .select(*keep_cols)
    )
    assigned = single.unionByName(best).persist()
    _register_op_caches("assign_holes", [stats, cand, assigned])
    out_multi = assigned.select(
        shape_id,
        F.col("__h_idx").alias(ring_idx),
        F.lit("hole").alias("role"),
        F.col("__e_idx").cast(idx_type).alias("parent_idx"),
    )
    out_orphan = (
        hm.join(
            assigned.select(shape_id, "__h_idx"),
            on=[shape_id, "__h_idx"],
            how="left_anti",
        )
        .select(
            shape_id,
            F.col("__h_idx").alias(ring_idx),
            F.lit("orphan").alias("role"),
            null_parent.alias("parent_idx"),
        )
    )
    return out_ext.unionByName(out_lone).unionByName(out_noext).unionByName(
        out_multi
    ).unionByName(out_orphan).unionByName(out_nullwkb)
