"""Spatial join operators: filter -> refine, all DataFrame-native.

The reference's only spatial machinery is a per-record bbox test and a
scalar ray-cast (reference src/shapefile.py:856-914); joins over it
would be O(N*M) single-threaded loops.  Here the same kernels become a
three-stage distributed plan:

  1. FILTER  — int64 grid cells (polygon side carries a bbox cell
     cover, point side one cell), looked up in a CSR cell -> polygon
     index.  When the polygon side fits the broadcast guard the index
     is one broadcast and the points never shuffle; otherwise points
     and parsed polygons are cogrouped by a bucket of their (cell,
     salt) key and each bucket builds its own index, with optional
     salting (``salt_k``) spreading hot cells over buckets.
  2. PREFILTER — bbox overlap in numpy (reference semantics
     sf.py:856-861, inclusive <=).
  3. REFINE — vectorized even-odd ray-cast over the flat edge arrays
     parsed once per polygon.  Bit-for-bit the reference's crossing
     test.

Because a point maps to exactly one cell, a (point, polygon) pair
appears at most once after the cell lookup — no dedup pass is needed.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DataType, MapType, StructType, VariantType,
)
from pyspark.sql.window import Window

from pyshp_spark.functions.cells import GRID, Grid, missing_coord_expr
from pyshp_spark.kernels.rings import pip_pairs, pip_pairs_flat, rings_to_edges
from pyshp_spark.kernels.wkb import wkb_rings
from pyshp_spark.session_conf import arrow_enabled

_P = "__ps_"  # internal column prefix

#: reserved polygon frame columns (geometry + bbox); the default
#: polygon_cols (``_polygon_attr_cols``) excludes exactly this set, so
#: adding a reserved column can never silently change an aggregation
#: grain
POLYGON_META_COLS = ("wkb", "xmin", "ymin", "xmax", "ymax")
_BBOX_COLS = POLYGON_META_COLS[1:]

#: broadcast guard for ``broadcast_polygons="auto"``: a polygon side
#: past either bound takes the partitioned path (read at call time)
_MAX_BROADCAST_ROWS = 4_000_000
_MAX_BROADCAST_BYTES = 1_500_000_000

#: cogroup buckets per shuffle partition on the partitioned PIP path;
#: each bucket is one Python call and one more copy of the edges of
#: every polygon it touches (on the salted hot-spot benchmark, 4 cores,
#: 1 beat 2, 4 and 8 on Python time at a slightly higher task skew)
_BUCKETS_PER_PARTITION = 1


def _polygon_attr_cols(
    polygons: DataFrame, polygon_cols: list[str] | None
) -> list[str]:
    """The polygon attribute columns a join carries: ``polygon_cols``
    as given (``[]`` carries none), or by default every column except
    the geometry and bbox."""
    if polygon_cols is not None:
        return list(polygon_cols)
    return [c for c in polygons.columns if c not in POLYGON_META_COLS]


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


def _points_with_cell(
    points: DataFrame, x: str, y: str, grid: Grid, salt_k: int | None
) -> DataFrame:
    out = points.withColumn(_P + "cell", grid.cell_expr(F.col(x), F.col(y)))
    if salt_k:
        # salt over the WHOLE point row, not just (x, y): the archetypal
        # hot spot is many rows at ONE exact coordinate, and a
        # coordinate-derived salt maps them all to a single (cell, salt)
        # bucket — the cogroup then still serializes the hot cell in
        # one Python call (guide §2.5).  Hashing the point columns spreads
        # identical-coordinate rows across all k salts; the salt only
        # routes rows, so results are unchanged, and it stays
        # DETERMINISTIC under task retry (no rand()).  Only columns
        # Spark can hash take part (a MapType payload fails analysis);
        # x and y always can.  Rows that are full duplicates still share
        # one salt.
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
        # (pair-scale); Arrow keeps the binary column as one contiguous
        # buffer, dictionary_encode dedups it at C speed, and only the DISTINCT
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


def _resolve_broadcast(polygons: DataFrame, broadcast_polygons) -> bool:
    """"auto" probes the build side with a LIMIT-bounded count (scans at
    most _MAX_BROADCAST_ROWS+1 rows, so cheap even on a huge table) and
    falls back to the partitioned path when it is too big to broadcast.

    The guard is byte-aware, not just row-count-aware: a few million
    rows of small diamonds broadcast fine, but the same row count of
    large multipart WKB would OOM the driver toPandas.  Once the row
    probe passes (n is bounded), build-side bytes are measured EXACTLY
    with one sum(length(wkb)) scan — a LIMIT-based estimate can miss
    large rows sitting past the probed prefix, and this scan is cheap
    next to the broadcast collect that would follow anyway."""
    if broadcast_polygons != "auto":
        return broadcast_polygons
    n = polygons.limit(_MAX_BROADCAST_ROWS + 1).count()
    if n > _MAX_BROADCAST_ROWS:
        return False
    if n and "wkb" in polygons.columns:
        total_wkb = (
            polygons.select(F.length("wkb").alias("__l"))
            .agg(F.sum("__l"))
            .first()[0]
        ) or 0
        # 96 B/row slack for the bbox doubles + id attrs + pandas overhead
        if total_wkb + n * 96.0 > _MAX_BROADCAST_BYTES:
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
    point_out_cols: list[str] | None = None,
) -> DataFrame:
    """Inner join: each point row paired with every polygon containing it.

    ``polygons`` needs columns (wkb, xmin, ymin, xmax, ymax, ...);
    ``polygon_cols`` names the attributes carried to the output
    (default: every other column; ``[]``: none).  Containment
    semantics = even-odd ray-cast over all rings, matching the
    reference's organized exterior-minus-holes membership.

    Two execution paths, one kernel.  When the polygon side fits the
    broadcast guard, a :class:`BroadcastPolygonIndex` — geometries
    parsed ONCE on the executors into flat edge arrays plus a CSR cell
    index, shipped as a broadcast variable — answers every point in one
    Arrow pass; the probe side never shuffles.  Otherwise points and
    parsed polygons are cogrouped by a bucket of their (cell, salt) key
    and each bucket runs the same kernel over its own index.  A bucket
    loads whole and gets no AQE skew split, so there ``salt_k`` is the
    hot-cell remedy: without it a hot cell is one bucket (the index
    path ignores it).  ``broadcast_polygons="auto"`` (default) reuses a
    cached index for the same polygon plan, else probes the build-side
    size; pass True/False to force a path.  ``point_out_cols`` (subset
    of the point columns) restricts which point columns reach the
    OUTPUT — coords consumed only by the refine never travel back
    through Arrow.  Any other ``broadcast_polygons``, or a ``salt_k``
    not None or an int >= 1, raises ``ValueError`` before any job.
    """
    return _pip(
        points, polygons, "inner", x, y, grid, broadcast_polygons, salt_k,
        point_cols, polygon_cols, point_out_cols,
    )


def _pip(
    points: DataFrame,
    polygons: DataFrame,
    mode: str,
    x: str,
    y: str,
    grid: Grid,
    broadcast_polygons: bool | str,
    salt_k: int | None,
    point_cols: list[str] | None = None,
    polygon_cols: list[str] | None = None,
    point_out_cols: list[str] | None = None,
) -> DataFrame:
    """The one dispatch of the PIP join family; ``mode`` is "inner",
    "semi" or "anti".  Semi and anti carry no polygon attributes.

    One decision: the broadcast index, or its partition-local copy;
    both run one kernel (:func:`_probe_index`), and semi/anti keep each
    point row by its match count (input multiplicity kept).  The copy
    keys each point by ``cell * K + salt`` (K = salt_k or 1) and
    cogroups it by ``pmod(key, B)`` (B = shuffle partitions x
    ``_BUCKETS_PER_PARTITION``) with one parsed polygon row per bucket
    its keys touch: edges cross the exchange once per bucket, never per
    candidate pair, and the WKB never.  Each polygon row is its own
    index entry (duplicates keep their multiplicity); a NULL cell lands
    in the NULL bucket, which has no polygons, so only anti emits it."""
    if not (isinstance(broadcast_polygons, bool) or broadcast_polygons == "auto"):
        raise ValueError("broadcast_polygons must be True, False or 'auto', "
                         f"got {broadcast_polygons!r}")
    if salt_k is not None and not (isinstance(salt_k, int) and salt_k >= 1):
        raise ValueError(f"salt_k must be None or an int >= 1, got {salt_k!r}")
    pcols = point_cols or list(points.columns)
    ocols = pcols if point_out_cols is None else point_out_cols
    bad = set(ocols) - set(pcols)
    if bad:
        raise ValueError(f"point_out_cols not in point_cols: {sorted(bad)}")
    gcols = _polygon_attr_cols(polygons, polygon_cols) if mode == "inner" else []
    idx = None
    if broadcast_polygons == "auto":
        # an already-cached index answers the broadcast question for
        # free — only cache misses pay the size-probe jobs
        key = _index_cache_key(polygons, grid, gcols)
        idx = None if key is None else _find_cached_index(key, gcols)
    if idx is not None or _resolve_broadcast(polygons, broadcast_polygons):
        idx = idx or _cached_polygon_index(polygons, grid, gcols)
        return idx.join_points(
            points, x=x, y=y, point_cols=pcols, mode=mode,
            point_out_cols=ocols,
        )

    k = salt_k or 1
    nb = _BUCKETS_PER_PARTITION * int(
        points.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    key_col, bucket_col = _P + "key", _P + "bucket"
    cell = F.col(_P + "cell")
    probe = (
        _points_with_cell(points.select(*pcols), x, y, grid, salt_k)
        .withColumn(key_col, cell * k + F.col(_P + "salt") if salt_k else cell)
        .withColumn(bucket_col, F.pmod(key_col, F.lit(nb)))
        .select(*pcols, key_col, bucket_col)
    )
    build = _parse_polygons_distributed(
        polygons.select(*POLYGON_META_COLS, *gcols), grid, (k, nb)
    )
    schema = StructType(
        [probe.schema[c] for c in ocols] + [build.schema[g] for g in gcols]
    )

    def pip_bucket(pts, pols):
        import pyarrow as pa  # noqa: PLC0415

        point_idx = pair_pids = _EMPTY_I64
        if pts.num_rows and pols.num_rows:
            state = _index_state(
                pols.column(_P + "edges").to_pylist(),
                pols.column(_P + "keys").to_pylist(),
                np.column_stack([pols.column(c).to_numpy() for c in _BBOX_COLS]),
            )
            point_idx, pair_pids = _probe_index(
                state, *(pts.column(c).to_numpy() for c in (key_col, x, y))
            )
        base = pts.select(ocols)
        if mode == "inner":
            return pa.Table.from_arrays(
                base.take(point_idx).columns
                + pols.select(gcols).take(pair_pids).columns,
                names=schema.names,
            )
        hit = np.bincount(point_idx, minlength=pts.num_rows) > 0
        return base.filter(pa.array(hit if mode == "semi" else ~hit))

    return probe.groupBy(bucket_col).cogroup(
        build.groupBy(bucket_col)
    ).applyInArrow(pip_bucket, schema=schema)


_INDEX_CACHE: dict = {}
_INDEX_CACHE_MAX = 4

# operator-internal cache generations live in operators/opcache.py;
# re-exported here because the spatial operators are their main users
from pyshp_spark.operators.opcache import (  # noqa: F401
    register_op_caches as _register_op_caches,
    release_operator_caches,
)


def clear_polygon_index_cache() -> None:
    """Drop all cached broadcast indexes, the polygon indexes of the PIP
    joins and the target indexes of :func:`knn_join` alike (call after
    mutating files underneath a path an index was built from — the
    cache keys on the query PLAN, not the data)."""
    while _INDEX_CACHE:
        _, old = _INDEX_CACHE.popitem()
        try:
            old.bc.unpersist()
        except Exception:
            pass


def _index_cache_key(polygons: DataFrame, grid: Grid,
                     polygon_cols: list[str]):
    """(app, plan-semantic-hash, grid, cols) cache key, or None when the
    semantic hash is unavailable (then nothing is cached)."""
    try:
        return (
            polygons.sparkSession.sparkContext.applicationId,
            polygons._jdf.queryExecution().analyzed().semanticHash(),
            grid,
            tuple(polygon_cols),
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
    if idx is None and not polygon_cols:
        for k2 in _INDEX_CACHE:
            if k2[:3] == key[:3]:
                key, idx = k2, _INDEX_CACHE[k2]
                break
    if idx is not None:
        _INDEX_CACHE[key] = _INDEX_CACHE.pop(key)  # mark MRU
    return idx


def _cached_polygon_index(polygons: DataFrame, grid: Grid,
                          polygon_cols: list[str]):
    """Session-scoped LRU over BroadcastPolygonIndex keyed by the
    polygon plan's semantic hash: repeated joins against the same
    dimension table (the steady-state workload shape) reuse the
    already-built broadcast instead of re-collecting and re-parsing.
    Evicted entries release their broadcast.  Keys are PLANS — if the
    files underneath a read path are rewritten in place, call
    :func:`clear_polygon_index_cache`."""
    key = _index_cache_key(polygons, grid, polygon_cols)
    idx = None if key is None else _find_cached_index(key, polygon_cols)
    if idx is None:
        idx = BroadcastPolygonIndex(polygons, grid=grid, polygon_cols=polygon_cols)
        _cache_put(key, idx)
    return idx


def _cache_put(key, idx) -> None:
    """Insert ``idx`` as the most-recently-used entry (a None key caches
    nothing) and evict past ``_INDEX_CACHE_MAX``, releasing each evicted
    entry's broadcast."""
    if key is not None:
        _INDEX_CACHE[key] = idx
    while len(_INDEX_CACHE) > _INDEX_CACHE_MAX:
        old = _INDEX_CACHE.pop(next(iter(_INDEX_CACHE)))
        try:
            old.bc.unpersist()
        except Exception:
            pass


def _parse_polygons_distributed(
    polygons: DataFrame, grid: Grid, buckets: tuple[int, int] | None = None,
) -> DataFrame:
    """Executor-side WKB -> flat-buffer parse, lazy: each polygon row
    comes back as (bbox, attrs, edge-bytes, cover-bytes).  Edge bytes are C-order float64 (E, 4) rows; cover bytes int64 cell
    ids.  Duplicate WKB values are factorized per Arrow batch and parsed
    once.  Null WKB / NaN bbox rows (NULL shapes from ingest) yield
    empty buffers — they can contain no point.  With ``buckets=(k,
    nb)`` each row instead splits into one row per bucket of its keys
    ``cell * k + salt`` (salt < k), carrying ``__ps_bucket`` =
    pmod(key, nb) and that bucket's keys as ``__ps_keys``."""
    from pyspark.sql.types import (  # noqa: PLC0415
        BinaryType, LongType, StructField, StructType,
    )

    keep = [f for f in polygons.schema.fields if f.name != "wkb"]
    blobs = ["edges", "cover"] if buckets is None else ["edges", "keys"]
    out_schema = StructType(keep + [StructField(_P + b, BinaryType()) for b in blobs])
    if buckets is not None:
        out_schema = out_schema.add(_P + "bucket", LongType())
    keep_names = [f.name for f in keep]
    empty = b""

    # a dimension table often arrives as ONE scan partition (small file
    # counts, single row groups); the parse is the expensive part, so
    # spread it across the cluster — the one-time WKB shuffle is
    # dimension-sized and buys core-count parallelism (not on the
    # partitioned path, whose exchanges never carry the WKB)
    target = polygons.sparkSession.sparkContext.defaultParallelism
    if buckets is None and polygons.rdd.getNumPartitions() < max(2, target // 2):
        polygons = polygons.repartition(target)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep_names].copy()
            codes, uniques = pd.factorize(pdf["wkb"])
            uniq_blobs = [
                rings_to_edges(wkb_rings(bytes(w))).tobytes() for w in uniques
            ]
            out[_P + "edges"] = [
                uniq_blobs[c] if c >= 0 else empty for c in codes
            ]
            bb = pdf[list(_BBOX_COLS)].to_numpy(dtype=np.float64)
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
            if buckets is not None:
                yield _bucket_rows(out, cells, counts, *buckets)
                continue
            out[_P + "cover"] = [
                cells[s:e].tobytes() if e > s else empty
                for s, e in zip(starts, ends)
            ]
            yield out

    return polygons.mapInPandas(parse, schema=out_schema)


def _bucket_rows(out: pd.DataFrame, cells, counts, k: int, nb: int):
    """Row i of ``out`` (cover: ``counts[i]`` of ``cells``) once per
    bucket ``key % nb`` (Spark's pmod) of its keys ``cell * k + salt``,
    with the bucket and that bucket's keys as int64 bytes."""
    keys = (cells[:, None] * k + np.arange(k)).ravel()
    group = np.repeat(np.arange(len(out)) * nb, counts * k) + keys % nb
    order = np.argsort(group, kind="stable")
    keys, group = keys[order], group[order]
    first = np.flatnonzero(np.diff(group, prepend=-1))
    res = out.iloc[group[first] // nb].reset_index(drop=True)
    res[_P + "bucket"] = group[first] % nb
    res[_P + "keys"] = pd.Series(
        [a.tobytes() for a in np.split(keys, first[1:])] if len(keys) else [],
        dtype=object,
    )
    return res


def _index_state(edge_blobs: list, key_blobs: list, bboxes: np.ndarray):
    """The PIP kernel's index state from per-polygon edge and int64 key
    blobs (cover cells, or one bucket's (cell, salt) keys) and bboxes:
    bytes-join + frombuffer, no per-polygon Python work."""
    n = len(edge_blobs)
    edge_counts = np.fromiter((len(b) // 32 for b in edge_blobs), np.int64, n)
    all_edges = np.frombuffer(b"".join(edge_blobs), dtype=np.float64).reshape(-1, 4)
    edge_offsets = np.concatenate([[0], np.cumsum(edge_counts)])
    key_counts = np.fromiter((len(b) // 8 for b in key_blobs), np.int64, n)
    keys = np.frombuffer(b"".join(key_blobs), dtype=np.int64)
    # int32 pids halve the broadcast's fattest buffer (valid: the
    # row guard caps the build side well under 2^31 rows)
    key_pids = np.repeat(np.arange(n, dtype=np.int32), key_counts)
    order, uniq_keys, key_offsets = _csr(keys)
    return (all_edges, edge_offsets, bboxes, uniq_keys, key_offsets,
            key_pids[order])


def _csr(cells: np.ndarray):
    """CSR over int64 cell ids: ``(order, uniq_cells, offsets)``, where
    ``order`` sorts the rows by cell (stable) and the rows in cell
    ``uniq_cells[i]`` are ``order[offsets[i]:offsets[i + 1]]``."""
    order = np.argsort(cells, kind="stable")
    sorted_cells = cells[order]
    # uniques via the diff mask — np.unique would re-SORT the
    # already-sorted array (the polygon build's single hottest step at
    # the guard ceiling)
    uniq_mask = np.empty(len(sorted_cells), dtype=bool)
    uniq_mask[:1] = True
    np.not_equal(sorted_cells[1:], sorted_cells[:-1], out=uniq_mask[1:])
    offsets = np.append(np.flatnonzero(uniq_mask), len(sorted_cells))
    return order, sorted_cells[uniq_mask], offsets


_EMPTY_I64 = np.empty(0, dtype=np.int64)
#: points per index-probe slice: keeps every temporary ~L2-resident
_PROBE_SLICE = 8192


def _probe_index(state, cells, px, py):
    """The PIP kernel of both paths: ``(point_idx, pid)`` matches of
    points in ``cells`` against an :func:`_index_state`, ascending in
    point position, one cache-sized slice at a time."""
    idx_parts = []
    pid_parts = []
    for s in range(0, len(cells), _PROBE_SLICE):
        e = s + _PROBE_SLICE
        pi, pp = _refine_slice(state, cells[s:e], px[s:e], py[s:e])
        idx_parts.append(pi + s)
        pid_parts.append(pp)
    if not idx_parts:
        return _EMPTY_I64, _EMPTY_I64
    return np.concatenate(idx_parts), np.concatenate(pid_parts)


def _refine_slice(state, cells, px, py):
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
        return _EMPTY_I64, _EMPTY_I64
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
        self.gcols = _polygon_attr_cols(polygons, polygon_cols)
        self._gfields = {f.name: f for f in polygons.schema.fields}
        spark = polygons.sparkSession
        self.spark = spark
        parsed = _parse_polygons_distributed(
            polygons.select(*POLYGON_META_COLS, *self.gcols), grid
        )
        # the collect must take the Arrow path: the default row-pickled
        # toPandas is ~50x slower at the broadcast guard ceiling (hundreds
        # of thousands of binary-blob rows).
        with arrow_enabled(spark):
            pol_pdf = parsed.toPandas()
        self.bc = spark.sparkContext.broadcast(_index_state(
            pol_pdf[_P + "edges"].tolist(), pol_pdf[_P + "cover"].tolist(),
            pol_pdf[list(_BBOX_COLS)].to_numpy(dtype=np.float64),
        ))
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
            with arrow_enabled(self.spark):
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
                point_idx, pair_pids = _probe_index(
                    state, grid.cell_np(px, py), px, py
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


def spatial_semi_join(
    points, polygons, x="x", y="y", grid=GRID,
    broadcast_polygons: bool | str = "auto", salt_k: int | None = None,
    point_out_cols: list[str] | None = None,
) -> DataFrame:
    """Rows of ``points`` that fall inside at least one polygon.

    Row-level semantics on BOTH paths: every input row inside some
    polygon appears exactly once (duplicate input rows preserved).  The
    broadcast-index path answers from the SAME single refine pass as
    the inner join (per-point match counts are a by-product) — no pair
    explosion, no dedup shuffle.  The partitioned path (``salt_k``
    applies there only) runs the same kernel per (cell, salt) bucket
    and keeps each point row by the same count."""
    return _pip(
        points, polygons, "semi", x, y, grid, broadcast_polygons, salt_k,
        point_out_cols=point_out_cols,
    )


def spatial_anti_join(
    points, polygons, x="x", y="y", grid=GRID,
    broadcast_polygons: bool | str = "auto", salt_k: int | None = None,
    point_out_cols: list[str] | None = None,
) -> DataFrame:
    """Rows of ``points`` outside every polygon.

    Row-level semantics on BOTH paths (duplicate input rows preserved).
    Broadcast-index path: emitted directly from the single refine pass
    (``per_point == 0`` rows) — one scan, zero shuffles, no second PIP
    pipeline.  Partitioned path (``salt_k`` applies there only): the
    same count per (cell, salt) bucket; a point with a NULL coordinate
    lands in the bucket that holds no polygons, so it is emitted."""
    return _pip(
        points, polygons, "anti", x, y, grid, broadcast_polygons, salt_k,
        point_out_cols=point_out_cols,
    )


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

    Extra keywords go to :func:`point_in_polygon_join` in "center" mode;
    "bbox" mode runs no PIP join and raises ``TypeError`` on any.
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
        if kw:
            raise TypeError(
                f"tile_assignment(mode='bbox') takes no PIP-join keywords; "
                f"got {', '.join(sorted(kw))}"
            )
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
        gcols = _polygon_attr_cols(polygons, polygon_cols)
        build = _explode_bbox_cover(
            polygons.select("xmin", "ymin", "xmax", "ymax", *gcols), grid
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


def _dist2(qx: str, qy: str, tx: str, ty: str) -> Column:
    """Squared Euclidean distance between the (qx, qy) and (tx, ty)
    columns (no sqrt -> exact float parity with SQL oracles)."""
    dx = F.col(qx) - F.col(tx)
    dy = F.col(qy) - F.col(ty)
    return dx * dx + dy * dy


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
        "dist2", _dist2(qx, qy, "__t_" + tx, "__t_" + ty)
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
) -> DataFrame:
    """Exact kNN: each distinct query row with its ``k`` nearest
    targets, ranked 1..k (``knn_rank``) by (``dist2``, ``tie_break``).

    Two paths.  When the target side fits the broadcast guard, a
    build-once broadcast index (:class:`_KnnIndex`, cached like the
    polygon indexes) answers every call with ONE lazy ``mapInArrow``
    pass over the queries: no Spark job until an action, no persist.
    Inside each Arrow batch, round r searches the cells within Chebyshev
    radius 2^r of the query's cell and resolves a query once its k-th
    distance is <= the covered radius 2^r*min(dx, dy) (any nearer target
    lies in a searched cell); queries still open after ``max_rounds``
    (empty regions, degenerate grids) get an exact scan over all
    targets.  A cached index answers the broadcast question; a miss
    pays the size probe and the build.

    Past the guard, the scale-safe round loop: round r joins the
    unresolved queries against the targets in the radius-2^r cell ring,
    folds a running per-query top-k (window input O(queries*k + new
    candidates)), and runs ONE action per round (the unresolved count);
    each round's frames are persisted and the previous round's
    released.  After ``max_rounds`` ONE extra widened ring (radius
    2^max_rounds) runs, and if queries STILL remain it raises (raise
    ``max_rounds`` or use a finer grid) instead of running a distributed
    cartesian scan.  Its result stays persisted until
    ``release_operator_caches("knn_join")``.

    Output: the query columns, ``target_cols`` (``t_<c>`` where a query
    column has the name), ``dist2`` (squared Euclidean, no sqrt ->
    exact float parity with SQL oracles; a double on the index path)
    and ``knn_rank``.

    ``query_id`` must be unique per distinct query row: the round
    loop's top-k window partitions on it, so two distinct rows sharing
    an id are ranked together (duplicate neighbors, fewer than k per
    row).

    Exact-duplicate query rows and target rows collapse ONCE at entry
    (target rows must be distinct on ``target_cols`` — pass an id
    column — or duplicate targets collapse).  A target with a NULL
    coordinate is never a neighbor, nor, on the index path, one with a
    NaN.  On the index path a query with a NULL coordinate gets the
    first k targets in ``tie_break`` order with a NULL ``dist2``, as
    :func:`knn_brute` ranks it.

    ``k < 1`` and ``max_rounds < 0`` raise ``ValueError`` before any
    Spark job runs.
    """
    if k < 1:
        raise ValueError(f"knn_join needs k >= 1, got {k}")
    if max_rounds < 0:
        raise ValueError(f"knn_join needs max_rounds >= 0, got {max_rounds}")
    tcols = target_cols or list(targets.columns)
    cols = tcols + [c for c in (tx, ty) if c not in tcols]
    base = _index_cache_key(targets, grid, cols)
    # the leading "knn" keeps the polygon lookup's geometry-only
    # fallback (k2[:3] == key[:3]) from ever matching this entry
    key = None if base is None else ("knn", *base, tx, ty, tie_break)
    idx = None if key is None else _find_cached_index(key, cols)
    if idx is None and _resolve_broadcast(targets, "auto"):
        idx = _KnnIndex(targets, grid, cols, tx, ty, tie_break)
        _cache_put(key, idx)
    if idx is not None:
        return idx.join(queries, k, qx, qy, tcols, max_rounds)
    return _knn_rounds(
        queries, targets, k, grid, qx, qy, tx, ty, query_id, tcols,
        tie_break, max_rounds,
    )


#: candidate (query, target) pairs per top-k chunk of the kNN kernel:
#: bounds a worker's temporaries, whole queries per chunk
_KNN_CHUNK_PAIRS = 1 << 21
#: queries per kNN kernel slice (Arrow batches run to 131072 rows; the
#: per-query cell-row ranges grow with the search radius)
_KNN_SLICE = 16384


class _KnnIndex:
    """Build-once broadcast kNN index over a target side that fits the
    broadcast guard.

    The distinct targets whose coordinates are both present are
    collected once, ordered by ``tie_break`` ascending with nulls first
    — Spark's own sort — so a target's row position is its tie code and
    ranking by (dist2, position) is the window order (dist2,
    tie_break).  One broadcast carries the coordinates, a CSR cell ->
    target index and the target columns as Arrow IPC bytes; each
    :meth:`join` is one lazy ``mapInArrow`` pass over the queries that
    emits the output rows directly (``take`` on both sides, no
    join-back)."""

    def __init__(self, targets: DataFrame, grid: Grid, cols: list[str],
                 tx: str, ty: str, tie_break: str | None):
        import pyarrow as pa  # noqa: PLC0415

        self.grid = grid
        self.fields = {f.name: f for f in targets.schema.fields}
        t = targets.select(*cols).where(~missing_coord_expr(tx, ty)).dropDuplicates()
        if tie_break:
            t = t.orderBy(F.col(tie_break).asc_nulls_first())
        table = t.toArrow().combine_chunks()
        x = np.asarray(table.column(tx).to_numpy(), dtype=np.float64)
        y = np.asarray(table.column(ty).to_numpy(), dtype=np.float64)
        order, cells, offsets = _csr(grid.cell_np(x, y))
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        self.bc = targets.sparkSession.sparkContext.broadcast(
            (x, y, cells, offsets, order, sink.getvalue().to_pybytes())
        )

    def join(self, queries: DataFrame, k: int, qx: str, qy: str,
             tcols: list[str], max_rounds: int) -> DataFrame:
        from pyspark.sql.types import (  # noqa: PLC0415
            DoubleType, IntegerType, StructField, StructType,
        )

        qfields = queries.schema.fields
        qcols = [f.name for f in qfields]
        tfields = [
            StructField(c if c not in qcols else "t_" + c,
                        self.fields[c].dataType, self.fields[c].nullable)
            for c in tcols
        ]
        schema = StructType(
            qfields + tfields + [
                StructField("dist2", DoubleType()),
                StructField("knn_rank", IntegerType(), False),
            ]
        )
        names = schema.fieldNames()
        qx_i, qy_i = qcols.index(qx), qcols.index(qy)
        bc, grid = self.bc, self.grid

        def knn(batches):
            import pyarrow as pa  # noqa: PLC0415

            *state, ipc = bc.value
            tgt = pa.ipc.open_stream(ipc).read_all().select(tcols)
            for rb in batches:
                a, b = rb.column(qx_i), rb.column(qy_i)
                px = np.asarray(a.to_numpy(zero_copy_only=False), dtype=np.float64)
                py = np.asarray(b.to_numpy(zero_copy_only=False), dtype=np.float64)
                parts = []
                for s in range(0, rb.num_rows, _KNN_SLICE):
                    qi, ti, d2, rk = _knn_search(
                        state, px[s : s + _KNN_SLICE], py[s : s + _KNN_SLICE],
                        k, grid, max_rounds,
                    )
                    parts.append((qi + s, ti, d2, rk))
                qi, ti, d2, rk = _knn_cat(parts)
                if not len(qi):
                    continue
                # Spark's dist2 is NULL, not NaN, for a NULL coordinate
                null = (a.is_null().to_numpy(zero_copy_only=False)
                        | b.is_null().to_numpy(zero_copy_only=False))
                out = pa.Table.from_arrays(
                    [
                        *rb.take(qi).columns,
                        *tgt.take(ti).columns,
                        pa.array(d2, mask=null[qi]),
                        pa.array(rk + 1, type=pa.int32()),
                    ],
                    names=names,
                )
                yield from out.to_batches()

        return queries.dropDuplicates().mapInArrow(knn, schema=schema)


def _knn_cat(parts):
    """Concatenate (query, target, dist2, rank) row tuples."""
    if not parts:
        e = np.empty(0, np.int64)
        return e, e, np.empty(0, np.float64), e
    return tuple(np.concatenate(c) for c in zip(*parts))


def _knn_search(state, qx, qy, k: int, grid: Grid, max_rounds: int):
    """kNN of one query slice against a :class:`_KnnIndex` state:
    (query position, target position, dist2, 0-based rank) rows.

    Round r searches the square of cells at Chebyshev radius 2^r around
    each query's cell — one contiguous range of the cell-sorted targets
    per row of cells — and resolves the queries whose k-th distance is
    within the covered radius 2^r*min(dx, dy).  The rest, and queries
    with a missing coordinate, get an exact scan over all targets."""
    _, _, cells, offsets, order = state
    valid = ~(np.isnan(qx) | np.isnan(qy))
    col = np.floor((np.where(valid, qx, grid.x0) - grid.x0) / grid.dx).astype(np.int64)
    row = np.floor((np.where(valid, qy, grid.y0) - grid.y0) / grid.dy).astype(np.int64)
    todo = np.flatnonzero(valid)
    out = []
    for r in range(max_rounds):
        rad = 2**r
        # past half the grid width the row ranges would overlap
        if not len(todo) or 2 * rad >= grid.width:
            break
        lo = (row[todo, None] + np.arange(-rad, rad + 1)) * grid.width + (
            col[todo, None] - rad
        )
        starts = offsets[np.searchsorted(cells, lo)]
        ends = offsets[np.searchsorted(cells, lo + 2 * rad, side="right")]
        qi, ti, d2, rk = _knn_topk(state, qx, qy, todo, starts, ends, k)
        kth = np.full(len(todo), np.inf)
        at = rk == k - 1
        kth[np.searchsorted(todo, qi[at])] = d2[at]
        done = kth <= (rad * min(grid.dx, grid.dy)) ** 2
        keep = done[np.searchsorted(todo, qi)]
        out.append((qi[keep], ti[keep], d2[keep], rk[keep]))
        todo = todo[~done]
    todo = np.union1d(todo, np.flatnonzero(~valid))
    if len(todo):
        everything = np.zeros((len(todo), 1), np.int64)
        out.append(_knn_topk(
            state, qx, qy, todo, everything, everything + len(order), k
        ))
    return _knn_cat(out)


def _knn_topk(state, qx, qy, q, starts, ends, k: int):
    """Top-k of each query ``q[i]`` over the cell-sorted targets in its
    disjoint ranges ``starts[i, j]:ends[i, j]``, ranked by (dist2,
    target position): the kept (query, target, dist2, 0-based rank)
    rows.  Runs in chunks of whole queries of about
    ``_KNN_CHUNK_PAIRS`` candidate pairs."""
    tx, ty, _, _, order = state
    counts = ends - starts
    cum = np.cumsum(counts.sum(axis=1))
    parts = []
    lo = 0
    while lo < len(q):
        base = cum[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(cum, base + _KNN_CHUNK_PAIRS, "right")))
        c = counts[lo:hi].ravel()
        n = int(c.sum())
        if n:
            pos = np.repeat(starts[lo:hi].ravel() - (np.cumsum(c) - c), c) + np.arange(n)
            qi = np.repeat(np.repeat(q[lo:hi], counts.shape[1]), c)
            ti = order[pos]
            # dx*dx + dy*dy in float64: bit-equal to Spark's and the SQL
            # oracles' dist2
            dx = qx[qi] - tx[ti]
            dy = qy[qi] - ty[ti]
            d2 = dx * dx + dy * dy
            o = np.lexsort((ti, d2, qi))
            qi, ti, d2 = qi[o], ti[o], d2[o]
            first = np.flatnonzero(np.r_[True, qi[1:] != qi[:-1]])
            rank = np.arange(n) - np.repeat(first, np.diff(np.r_[first, n]))
            top = rank < k
            parts.append((qi[top], ti[top], d2[top], rank[top]))
        lo = hi
    return _knn_cat(parts)


def _knn_rounds(
    queries: DataFrame, targets: DataFrame, k: int, grid: Grid,
    qx: str, qy: str, tx: str, ty: str, query_id: str, tcols: list[str],
    tie_break: str | None, max_rounds: int,
) -> DataFrame:
    """:func:`knn_join`'s round loop, for a target side past the
    broadcast guard.  Ring candidates are unique (query, target) pairs
    BY CONSTRUCTION — queries and targets are distinct at entry and
    consecutive rings cover disjoint cell sets — so the fold needs no
    per-round pair-level dropDuplicates."""
    tgt = targets.withColumn(_P + "tcell", grid.cell_expr(F.col(tx), F.col(ty)))
    tgt = tgt.select(
        _P + "tcell", *[F.col(c).alias("__t_" + c) for c in tcols]
    ).dropDuplicates().cache()
    cached = [tgt]
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
            "dist2", _dist2(qx, qy, "__t_" + tx, "__t_" + ty)
        )
        return cand.drop(
            _P + "tcell", _P + "qcol", _P + "qrow", _P + "dc", _P + "dr"
        )

    def fold_topk(topk, cand) -> DataFrame:
        """Running top-k: merge the previous top-k rows with this
        round's candidates and keep per-query rank <= k under the
        (dist2, tie_break) order — identical to windowing the full
        candidate history because top-k is a fold under a total order."""
        merged = cand if topk is None else topk.drop("__rk").unionByName(cand)
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
    if n_rem:
        # ONE extra widened ring, then a loud failure (an unguarded
        # distributed cartesian is a cluster-killer)
        topk, remaining, n_rem = advance(topk, remaining, max_rounds)
        if n_rem:
            for df in cached:
                df.unpersist()
            raise RuntimeError(
                "knn_join: queries remain unresolved after "
                f"{max_rounds}+1 cell-ring rounds and the target "
                "side is too large to broadcast for the brute "
                "fallback — raise max_rounds or use a finer grid"
            )

    # the last round's persisted top-k IS the answer — already
    # materialized by that round's count, so release every other cache
    # and return the select over it
    renames = [F.col("__t_" + c).alias(c if c not in qcols else "t_" + c)
               for c in tcols]
    out = topk.select(*qcols, *renames, "dist2", F.col("__rk").alias("knn_rank"))
    for df in cached:
        if df is not topk:
            df.unpersist()
    _register_op_caches("knn_join", [topk])
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

    Plan shape = :func:`point_in_polygon_join`'s (broadcast index, or
    the partitioned cogroup salted by a ``salt_k`` in ``join_kwargs``;
    same choice) followed by ONE hash aggregation on the polygon key
    with map-side partial aggs — the join output never materializes anywhere,
    Catalyst pipelines refine straight into the partial agg.  Output:
    (*polygon_cols, n_points, <c>_sum, <c>_min, <c>_max, <c>_avg per
    value column); ``polygon_cols`` defaults as in the join.
    """
    gcols = _polygon_attr_cols(polygons, polygon_cols)
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
