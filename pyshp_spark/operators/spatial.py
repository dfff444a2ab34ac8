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
     test.  Matches are emitted by ``take`` on the point rows and on
     the polygon attributes, which stay Arrow from parse to output.

Because a point maps to exactly one cell, a (point, polygon) pair
appears at most once after the cell lookup — no dedup pass is needed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DataType, LongType, MapType, StringType,
    StructField, StructType, VariantType,
)
from pyspark.sql.window import Window

from pyshp_spark.functions.cells import GRID, Grid, missing_coord_expr
from pyshp_spark.kernels.rings import first_ring_stats, pip_pairs_flat, rings_to_edges
from pyshp_spark.kernels.wkb import wkb_rings

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


def _resolve_broadcast(polygons: DataFrame, broadcast_polygons) -> bool:
    """"auto" probes the build side with a LIMIT-bounded count (scans at
    most _MAX_BROADCAST_ROWS+1 rows, so cheap even on a huge table) and
    falls back to the partitioned path when it is too big to broadcast.

    The guard is byte-aware, not just row-count-aware: a few million
    rows of small diamonds broadcast fine, but the same row count of
    large multipart WKB would OOM the driver collect.  Once the row
    probe passes, build-side bytes are EXACT: the row count and
    sum(length(wkb)) come from one aggregation over the same LIMIT, and
    when n is within the guard the LIMIT covered every row."""
    if broadcast_polygons != "auto":
        return broadcast_polygons
    # the length, not the WKB, crosses the LIMIT's single-partition exchange
    wkb = F.length("wkb") if "wkb" in polygons.columns else F.lit(0)
    n, total_wkb = (
        polygons.select(wkb.alias("__l"))
        .limit(_MAX_BROADCAST_ROWS + 1)
        .agg(F.count(F.lit(1)), F.sum("__l"))
        .first()
    )
    if n > _MAX_BROADCAST_ROWS:
        return False
    # 96 B/row slack for the bbox doubles, id attrs and Arrow offsets
    return (total_wkb or 0) + n * 96.0 <= _MAX_BROADCAST_BYTES


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
    (default: every other column; ``[]``: none), as Arrow from the
    parse to the output, so every value comes back exactly as stored.
    Containment = even-odd ray-cast over all rings, matching the
    reference's organized exterior-minus-holes membership.

    Two execution paths, one kernel and one emitter.  When the polygon
    side fits the broadcast guard, a :class:`BroadcastPolygonIndex`
    answers every point batch in one Arrow pass; the probe side never
    shuffles.  Otherwise points and parsed polygons are cogrouped by a
    bucket of their (cell, salt) key and each bucket runs the same
    kernel over its own index; a bucket loads whole and gets no AQE
    skew split, so there ``salt_k`` is the hot-cell remedy (the index
    path ignores it).  ``broadcast_polygons="auto"`` (default) reuses a
    cached index for the same polygon plan, else probes the build-side
    size; pass True/False to force a path.  ``point_out_cols`` (subset
    of the point columns) restricts which point columns reach the
    output.  Any other ``broadcast_polygons``, or a ``salt_k`` not None
    or an int >= 1, raises ``ValueError`` before any job.
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
        return idx._join(points, x, y, pcols, mode, ocols, gcols)

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
        point_idx = pair_pids = _EMPTY_I64
        if pts.num_rows and pols.num_rows:
            state = _index_state(pols.column(_P + "edges"),
                                 pols.column(_P + "keys"), _bbox_array(pols))
            point_idx, pair_pids = _probe_index(
                state, *(pts.column(c).to_numpy() for c in (key_col, x, y))
            )
        return _pip_rows(pts.select(ocols), pols.select(gcols), point_idx,
                         pair_pids, mode)

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
    the index arrays are built from the geometry columns alone, and a
    probe emits only its call's attribute columns, so an index built
    with attributes answers it identically.  Returns the entry (marked
    most-recently-used) or None."""
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
    """Executor-side WKB -> flat-buffer parse, one lazy ``mapInArrow``:
    each polygon row comes back as (bbox, attrs, edge-bytes,
    cover-bytes), bbox and attributes passed through as Arrow.  Edge
    bytes are C-order float64 (E, 4) rows, cover bytes int64 cell ids.
    Duplicate WKB values are parsed once per batch.  Null WKB / NaN
    bbox rows (NULL shapes) yield empty buffers.  With ``buckets=(k,
    nb)`` each row instead splits into one row per bucket of its keys
    ``cell * k + salt`` (salt < k), with that bucket's keys as
    ``__ps_keys`` and ``__ps_bucket`` = pmod(key, nb)."""
    keep = [f for f in polygons.schema.fields if f.name != "wkb"]
    blobs = ["edges", "cover"] if buckets is None else ["edges", "keys"]
    out_schema = StructType(keep + [StructField(_P + b, BinaryType()) for b in blobs])
    if buckets is not None:
        out_schema = out_schema.add(_P + "bucket", LongType())
    keep_names = [f.name for f in keep]

    # a dimension table often arrives as ONE scan partition (small file
    # counts, single row groups); the parse is the expensive part, so
    # spread it across the cluster — the one-time WKB shuffle is
    # dimension-sized and buys core-count parallelism (not on the
    # partitioned path, whose exchanges never carry the WKB)
    target = polygons.sparkSession.sparkContext.defaultParallelism
    if buckets is None and polygons.rdd.getNumPartitions() < max(2, target // 2):
        polygons = polygons.repartition(target)

    def parse(batches):
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        for rb in batches:
            enc = pc.dictionary_encode(rb.column("wkb"))
            uniq = pa.array(
                [rings_to_edges(wkb_rings(w.as_py())).tobytes()
                 for w in enc.dictionary] + [b""],
                pa.binary(),
            )
            # a null WKB takes the trailing empty buffer
            out = rb.select(keep_names).append_column(
                _P + "edges", uniq.take(pc.fill_null(enc.indices, len(uniq) - 1))
            )
            bb = _bbox_array(rb)
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
            counts = np.where(np.isnan(bb).any(axis=1), 0, ncols * nrows)
            starts = np.cumsum(counts) - counts
            within = np.arange(counts.sum()) - np.repeat(starts, counts)
            nc_rep = np.repeat(ncols, counts)
            cells = (
                np.repeat(c0, counts) + within % nc_rep
                + (np.repeat(r0, counts) + within // nc_rep) * grid.width
            )
            if buckets is not None:
                yield _bucket_rows(out, cells, counts, *buckets)
            else:
                yield out.append_column(_P + "cover", _blob_array(cells, counts))

    return polygons.mapInArrow(parse, schema=out_schema)


def _bucket_rows(out, cells, counts, k: int, nb: int):
    """Row i of the Arrow batch ``out`` (cover: ``counts[i]`` of
    ``cells``) once per bucket ``key % nb`` (Spark's pmod) of its keys
    ``cell * k + salt``, with that bucket's keys as int64 bytes and the
    bucket."""
    import pyarrow as pa  # noqa: PLC0415

    keys = (cells[:, None] * k + np.arange(k)).ravel()
    group = np.repeat(np.arange(out.num_rows) * nb, counts * k) + keys % nb
    order = np.argsort(group, kind="stable")
    keys, group = keys[order], group[order]
    first = np.flatnonzero(np.diff(group, prepend=-1))
    return out.take(group[first] // nb).append_column(
        _P + "keys", _blob_array(keys, np.diff(np.append(first, len(keys))))
    ).append_column(_P + "bucket", pa.array(group[first] % nb, pa.int64()))


def _bbox_array(t) -> np.ndarray:
    """The (n, 4) float64 bboxes of an Arrow batch or table (NaN: NULL)."""
    return np.column_stack([
        t.column(c).to_numpy(zero_copy_only=False) for c in _BBOX_COLS
    ]).astype(np.float64)


def _blob_array(flat: np.ndarray, counts: np.ndarray):
    """A binary Arrow array whose row i holds the next ``counts[i]``
    items of ``flat`` as raw bytes: one buffer, no per-row Python."""
    import pyarrow as pa  # noqa: PLC0415

    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts * flat.itemsize, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError("a binary column of one Arrow batch passes 2 GiB")
    return pa.Array.from_buffers(pa.binary(), len(counts), [
        None, pa.py_buffer(offsets.astype(np.int32)),
        pa.py_buffer(np.ascontiguousarray(flat)),
    ])


def _blob_values(col, dtype):
    """A binary Arrow column's values as one flat ``dtype`` array and
    each row's item count: views of its buffers, no per-row Python."""
    import pyarrow as pa  # noqa: PLC0415

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if not len(col):
        return np.empty(0, dtype), _EMPTY_I64
    _, offs, data = col.buffers()
    offs = np.frombuffer(offs, np.int32, len(col) + 1, col.offset * 4)
    flat = np.frombuffer(data or b"", np.uint8)[offs[0]:offs[-1]]
    return flat.view(dtype), np.diff(offs) // np.dtype(dtype).itemsize


def _index_state(edges, keys, bboxes: np.ndarray):
    """The PIP kernel's index state from binary Arrow columns of
    per-polygon edges and int64 keys (cover cells, or one bucket's
    (cell, salt) keys) and the bboxes: views of the Arrow buffers, no
    per-polygon Python work."""
    all_edges, edge_counts = _blob_values(edges, np.float64)
    edge_offsets = np.concatenate([[0], np.cumsum(edge_counts // 4)])
    keys, key_counts = _blob_values(keys, np.int64)
    # int32 pids halve the broadcast's fattest buffer (valid: the
    # row guard caps the build side well under 2^31 rows)
    key_pids = np.repeat(np.arange(len(key_counts), dtype=np.int32), key_counts)
    order, uniq_keys, key_offsets = _csr(keys)
    return (all_edges.reshape(-1, 4), edge_offsets, bboxes, uniq_keys,
            key_offsets, key_pids[order])


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


def _pip_rows(base, attrs, point_idx, pids, mode: str):
    """The output rows of both PIP paths from one kernel result
    (:func:`_probe_index`), as an Arrow table: inner pairs each match's
    point row ``base.take(point_idx)`` with its polygon attribute row
    ``attrs.take(pids)``; semi/anti keep each point row by whether it
    matched at all."""
    import pyarrow as pa  # noqa: PLC0415

    if mode == "inner":
        return pa.Table.from_arrays(
            base.take(point_idx).columns + attrs.take(pids).columns,
            names=base.column_names + attrs.column_names,
        )
    hit = np.bincount(point_idx, minlength=base.num_rows) > 0
    return base.filter(pa.array(hit if mode == "semi" else ~hit))


def _ipc_bytes(table) -> bytes:
    """An Arrow table as IPC stream bytes, the form a broadcast carries
    it in (``pa.ipc.open_stream(b).read_all()`` reads it back)."""
    import pyarrow as pa  # noqa: PLC0415

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


class BroadcastPolygonIndex:
    """Build-once broadcast spatial index over a dimension-sized polygon
    set; probe many times with point DataFrames.

    The polygons are parsed on the executors (one ``mapInArrow``: WKB
    -> flat float64 edges + int64 cell cover per polygon) and collected
    as Arrow; the driver views the collected buffers as flat edge arrays
    plus a CSR cell -> polygon-id index and broadcasts those six numpy
    arrays, then the attribute table as Arrow IPC bytes, once per
    session.  Every probe is a single ``mapInArrow`` over the points:
    index lookup, bbox prune and ray-cast in the worker, then
    :func:`_pip_rows` emits the output rows (``take`` on the point batch
    and the attribute table).  No shuffle and no join on the fact
    side."""

    def __init__(self, polygons: DataFrame, grid: Grid = GRID,
                 polygon_cols: list[str] | None = None):
        self.grid = grid
        self.gcols = _polygon_attr_cols(polygons, polygon_cols)
        self._gfields = {f.name: f for f in polygons.schema.fields}
        table = _parse_polygons_distributed(
            polygons.select(*POLYGON_META_COLS, *self.gcols), grid
        ).toArrow()
        # the Arrow attribute table (one row per polygon id); the blobs
        # only feed the index build
        self.pol_pdf = table.select(self.gcols)
        self.bc = polygons.sparkSession.sparkContext.broadcast((
            *_index_state(table.column(_P + "edges"),
                          table.column(_P + "cover"), _bbox_array(table)),
            _ipc_bytes(self.pol_pdf),
        ))

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
        if mode not in ("inner", "semi", "anti"):
            raise ValueError(f"unknown join mode {mode!r}")
        pcols = point_cols or list(points.columns)
        ocols = pcols if point_out_cols is None else point_out_cols
        return self._join(points, x, y, pcols, mode, ocols,
                          self.gcols if mode == "inner" else [])

    def _join(self, points: DataFrame, x: str, y: str, pcols: list[str],
              mode: str, ocols: list[str], gcols: list[str]) -> DataFrame:
        """:meth:`join_points` carrying the attribute columns ``gcols``
        (a subset of the index's)."""
        # the cell id is recomputed from (x, y) INSIDE the worker — it is
        # pure float math, and not shipping it saves an int64 Arrow
        # column on the fact side (the channel is the scaling bottleneck)
        probe = points.select(*pcols)
        schema = StructType(
            [probe.schema[c] for c in ocols] + [self._gfields[g] for g in gcols]
        )
        x_i, y_i = pcols.index(x), pcols.index(y)
        bc, grid = self.bc, self.grid

        def refine(batches):
            import pyarrow as pa  # noqa: PLC0415

            *state, ipc = bc.value
            attrs = pa.ipc.open_stream(ipc).read_all().select(gcols)
            for rb in batches:
                px = rb.column(x_i).to_numpy(zero_copy_only=False)
                py = rb.column(y_i).to_numpy(zero_copy_only=False)
                point_idx, pair_pids = _probe_index(
                    state, grid.cell_np(px, py), px, py
                )
                base = pa.Table.from_batches([rb.select(ocols)])
                yield from _pip_rows(
                    base, attrs, point_idx, pair_pids, mode
                ).to_batches()

        return probe.mapInArrow(refine, schema=schema)


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
        return bbox_overlap_join(
            boxed,
            polygons.select("xmin", "ymin", "xmax", "ymax", *gcols),
            grid,
            rect_cols=("__txmin", "__tymin", "__txmax", "__tymax"),
            out_cols=tiles.columns + gcols,
        )
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
        self.grid = grid
        self.fields = {f.name: f for f in targets.schema.fields}
        t = targets.select(*cols).where(~missing_coord_expr(tx, ty)).dropDuplicates()
        if tie_break:
            t = t.orderBy(F.col(tie_break).asc_nulls_first())
        table = t.toArrow().combine_chunks()
        x = np.asarray(table.column(tx).to_numpy(), dtype=np.float64)
        y = np.asarray(table.column(ty).to_numpy(), dtype=np.float64)
        order, cells, offsets = _csr(grid.cell_np(x, y))
        self.bc = targets.sparkSession.sparkContext.broadcast(
            (x, y, cells, offsets, order, _ipc_bytes(table))
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


#: an exterior covering more than this many cells of its shape's hole
#: grid pairs with every hole of its shape instead (bounded fan-out)
_HOLE_MAX_COVER = 64


def assign_holes_distributed(
    rings: DataFrame, shape_id: str = "shape_id", ring_idx: str = "ring_idx",
) -> DataFrame:
    """Distributed hole→exterior assignment: the reference's
    ``organize_polygon_rings`` (sf.py:977-1102) as one vectorized
    Arrow pass over whole shapes.

    Input: one row per ring — (shape_id, ring_idx, wkb [single-ring
    polygon], xmin, ymin, xmax, ymax).  Output: one row per input row,
    (shape_id, ring_idx, role, parent_idx), with role:

    * ``exterior`` — CW ring (sf.py:997-1002); parent = self.
    * ``hole`` — CCW ring attached to an exterior.  A single exterior
      takes every hole (sf.py:1005-1009).  Otherwise the candidates are
      the exteriors whose bbox strictly contains the hole's
      (sf.py:1023-1032): one candidate wins WITHOUT a ray-cast (the
      reference refines only >1); several are ray-cast against the
      hole's ``ring_sample`` point (sf.py:1034-1051), and the
      smallest-|2A| survivor wins, ties to the lower ring_idx
      (sf.py:1053-1061).
    * ``orphan`` — parent NULL: a CCW ring no exterior claims
      (sf.py:1063-1093), every ring of an all-holes shape
      (sf.py:1096-1102), a multi-candidate hole too degenerate to
      sample (the reference would raise RingSamplingError), and a row
      whose ``wkb`` is NULL or has no ring.

    Plan: one exchange (``repartition(shape_id)``), a sort by shape
    within partitions, and one ``mapInArrow`` that carries a shape cut
    by a batch boundary into the next batch and assigns all whole
    shapes of a batch at once (:func:`_assign_holes`).  Nothing is
    persisted.  A shape is one task's work; its candidate search is a
    per-shape grid, near-linear in its ring count."""
    schema = StructType([
        rings.schema[shape_id], rings.schema[ring_idx],
        StructField("role", StringType(), False),
        StructField("parent_idx", rings.schema[ring_idx].dataType),
    ])

    def assign(batches):
        import pyarrow as pa  # noqa: PLC0415

        carry = []
        for rb in batches:
            t = pa.Table.from_batches(carry + [rb]).combine_chunks()
            # the last shape may continue in the next batch: carry it
            cut = _shape_starts(t.column(0))[-1]
            yield from _assign_holes(t.slice(0, cut), schema.names)
            carry = t.slice(cut).to_batches()
        if carry:
            yield from _assign_holes(pa.Table.from_batches(carry), schema.names)

    return (
        rings.select(shape_id, ring_idx, "wkb", *_BBOX_COLS)
        .repartition(shape_id)
        .sortWithinPartitions(shape_id)
        .mapInArrow(assign, schema)
    )


def _shape_starts(ids) -> np.ndarray:
    """Where each shape starts in a shape-sorted id column; a NULL id
    is a shape of its own, as a NULL key joins nothing."""
    import pyarrow.compute as pc  # noqa: PLC0415

    ids = ids.combine_chunks()
    new = pc.fill_null(pc.not_equal(ids[1:], ids[:-1]), True)
    return np.flatnonzero(np.append(True, new.to_numpy(zero_copy_only=False)))


def _assign_holes(t, names: list[str]):
    """Roles and parents of the rings of the whole shapes in ``t``
    (columns shape_id, ring_idx, wkb, bbox; sorted by shape) as Arrow
    batches of ``names``: one vectorized pass, no Python call per
    shape."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    n = t.num_rows
    starts = _shape_starts(t.column(0))
    shape = np.repeat(np.arange(len(starts)), np.diff(np.append(starts, n)))
    enc = pc.dictionary_encode(t.column(2).combine_chunks())
    parsed = [wkb_rings(w.as_py()) for w in enc.dictionary]
    # (is_cw, |2A|, sample x, sample y) per distinct WKB; None -> NaN,
    # and a NULL wkb (code -1) takes the trailing all-NaN row
    stats = np.array([[np.nan if v is None else v for v in s]
                      for s in first_ring_stats(parsed) + [[None] * 4]])
    code = pc.fill_null(enc.indices, -1).to_numpy(zero_copy_only=False)
    cw, area2, sx, sy = stats[code].T
    ext = np.flatnonzero(cw == 1)
    n_ext = np.bincount(shape[ext], minlength=len(starts))[shape]
    # an exterior is its own parent; a lone exterior takes every hole
    lone = np.full(len(starts), -1, dtype=np.int64)
    lone[shape[ext]] = ext
    parent = np.where(cw == 1, np.arange(n),
                      np.where((cw == 0) & (n_ext == 1), lone[shape], -1))
    holes = np.flatnonzero((cw == 0) & (n_ext > 1))
    if len(holes):
        bb = _bbox_array(t)
        h, e = _hole_candidates(shape, ext[n_ext[ext] > 1], holes, bb)
        multi = np.bincount(h, minlength=n)[h] > 1
        if multi.any():
            # ray-cast each multi-candidate hole's sample point against
            # its candidates, with the PIP join's pair kernel
            need, codes = np.unique(e[multi], return_inverse=True)
            edges = [rings_to_edges(parsed[code[r]]) for r in need]
            offsets = np.append(0, np.cumsum([len(x) for x in edges]))
            keep = ~multi
            keep[multi] = pip_pairs_flat(
                np.concatenate(edges), offsets, codes,
                sx[h[multi]], sy[h[multi]],
            )
            h, e = h[keep], e[keep]
        ridx = t.column(1).to_numpy(zero_copy_only=False)
        order = np.lexsort((ridx[e], area2[e], h))
        h, e = h[order], e[order]
        first = np.flatnonzero(np.diff(h, prepend=-1))
        parent[h[first]] = e[first]
    role = np.where(cw == 1, 0, np.where(parent >= 0, 1, 2))
    yield from pa.Table.from_arrays([
        t.column(0), t.column(1), pa.array(["exterior", "hole", "orphan"]).take(role),
        t.column(1).take(pa.array(parent, mask=parent < 0)),
    ], names=names).to_batches()


@np.errstate(invalid="ignore", over="ignore")
def _hole_candidates(shape, ext, holes, bb):
    """``(hole, exterior)`` row pairs of one shape whose exterior bbox
    strictly contains the hole bbox (reference sf.py:864-869).  Each
    shape gets a k x k grid over its exteriors' extent (k ~
    sqrt(exteriors); 1 if the extent is not finite); a CSR over (shape,
    cell) keys lists the exteriors per covered cell, or under one broad
    key per shape past ``_HOLE_MAX_COVER`` cells.  A hole probes its
    bbox min corner's cell and its shape's broad key: lossless, as a
    strictly containing exterior covers that cell (floor and clamp are
    monotone)."""
    s = shape[ext]
    first = np.flatnonzero(np.diff(s, prepend=-1))
    ng = shape[-1] + 1
    box = np.full((ng, 4), np.nan)  # each shape's exterior extent
    box[s[first], :2] = np.fmin.reduceat(bb[ext, :2], first)
    box[s[first], 2:] = np.fmax.reduceat(bb[ext, 2:], first)
    k = np.clip(np.ceil(np.sqrt(np.bincount(s, minlength=ng))), 1, 1024)
    k = np.where(np.isfinite(box).all(1), k, 1).astype(np.int64)
    width = np.maximum((box[:, 2:] - box[:, :2]) / k[:, None], 1e-300)
    base = np.cumsum(k * k + 1) - (k * k + 1)
    broad_key = base + k * k

    def cells(rows, xy):
        g = shape[rows]
        c = np.floor((bb[rows][:, xy] - box[g, :2]) / width[g])
        c = np.clip(np.where(np.isnan(c), 0, c), 0, k[g, None] - 1)
        return c[:, 0].astype(np.int64), c[:, 1].astype(np.int64)

    c0, r0 = cells(ext, [0, 1])
    c1, r1 = cells(ext, [2, 3])
    ncol = np.maximum(c1 - c0 + 1, 0)
    ncell = ncol * np.maximum(r1 - r0 + 1, 0)
    broad = ncell > _HOLE_MAX_COVER
    rep, within = _runs(np.where(broad, 1, ncell))
    sr = s[rep]
    cell = c0[rep] + within % ncol[rep] + (r0[rep] + within // ncol[rep]) * k[sr]
    keys = np.where(broad[rep], broad_key[sr], base[sr] + cell)
    if not len(keys):
        return _EMPTY_I64, _EMPTY_I64
    order, uniq, offsets = _csr(keys)
    hc, hr = cells(holes, [0, 1])
    hs = shape[holes]
    probe = np.concatenate([base[hs] + hr * k[hs] + hc, broad_key[hs]])
    pos = np.clip(np.searchsorted(uniq, probe), 0, len(uniq) - 1)
    hit = uniq[pos] == probe
    run, within = _runs(np.where(hit, offsets[pos + 1] - offsets[pos], 0))
    h = np.concatenate([holes, holes])[run]
    e = ext[rep[order[offsets[pos[run]] + within]]]
    m = ((bb[e, :2] < bb[h, :2]) & (bb[h, 2:] < bb[e, 2:])).all(1)
    return h[m], e[m]


def _runs(counts: np.ndarray):
    """Each item's run and its position in it, for runs of ``counts``."""
    run = np.repeat(np.arange(len(counts)), counts)
    return run, np.arange(len(run)) - np.repeat(np.cumsum(counts) - counts, counts)
