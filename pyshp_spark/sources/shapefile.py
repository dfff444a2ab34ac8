"""ESRI shapefile (.shp / .dbf) ingest -> Spark DataFrame.

Fresh implementation from the public ESRI shapefile spec; record- and
value-level *semantics* follow the reference reader so its outputs are
reproduced exactly (cites into reference src/shapefile.py):

- shape types / Z/M handling: sf.py:65-114, 1810-2080.  Missing trailing
  M block -> all-None m values; m < -1e38 (ISDATA_LOWER_BOUND) -> None
  (sf.py:792-798, 1997-2009).
- dbf value rules: sf.py:3109-3208 — N/F cut at first NUL, '*'-strip
  (QGIS null), blank -> None, decimal>0 -> float, else int with
  int(float(v)) fallback; D -> date with all-zero/space/NUL -> None and
  invalid dates surviving as strings; L -> Y/y/T/t/1 True, N/n/F/f/0
  False, else None; C/M -> rstrip pad bytes then decode.
- deleted dbf rows (flag != b" ") are dropped (sf.py:3127-3133).
- oid = 0-based record position (sf.py:1331-1334).

Architecture difference from the reference (by design, not a port): the
reference is a lazy record-at-a-time reader; here each *file* is parsed
in one shot into Arrow-friendly columns (WKB + bbox + typed attrs) by a
task.  A directory of shapefiles becomes a DataFrame with one task per
file (the natural partitioning unit for this format), and every reader
of this package (``read_shapefiles``, the ``shapefile`` batch and
stream data source) shares one schema rule, :func:`layer_schema`, and
one per-file read, :func:`read_shapefile_table`.  After ingest
everything is columnar — bbox columns enable Parquet min/max skipping
where the reference re-parses bytes per query (sf.py:1683-1687).
"""

from __future__ import annotations

import datetime as _dt
import glob
import os
import struct

import numpy as np
import pandas as pd
import pyarrow as pa

from pyshp_spark.kernels import wkb as _wkb
from pyshp_spark.kernels.rings import organize_polygon_rings

# shape type constants (public ESRI spec / reference sf.py:65-79)
NULL = 0
POINT = 1
POLYLINE = 3
POLYGON = 5
MULTIPOINT = 8
POINTZ = 11
POLYLINEZ = 13
POLYGONZ = 15
MULTIPOINTZ = 18
POINTM = 21
POLYLINEM = 23
POLYGONM = 25
MULTIPOINTM = 28
MULTIPATCH = 31

_POINT_TYPES = {POINT, POINTZ, POINTM}
_MULTIPOINT_TYPES = {MULTIPOINT, MULTIPOINTZ, MULTIPOINTM}
_POLYLINE_TYPES = {POLYLINE, POLYLINEZ, POLYLINEM}
_POLYGON_TYPES = {POLYGON, POLYGONZ, POLYGONM}
_HAS_PARTS = _POLYLINE_TYPES | _POLYGON_TYPES | {MULTIPATCH}
_HAS_Z = {POLYLINEZ, POLYGONZ, MULTIPOINTZ, MULTIPATCH}
_HAS_M = {
    POLYLINEM,
    POLYLINEZ,
    POLYGONM,
    POLYGONZ,
    MULTIPOINTM,
    MULTIPOINTZ,
    MULTIPATCH,
}

ISDATA_LOWER_BOUND = -1e38  # m below this is NoData (reference sf.py:793-798)

# geometry columns every ingested row carries (attrs follow), with
# their Arrow types
_GEOM_TYPES = {
    "oid": pa.int64(),
    "shape_type": pa.int32(),
    "wkb": pa.binary(),
    "xmin": pa.float64(),
    "ymin": pa.float64(),
    "xmax": pa.float64(),
    "ymax": pa.float64(),
    "num_parts": pa.int32(),
    "num_points": pa.int32(),
    "z": pa.list_(pa.float64()),
    "m": pa.list_(pa.float64()),
    "part_types": pa.list_(pa.int32()),
}
GEOM_FIELDS = list(_GEOM_TYPES)


# endianness byte + Polygon type + numRings=1 (LE), the hot-path prefix
_WKB_POLY1_PREFIX = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"


def _shape_wkb(shape_type: int, points: np.ndarray, parts: np.ndarray) -> bytes | None:
    """Encode one shape's points/parts into standard WKB.

    Polygons: rings (split by parts) are organized into
    exterior+holes structure (CW=exterior per reference
    sf.py:977-1102) and written as Polygon / MultiPolygon.
    """
    if shape_type == NULL or len(points) == 0:
        return None
    if shape_type in _POINT_TYPES:
        return _wkb.wkb_point(float(points[0, 0]), float(points[0, 1]))
    if shape_type in _MULTIPOINT_TYPES:
        return _wkb.wkb_multipoint(points)
    if len(parts) == 1 and shape_type in _POLYGON_TYPES:
        # single ring: organize_polygon_rings returns [[ring]] whether it
        # is CW (one exterior) or CCW (only-holes promotion) — skip the
        # winding classification AND the generic WKB assembly on this
        # 85%+ common case (points buffer serializes directly)
        return (
            _WKB_POLY1_PREFIX
            + struct.pack("<I", len(points))
            + points.tobytes()
        )
    bounds = list(parts) + [len(points)]
    rings = [points[bounds[i] : bounds[i + 1]] for i in range(len(parts))]
    rings = [r for r in rings if len(r)]
    if shape_type in _POLYLINE_TYPES or shape_type == MULTIPATCH:
        if len(rings) == 1:
            return _wkb.wkb_linestring(rings[0])
        return _wkb.wkb_multilinestring(rings)
    if len(rings) == 1:
        return _wkb.wkb_polygon(rings)
    polys = organize_polygon_rings(rings)
    if len(polys) == 1:
        return _wkb.wkb_polygon(polys[0])
    return _wkb.wkb_multipolygon(polys)


def parse_shp_bytes(
    shp: bytes,
    bbox: tuple[float, float, float, float] | None = None,
    outside_bbox_as_none: bool = False,
) -> pd.DataFrame:
    """Parse a whole .shp byte buffer into a pandas DataFrame of
    GEOM_FIELDS columns.

    ``bbox`` applies the reference's spatial filter pushdown
    (sf.py:1683-1687): shapes whose bbox does not overlap are skipped
    after reading only their 32-byte bbox prefix (here: cheap slicing).
    oid remains the file position of the record.
    ``outside_bbox_as_none`` keeps filtered-out records as null-geometry
    rows to preserve positional indexing (reference
    outside_bbox_as_None iterator variant, sf.py:3553-3600).
    """
    if len(shp) < 100:
        raise ValueError("not a .shp file: header too short")
    (file_code,) = struct.unpack_from(">i", shp, 0)
    if file_code != 9994:
        raise ValueError(f"not a .shp file: bad file code {file_code}")
    (file_len_words,) = struct.unpack_from(">i", shp, 24)
    file_len = min(file_len_words * 2, len(shp))

    rows: dict[str, list] = {k: [] for k in GEOM_FIELDS}
    pos = 100
    oid = 0
    while pos + 8 <= file_len:
        _recnum, content_words = struct.unpack_from(">2i", shp, pos)
        rec_start = pos + 8
        next_pos = rec_start + content_words * 2
        if content_words <= 0 or rec_start + 4 > len(shp):
            break
        (stype,) = struct.unpack_from("<i", shp, rec_start)
        try:
            parsed = _parse_record(shp, rec_start, next_pos, stype, bbox)
        except (struct.error, ValueError):
            # truncated/corrupt tail: keep what parsed so far (reference
            # tolerates corrupt records, test.py:1315-1353)
            break
        if parsed is not None:
            (pts, parts, bx, z, m, npts, part_types) = parsed
            rows["oid"].append(oid)
            rows["shape_type"].append(stype)
            rows["wkb"].append(_shape_wkb(stype, pts, parts))
            rows["xmin"].append(bx[0])
            rows["ymin"].append(bx[1])
            rows["xmax"].append(bx[2])
            rows["ymax"].append(bx[3])
            rows["num_parts"].append(len(parts))
            rows["num_points"].append(npts)
            rows["z"].append(z)
            rows["m"].append(m)
            rows["part_types"].append(part_types)
        elif outside_bbox_as_none:
            rows["oid"].append(oid)
            rows["shape_type"].append(stype)
            for k in ("wkb", "xmin", "ymin", "xmax", "ymax", "z", "m",
                      "part_types"):
                rows[k].append(None)
            rows["num_parts"].append(0)
            rows["num_points"].append(0)
        oid += 1
        pos = next_pos
    df = pd.DataFrame(rows)
    return df.astype(
        {
            "oid": "int64",
            "shape_type": "int32",
            "xmin": "float64",
            "ymin": "float64",
            "xmax": "float64",
            "ymax": "float64",
            "num_parts": "int32",
            "num_points": "int32",
        }
    )


def _parse_record(shp, rec_start, next_pos, stype, bbox):
    """Returns (points(n,2), parts, bbox4, z|None, m|None, num_points)
    or None when the shape is a deleted/filtered-out record."""
    off = rec_start + 4
    empty = np.empty((0, 2), dtype=np.float64)
    if stype == NULL:
        return (empty, np.empty(0, np.int32), (None,) * 4, None, None, 0, None)

    if stype in _POINT_TYPES:
        x, y = struct.unpack_from("<2d", shp, off)
        off += 16
        if bbox is not None and not (
            bbox[0] <= x <= bbox[2] and bbox[1] <= y <= bbox[3]
        ):
            return None
        z = m = None
        if stype == POINTZ:
            (zv,) = struct.unpack_from("<d", shp, off)
            off += 8
            z = [zv]
        if stype in (POINTZ, POINTM):
            if next_pos - off >= 8:
                (mv,) = struct.unpack_from("<d", shp, off)
                m = [mv if mv >= ISDATA_LOWER_BOUND else None]
            else:
                m = [None]
        pts = np.array([[x, y]], dtype=np.float64)
        return (pts, np.empty(0, np.int32), (x, y, x, y), z, m, 1, None)

    # bbox-bearing types
    bx = struct.unpack_from("<4d", shp, off)
    off += 32
    if bbox is not None and not (
        bbox[0] <= bx[2] and bx[0] <= bbox[2] and bbox[1] <= bx[3] and bx[1] <= bbox[3]
    ):
        return None
    n_parts = 0
    part_types = None
    parts = np.empty(0, np.int32)
    if stype in _HAS_PARTS:
        (n_parts,) = struct.unpack_from("<i", shp, off)
        off += 4
    (n_points,) = struct.unpack_from("<i", shp, off)
    off += 4
    if n_parts:
        parts = np.frombuffer(shp, dtype="<i4", count=n_parts, offset=off)
        off += 4 * n_parts
        part_types = None
        if stype == MULTIPATCH:
            # TRIANGLE_STRIP(0)..RING(5), reference sf.py:100-114
            part_types = list(
                np.frombuffer(shp, dtype="<i4", count=n_parts, offset=off)
            )
            off += 4 * n_parts
    pts = empty
    z = m = None
    if n_points:
        # zero-copy view into the file buffer (serialized to WKB below,
        # never escapes the parse)
        pts = np.frombuffer(shp, dtype="<f8", count=2 * n_points, offset=off).reshape(
            n_points, 2
        )
        off += 16 * n_points
        if stype in _HAS_Z:
            off += 16  # zbox
            z = list(
                np.frombuffer(shp, dtype="<f8", count=n_points, offset=off)
            )
            off += 8 * n_points
        if stype in _HAS_M:
            # trailing M block is optional (reference sf.py:1997-2009)
            if next_pos - off >= 16:
                off += 16  # mbox
            if next_pos - off >= 8 * n_points:
                mvals = np.frombuffer(shp, dtype="<f8", count=n_points, offset=off)
                m = [float(v) if v >= ISDATA_LOWER_BOUND else None for v in mvals]
            else:
                m = [None] * n_points
    if stype in _MULTIPOINT_TYPES:
        parts = np.empty(0, np.int32)
    elif n_parts == 0:
        parts = np.zeros(1, np.int32) if n_points else parts
    return (pts, parts, bx, z, m, n_points, part_types)


# ---------------------------------------------------------------- dbf ----


def parse_dbf_bytes(
    dbf: bytes,
    fields: list[str] | None = None,
    encoding: str = "utf-8",
    encoding_errors: str = "strict",
    deleted_as_none: bool = False,
) -> pd.DataFrame:
    """Parse a whole .dbf byte buffer into a typed pandas DataFrame.

    Value semantics mirror the reference record parser (sf.py:3109-3208);
    deleted rows are dropped (``deleted_as_none=True`` keeps them as
    all-None rows to preserve indexing, reference deleted_as_None,
    sf.py:3252-3300); ``fields`` projects columns (reference column
    pruning, sf.py:3051-3107).  An ``oid`` column carries the 0-based
    record position (pre-deletion-filter, matching reference
    shape/record alignment).
    """
    if len(dbf) < 32:
        raise ValueError("not a .dbf file: header too short")
    num_records, header_len, record_len = struct.unpack_from("<IHH", dbf, 4)
    specs = _dbf_descriptors(dbf)

    body = dbf[header_len:]
    n = min(num_records, len(body) // record_len) if record_len else 0
    # slice records straight from the raw bytes: a numpy S-dtype view
    # strips trailing NUL bytes, which corrupts a trailing 0x00-padded
    # field (e.g. an L flag stored as 0x00 must parse as None, not True)
    raw_rows = [body[i * record_len : (i + 1) * record_len] for i in range(n)]
    mat = (
        np.frombuffer(body[: n * record_len], dtype="S1").reshape(n, record_len)
        if record_len and n
        else np.empty((0, 0), dtype="S1")
    )

    deleted = np.array([r[:1] != b" " for r in raw_rows], dtype=bool)
    keep = np.ones(n, dtype=bool) if deleted_as_none else ~deleted
    oids = np.arange(n, dtype=np.int64)[keep]

    wanted = None if fields is None else {f for f in fields}
    out: dict[str, list] = {"oid": list(oids)}
    col_off = 1
    for name, ftype, size, decimal in specs:
        sl = slice(col_off, col_off + size)
        col_off += size
        if wanted is not None and name not in wanted:
            continue
        vals = None
        if ftype in "NF" and n and (decimal or size <= 15):
            vals = _parse_numeric_column_fast(
                mat[:, sl], size, decimal, keep, deleted, deleted_as_none
            )
        if vals is None:
            vals = [
                None if d
                else _parse_dbf_value(r[sl], ftype, decimal, encoding, encoding_errors)
                for r, k, d in zip(raw_rows, keep, deleted) if k
            ]
        out[name] = vals
    df = pd.DataFrame(out)
    # stable dtypes: nullable ints for N(decimal=0)
    for name, ftype, size, decimal in specs:
        if name not in df.columns or name == "oid":
            continue
        if ftype in "NF" and not decimal:
            df[name] = df[name].astype("Int64")
        elif ftype in "NF":
            df[name] = df[name].astype("float64")
    return df


def _dbf_descriptors(head: bytes) -> list[tuple[str, str, int, int]]:
    """(name, type, size, decimal) of each field descriptor in a .dbf
    header; ``head`` holds at least the header.  A truncated descriptor
    ends the list."""
    header_len = struct.unpack_from("<H", head, 8)[0]
    specs = []
    off = 32
    while off < header_len - 1 and off + 18 <= len(head) and head[off] != 0x0D:
        raw = head[off : off + 32]
        name = raw[:11].split(b"\x00", 1)[0].decode("ascii", "replace")
        specs.append((name, chr(raw[11]), raw[16], raw[17]))
        off += 32
    return specs


def _parse_numeric_column_fast(
    col_mat, size: int, decimal: int, keep, deleted, deleted_as_none: bool
):
    """Vectorized N/F column parse (one numpy astype instead of a
    per-value Python loop — ~50x on wide tables).  Returns None when the
    column contains anything the fast path cannot reproduce exactly
    ('*' padding, interior NULs, non-finite text, int wider than a
    float64 mantissa — the size<=15 guard upstream), so the caller falls
    back to the reference-semantics scalar parser."""
    col = col_mat.view(f"S{size}").ravel()  # trailing NULs stripped: same
    # result as the scalar parser's cut-at-first-NUL for trailing NULs;
    # interior NULs make astype raise -> fallback
    stripped = np.char.strip(col)
    blank = stripped == b""
    try:
        nums = np.where(blank, b"0", stripped).astype(np.float64)
    except ValueError:
        return None
    if not np.isfinite(nums).all():
        return None
    nums = nums[keep]
    null_mask = blank[keep]
    if deleted_as_none:
        null_mask = null_mask | deleted[keep]
    if decimal:
        return [None if m else float(v) for v, m in zip(nums, null_mask)]
    return [None if m else int(v) for v, m in zip(nums, null_mask)]


def _parse_dbf_value(b: bytes, ftype: str, decimal: int, enc: str, errs: str):
    if ftype in ("N", "F"):
        v = b.partition(b"\x00")[0].strip(b"*")
        if v.strip() == b"":
            return None
        if decimal:
            try:
                return float(v)
            except ValueError:
                return None
        try:
            return int(v)
        except ValueError:
            try:
                return int(float(v))
            except ValueError:
                return None
    if ftype == "D":
        if not b.replace(b"\x00", b"").replace(b" ", b"").replace(b"0", b""):
            return None
        s = b.decode("ascii", "replace")
        try:
            return _dt.datetime.strptime(s, "%Y%m%d").date()
        except (TypeError, ValueError):
            return s
    if ftype == "L":
        # single-byte flag; the membership tests below are only sound
        # for len(b) == 1 (b"" is a subsequence of anything)
        if len(b) != 1 or b == b" ":
            return None
        if b in b"YyTt1":
            return True
        if b in b"NnFf0":
            return False
        return None
    # C / M / everything else: text (with pad-byte decode recovery)
    return _decode_text_field(b, enc, errs)


def _decode_text_field(b: bytes, enc: str, errs: str) -> str:
    """Decode a C/M field, restoring trailing pad bytes when needed.

    Multi-byte encodings (UTF-16 etc.) can legitimately *end* in bytes
    that look like dbf padding (0x00 / 0x20); blindly rstripping them
    makes the remainder undecodable.  Mirror the reference's recovery
    (sf.py:456-517): strip all trailing pad bytes, then put them back
    one at a time until the buffer decodes."""
    stripped = b.rstrip(b"\x00 ")
    n_pad = len(b) - len(stripped)
    for num_to_trim in range(n_pad, -1, -1):
        trimmed = b[: len(b) - num_to_trim]
        try:
            return trimmed.decode(enc, errs)
        except UnicodeDecodeError:
            continue
    raise ValueError(
        f"could not decode dbf text field {b!r} with encoding={enc!r} "
        f"errors={errs!r} for any number of restored trailing pad bytes"
    )


# ------------------------------------------------------------- joined ----


def shapefile_to_pandas(
    shp: bytes,
    dbf: bytes | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    fields: list[str] | None = None,
    encoding: str = "utf-8",
    encoding_errors: str = "strict",
) -> pd.DataFrame:
    """One shapefile -> pandas frame of geometry + attribute columns.

    The reference's positional shape<->record zip join (sf.py:4168-4196)
    becomes an oid equi-merge at ingest; bbox mode reproduces its
    re-fetch-by-oid behavior by merging only surviving oids."""
    geoms = parse_shp_bytes(shp, bbox=bbox)
    if dbf is None:
        return geoms
    attrs = parse_dbf_bytes(
        dbf, fields=fields, encoding=encoding, encoding_errors=encoding_errors
    )
    return geoms.merge(attrs, on="oid", how="inner", sort=True)


def read_zip_shapefile(
    zip_path_or_bytes,
    bbox=None,
    fields=None,
) -> pd.DataFrame:
    """Read the shapefile(s) inside a .zip (reference zip-source support,
    sf.py:3962-3998) — all .shp members (with matching .dbf when
    present) parsed and concatenated, ``src`` column = member name."""
    import io as _io  # noqa: PLC0415
    import zipfile  # noqa: PLC0415

    zf = zipfile.ZipFile(
        _io.BytesIO(zip_path_or_bytes)
        if isinstance(zip_path_or_bytes, (bytes, bytearray))
        else zip_path_or_bytes
    )
    names = {n.lower(): n for n in zf.namelist()}
    frames = []
    for low, name in sorted(names.items()):
        if not low.endswith(".shp"):
            continue
        shp = zf.read(name)
        dbf_name = names.get(low[:-4] + ".dbf")
        dbf = zf.read(dbf_name) if dbf_name else None
        df = shapefile_to_pandas(shp, dbf, bbox=bbox, fields=fields)
        df.insert(0, "src", name)
        frames.append(df)
    if not frames:
        raise FileNotFoundError("no .shp members in zip")
    return pd.concat(frames, ignore_index=True)


def _fetch_url(url: str, timeout: float = 30.0) -> bytes:
    from urllib.request import Request, urlopen  # noqa: PLC0415

    req = Request(url, headers={"User-agent": "pyshp-spark/1.0"})
    with urlopen(req, timeout=timeout) as resp:
        ctype = resp.headers.get("Content-Type", "") if resp.headers else ""
        data = resp.read()
        if "text/html" in ctype or data[:14].upper().startswith(b"<!DOCTYPE HTML"):
            raise ValueError(f"URL {url} returned HTML, not a shapefile")
        return data


def read_url_shapefile(url: str, bbox=None, fields=None) -> pd.DataFrame:
    """Fetch a shapefile (or a .zip of shapefiles) from a URL and parse
    it (reference URL source, sf.py:2748-2814: .shp + sibling .dbf
    fetched, missing .dbf tolerated, HTML responses rejected).

    ``file://`` URLs work without network (how the tests pin this);
    http(s) works in connected deployments.  For distributed fetch use
    :func:`read_shapefile_urls`."""
    low = url.lower()
    if low.endswith(".zip"):
        return read_zip_shapefile(_fetch_url(url), bbox=bbox, fields=fields)
    base = url[:-4] if low.endswith((".shp", ".dbf", ".shx")) else url
    shp = _fetch_url(base + ".shp")
    try:
        dbf = _fetch_url(base + ".dbf")
    except Exception:
        # .dbf optional, like the reference's suppressed sibling fetch
        dbf = None
    return shapefile_to_pandas(shp, dbf, bbox=bbox, fields=fields)




# ------------------------------------------------------------- layers ----

def _dbf_type(ftype: str, decimal: int) -> pa.DataType:
    """The Arrow type of the values parse_dbf_bytes gives a field."""
    if ftype in "NF":
        return pa.float64() if decimal else pa.int64()
    return {"D": pa.date32(), "L": pa.bool_()}.get(ftype, pa.string())


def _paths(path: str) -> list[str]:
    """The .shp files ``path`` names: itself, or those directly in the
    directory, sorted."""
    if path.endswith(".shp"):
        out = [path] if os.path.exists(path) else []
    else:
        out = sorted(glob.glob(os.path.join(path, "*.shp")))
    if not out:
        raise FileNotFoundError(f"no .shp files at {path}")
    return out


def _dbf_field_specs(shp_path: str) -> list[tuple[str, str, int, int]]:
    """The field descriptors of the sibling .dbf (header-only read: 32 B
    per field, no records); none when there is no .dbf."""
    dbf_path = shp_path[:-4] + ".dbf"
    if not os.path.exists(dbf_path):
        return []
    with open(dbf_path, "rb") as f:
        head = f.read(32)
        if len(head) < 32:
            return []
        head += f.read(max(struct.unpack_from("<H", head, 8)[0] - 32, 0))
    return _dbf_descriptors(head)


def layer_schema(paths=(), fields=None, sample: pd.DataFrame | None = None):
    """A layer's Spark schema: ``src``, the geometry columns, then one
    column per dbf field of ``paths`` in first-seen order (projected to
    ``fields``), typed by its descriptor.  Only headers are read, so no
    ``bbox`` and no empty or dbf-less file can change the schema.

    ``sample`` (a parsed frame, for sources with no headers to read)
    adds its other columns with the Arrow type of their values, string
    where every value is None."""
    from pyspark.sql.pandas.types import from_arrow_schema  # noqa: PLC0415

    # src: the file or URL the row came from
    types = {"src": pa.string(), **_GEOM_TYPES}
    for p in paths:
        for name, ftype, _size, decimal in _dbf_field_specs(p):
            if fields is None or name in fields:
                types.setdefault(name, _dbf_type(ftype, decimal))
    if sample is not None:
        rest = sample.drop(columns=[c for c in sample.columns if c in types])
        for fld in pa.Schema.from_pandas(rest, preserve_index=False):
            types[fld.name] = pa.string() if pa.types.is_null(fld.type) else fld.type
    return from_arrow_schema(pa.schema(list(types.items())))


def _to_arrow_table(pdf: pd.DataFrame, schema: pa.Schema) -> pa.Table:
    """``pdf`` as an Arrow table of ``schema``: a column ``pdf`` lacks
    (no .dbf, or a field only other files have) is all NULL, and one
    ``schema`` lacks is dropped.  In a date column, a value that is not
    a date (``parse_dbf_bytes`` keeps an unparseable D value as its
    text) is NULL, as in Spark's permissive readers."""
    if pdf.empty:
        # pandas types the columns of a frame built from empty lists as
        # float64, which does not convert to list or string columns
        return schema.empty_table()

    def column(f):
        if f.name not in pdf.columns:
            return pa.nulls(len(pdf), f.type)
        values = pdf[f.name]
        if pa.types.is_date(f.type):
            values = [v if isinstance(v, _dt.date) else None for v in values]
        return pa.array(values, type=f.type, from_pandas=True)

    return pa.table([column(f) for f in schema], schema=schema)


def read_shapefile_table(
    shp_path: str,
    schema: pa.Schema,
    bbox=None,
    fields=None,
    encoding: str = "utf-8",
    encoding_errors: str = "strict",
) -> pa.Table:
    """One .shp (with its sibling .dbf when there is one) as an Arrow
    table of the layer's ``schema`` — the per-file read every reader
    runs in its task."""
    with open(shp_path, "rb") as f:
        shp = f.read()
    dbf_path = shp_path[:-4] + ".dbf"
    dbf = None
    if os.path.exists(dbf_path):
        with open(dbf_path, "rb") as f:
            dbf = f.read()
    pdf = shapefile_to_pandas(shp, dbf, bbox, fields, encoding, encoding_errors)
    pdf.insert(0, "src", shp_path)
    return _to_arrow_table(pdf, schema)


def _map_sources(spark, sources: list[str], schema, read_one):
    """One task per source name; ``read_one(name, arrow_schema)`` gives
    its rows as an Arrow table of ``schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    arrow_schema = to_arrow_schema(schema)
    names = spark.createDataFrame([(s,) for s in sources], "name string")

    def read(batches):
        for b in batches:
            for name in b.column(0).to_pylist():
                yield from read_one(name, arrow_schema).to_batches()

    return names.repartition(len(sources)).mapInArrow(read, schema)


def read_shapefile_urls(spark, urls: list[str], bbox=None, fields=None):
    """Distributed URL ingest: one task per URL, fetched and parsed ON
    THE EXECUTORS — the scale path for pulling many remote shapefiles
    into one DataFrame.  The driver fetches only the first URL, whose
    frame gives the schema (:func:`layer_schema` with no headers):
    columns only later URLs have are dropped, and columns they lack are
    NULL.  ``src`` is the URL, and for a ``.zip`` URL the URL, ``!/``
    and the member name."""
    if not urls:
        raise ValueError("no urls")

    def frame(url):
        pdf = read_url_shapefile(url, bbox=bbox, fields=fields)
        if url.lower().endswith(".zip"):
            # a zip's frame names each row's member in ``src``
            pdf["src"] = url + "!/" + pdf["src"]
        else:
            pdf.insert(0, "src", url)
        return pdf

    return _map_sources(
        spark, urls, layer_schema(sample=frame(urls[0])),
        lambda url, schema: _to_arrow_table(frame(url), schema),
    )


def read_shapefiles(spark, path: str, bbox=None, fields=None):
    """Directory (or single .shp path) -> Spark DataFrame, with the
    rows and schema of ``spark.read.format("shapefile").load(path)``.

    The driver lists the files and reads their dbf headers for the
    schema (:func:`layer_schema`); one ``mapInArrow`` task per file
    then runs :func:`read_shapefile_table`.  It does not go through the
    data source: a Python data source's first use starts planner
    daemons that stay alive for the session."""
    paths = _paths(path)
    return _map_sources(
        spark, paths, layer_schema(paths, fields),
        lambda p, schema: read_shapefile_table(p, schema, bbox, fields),
    )
