"""GeoJSON export — ``__geo_interface__`` equivalence surface.

Export reproduces the reference's ``Shape.__geo_interface__`` mapping
(reference src/shapefile.py:1380-1491): Point/MultiPoint/LineString/
MultiLineString picked by shape type + part count, polygons organized
into exterior+holes (done at ingest here, same algorithm), empty shapes
export empty coordinates.

The export UDF emits canonical JSON strings (sorted keys) so join
outputs can be equality-checked against the reference oracle.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pyshp_spark.kernels.wkb import (
    WKB_LINESTRING,
    WKB_MULTILINESTRING,
    WKB_MULTIPOINT,
    WKB_MULTIPOLYGON,
    WKB_POINT,
    WKB_POLYGON,
    parse_wkb,
)

_POINT_TYPES = {1, 11, 21}
_MULTIPOINT_TYPES = {8, 18, 28}
_POLYLINE_TYPES = {3, 13, 23}
_POLYGON_TYPES = {5, 15, 25}


def _coords(a: np.ndarray) -> list:
    return [[float(x), float(y)] for x, y in np.asarray(a)[:, :2]]


def geo_interface_from_wkb(wkb: bytes | None, shape_type: int) -> dict:
    """WKB + original shapefile type -> GeoJSON geometry dict with the
    reference's empty-shape conventions."""
    if wkb is None:
        if shape_type in _POINT_TYPES:
            return {"type": "Point", "coordinates": []}
        if shape_type in _MULTIPOINT_TYPES:
            return {"type": "MultiPoint", "coordinates": []}
        if shape_type in _POLYLINE_TYPES:
            return {"type": "LineString", "coordinates": []}
        if shape_type in _POLYGON_TYPES or shape_type == 0:
            return {"type": "Polygon", "coordinates": []}
        raise ValueError(f"shape type {shape_type} has no GeoJSON form")
    gtype, obj = parse_wkb(wkb)
    if gtype == WKB_POINT:
        return {"type": "Point", "coordinates": [float(obj[0, 0]), float(obj[0, 1])]}
    if gtype == WKB_MULTIPOINT:
        return {"type": "MultiPoint", "coordinates": _coords(obj)}
    if gtype == WKB_LINESTRING:
        return {"type": "LineString", "coordinates": _coords(obj)}
    if gtype == WKB_MULTILINESTRING:
        return {"type": "MultiLineString", "coordinates": [_coords(p) for p in obj]}
    if gtype == WKB_POLYGON:
        return {"type": "Polygon", "coordinates": [_coords(r) for r in obj]}
    if gtype == WKB_MULTIPOLYGON:
        return {
            "type": "MultiPolygon",
            "coordinates": [[_coords(r) for r in rings] for rings in obj],
        }
    raise ValueError(f"unsupported WKB type {gtype}")


def geojson_udf():
    """(wkb, shape_type) -> canonical GeoJSON string (sorted keys)."""

    @F.pandas_udf(StringType())
    def gj(wkb: pd.Series, shape_type: pd.Series) -> pd.Series:
        return pd.Series(
            [
                json.dumps(
                    geo_interface_from_wkb(
                        bytes(w) if w is not None else None, int(t)
                    ),
                    sort_keys=True,
                )
                for w, t in zip(wkb, shape_type)
            ]
        )

    return gj
