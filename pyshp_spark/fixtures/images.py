"""Deterministic image+caption table fixture (BASELINE.json input_hint).

Schema exactly:
  image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
  caption:string, phash:int64
plus georeferencing ground-truth columns used only by tests/bench
(the engine derives them independently from image_id):
  tile_x:int32, tile_y:int32, zoom:int32, lon:double, lat:double

Tiles are Web-Mercator slippy tiles covering the polygon-fixture
extent; ~20% of images land in a hot cluster inside one dense polygon
(skew), ~10% land outside every polygon (anti-join coverage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyshp_spark.fixtures.polygons import BBOX
from pyshp_spark.kernels.image import average_hash, encode_png

ZOOM = 17


def lonlat_to_tile(lon, lat, zoom=ZOOM):
    n = 2.0**zoom
    x = (np.asarray(lon) + 180.0) / 360.0 * n
    y = (
        (1.0 - np.arcsinh(np.tan(np.radians(np.asarray(lat)))) / np.pi)
        / 2.0
        * n
    )
    return np.floor(x).astype(np.int64), np.floor(y).astype(np.int64)


def images_fixture(n: int = 1000, seed: int = 42, png_every: int = 10) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    x0, y0, x1, y1 = BBOX
    pad_x, pad_y = 0.15 * (x1 - x0), 0.15 * (y1 - y0)

    u = rng.uniform(size=n)
    lon = np.empty(n)
    lat = np.empty(n)
    # 20% hot cluster inside the first dense polygon region (skew)
    hot = u < 0.20
    lon[hot] = rng.normal(x0 + 0.2 * (x1 - x0), 0.004, size=hot.sum())
    lat[hot] = rng.normal(y0 + 0.8 * (y1 - y0), 0.004, size=hot.sum())
    # 10% outside the extent entirely (anti-join coverage)
    out = (u >= 0.20) & (u < 0.30)
    lon[out] = rng.uniform(x0 - pad_x, x1 + pad_x, size=out.sum())
    lat[out] = np.where(
        rng.uniform(size=out.sum()) < 0.5,
        rng.uniform(y0 - pad_y, y0 - 0.2 * pad_y, size=out.sum()),
        rng.uniform(y1 + 0.2 * pad_y, y1 + pad_y, size=out.sum()),
    )
    rest = ~(hot | out)
    lon[rest] = rng.uniform(x0, x1, size=rest.sum())
    lat[rest] = rng.uniform(y0, y1, size=rest.sum())

    tx, ty = lonlat_to_tile(lon, lat)

    rows = []
    for i in range(n):
        w = int(rng.integers(8, 33))
        h = int(rng.integers(8, 33))
        pix_rng = np.random.default_rng(seed * 1_000_003 + i)
        rgb = pix_rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        if i % png_every == 0:
            buf, fmt = encode_png(rgb), "png"
        else:
            buf, fmt = rgb.tobytes(), "raw"
        rows.append(
            {
                "image_id": f"img_{i:012d}",
                "bytes": buf,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": f"scene {i} at tile {tx[i]}/{ty[i]} zoom {ZOOM}",
                "phash": average_hash(rgb),
                "tile_x": int(tx[i]),
                "tile_y": int(ty[i]),
                "zoom": ZOOM,
                "lon": float(lon[i]),
                "lat": float(lat[i]),
            }
        )
    df = pd.DataFrame(rows)
    return df.astype(
        {"w": "int32", "h": "int32", "tile_x": "int32", "tile_y": "int32",
         "zoom": "int32", "phash": "int64"}
    )
