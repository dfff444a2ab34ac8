"""Test oracles: slow, obviously-correct references that tests compare
the engine's vectorized or Spark-side results against.  The engine never
calls them.
"""

from __future__ import annotations

import numpy as np

from pyshp_spark.fixtures.images import ZOOM
from pyshp_spark.operators.dedup import (
    _MERSENNE,
    _U64,
    _hash64,
    _minhash_params,
    _shingle_mults,
)


def minhash_signature_py(text: str, num_perm: int = 64, width: int = 3,
                         seed: int = 1) -> np.ndarray:
    """Single-doc oracle-side signature: per-token :func:`_hash64`,
    window-combined into shingle hashes (odd-multiplier sum mod 2^64,
    see :func:`_shingle_mults`), then affine perms mod the Mersenne
    prime 2^61-1 with numpy's uint64 wrap-around on the multiply-add."""
    a, b = _minhash_params(num_perm, seed)
    mults = _shingle_mults(width)
    toks = [t for t in ("" if text is None else text).lower().split() if t]
    if not toks:
        return np.zeros(num_perm, dtype=np.int64)
    th = [_hash64(t.encode()) for t in toks]
    if len(th) < width:
        sh = [sum(th[j] * mults[j] for j in range(len(th))) % _U64]
    else:
        sh = [
            sum(th[i + j] * mults[j] for j in range(width)) % _U64
            for i in range(len(th) - width + 1)
        ]
    base = np.array(sh, dtype=np.uint64)
    vals = (a[None, :] * base[:, None] + b[None, :]) % np.uint64(_MERSENNE)
    return vals.min(axis=0).astype(np.int64)


def simhash64_py(text: str) -> int:
    toks = [t for t in ("" if text is None else text).lower().split() if t]
    if not toks:
        return 0
    h64 = np.array([_hash64(t.encode()) for t in toks], dtype=np.uint64)
    bits = ((h64[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    v = np.where(bits.sum(axis=0) * 2 >= len(toks), 1, 0)
    out = 0
    for i in range(64):
        out |= int(v[i]) << i
    return out - (1 << 64) if out >= (1 << 63) else out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def tilefrac_to_lonlat(tx, ty, fx, fy, zoom=ZOOM):
    """Tile + in-tile fraction -> lon/lat (slippy math)."""
    n = 2.0**zoom
    lon = (np.asarray(tx) + np.asarray(fx)) / n * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (np.asarray(ty) + np.asarray(fy)) / n))))
    return lon, lat
