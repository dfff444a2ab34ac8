"""Tiny image codec + perceptual-hash kernel (stdlib zlib + numpy only).

The sandbox has no image libraries, so the engine carries a minimal
PNG encoder/decoder (8-bit RGB, filter 0/1/2 only) and a raw RGB
format.  This is enough to make the multimodal plumbing REAL — binary
column in, decoded ndarray batches out, PSNR/pHash verified — while
exotic formats raise NotImplementedError (clearly-marked stub).

Used by the per-row image invariant from BASELINE.json input_hint:
decoded-pixel allclose (PSNR >= 40 dB, measured by the tests' oracle)
+ caption equality.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> PNG bytes (filter 0, one IDAT)."""
    a = np.asarray(rgb, dtype=np.uint8)
    h, w, c = a.shape
    if c != 3:
        raise ValueError("encode_png expects RGB")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), a.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(buf: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, 3) uint8.  Supports 8-bit RGB, filters 0-2."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = []
    while pos < len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        payload = buf[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or ctype != 2 or interlace:
                raise NotImplementedError(
                    "stub codec: only 8-bit non-interlaced RGB PNG supported"
                )
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    raw = zlib.decompress(b"".join(idat))
    stride = w * 3
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ftype = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).copy()
        if ftype == 0:
            pass
        elif ftype == 2:  # up
            line = (line.astype(np.int16) + prev).astype(np.uint8)
        elif ftype == 1:  # sub
            line = line.astype(np.int16)
            for px in range(3, stride):
                line[px] = (line[px] + line[px - 3]) & 0xFF
            line = line.astype(np.uint8)
        else:
            raise NotImplementedError(f"stub codec: PNG filter {ftype} unsupported")
        out[r] = line
        prev = line
    return out.reshape(h, w, 3)


def decode_image(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Dispatch on the images-table ``fmt`` column."""
    if fmt == "raw":
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "png":
        return decode_png(buf)
    raise NotImplementedError(f"stub codec: image format {fmt!r} not supported")


def average_hash(rgb: np.ndarray) -> int:
    """64-bit average hash: grayscale -> 8x8 block means -> mean
    threshold -> row-major bit pack.  Deterministic pHash stand-in for
    the images-table ``phash`` column."""
    a = np.asarray(rgb, dtype=np.float64)
    gray = a @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    ys = (np.arange(8 + 1) * h // 8).astype(int)
    xs = (np.arange(8 + 1) * w // 8).astype(int)
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                                xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    bits = (blocks >= blocks.mean()).ravel()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    # interpret as signed 64-bit so it fits Spark LongType
    return v - (1 << 64) if v >= (1 << 63) else v
