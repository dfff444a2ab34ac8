"""Multimodal (image binary column) operators.

Image rows are opaque ``binary`` columns with typed metadata (w, h,
fmt per the BASELINE.json input_hint schema).  Decode and feature
extraction run as Arrow-batched ``mapInPandas`` transforms.  Real
codecs in this package: raw RGB + minimal PNG (kernels/image.py);
every other format decodes to null stats.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from pyshp_spark.kernels.image import average_hash, decode_image


def with_image_stats(df: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """Decode each image and append per-channel mean/std + recomputed
    phash.  Decode errors surface as null stats (corrupt-tolerant, like
    the reference's corrupt-file handling, reference
    src/shapefile.py tests test.py:1315-1353)."""
    keep = keep or [c for c in df.columns if c != "bytes"]
    fields = [f for f in df.schema.fields if f.name in keep]
    schema = StructType(
        fields
        + [
            StructField("mean_r", DoubleType()),
            StructField("mean_g", DoubleType()),
            StructField("mean_b", DoubleType()),
            StructField("std_gray", DoubleType()),
            StructField("phash_check", LongType()),
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            mr = np.full(n, np.nan)
            mg = np.full(n, np.nan)
            mb = np.full(n, np.nan)
            sg = np.full(n, np.nan)
            ph = np.zeros(n, dtype=np.int64)
            ok = np.zeros(n, dtype=bool)
            for i, (buf, w, h, fmt) in enumerate(
                zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
            ):
                try:
                    rgb = decode_image(bytes(buf), int(w), int(h), str(fmt))
                except (NotImplementedError, ValueError):
                    continue
                a = rgb.astype(np.float64)
                mr[i], mg[i], mb[i] = a[..., 0].mean(), a[..., 1].mean(), a[..., 2].mean()
                sg[i] = (a @ np.array([0.299, 0.587, 0.114])).std()
                ph[i] = average_hash(rgb)
                ok[i] = True
            out = pdf[[f.name for f in fields]].copy()
            out["mean_r"] = mr
            out["mean_g"] = mg
            out["mean_b"] = mb
            out["std_gray"] = sg
            out["phash_check"] = pd.array(
                [int(p) if o else None for p, o in zip(ph, ok)], dtype="Int64"
            )
            yield out

    return df.mapInPandas(stats, schema=schema)


def phash_dedup_pairs(df: DataFrame, max_hamming: int = 6,
                      key: str = "image_id", phash: str = "phash") -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash Hamming distance,
    pigeonhole-banded into ``max_hamming + 1`` contiguous chunks (a pair
    with <= max_hamming differing bits must agree on at least one chunk,
    so recall is guaranteed for ANY max_hamming in [0, 63]), verified by
    an exact popcount."""
    from pyshp_spark.operators.dedup import hamming_band_exprs  # noqa: PLC0415

    chunk_exprs = hamming_band_exprs(F.col(phash), max_hamming)
    chunks = df.select(
        F.col(key).alias("id"),
        F.col(phash).alias("ph"),
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk_val"),
    )
    left = chunks.select(F.col("id").alias("id_a"), F.col("ph").alias("ph_a"),
                         "chunk_idx", "chunk_val")
    right = chunks.select(F.col("id").alias("id_b"), F.col("ph").alias("ph_b"),
                          "chunk_idx", "chunk_val")
    return (
        left.join(right, on=["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
