"""Per-partition lineage checkpointing + resumable restart.

North-rule requirement: every stage records per-partition lineage
(cell ranges processed, row counts, checksums) so a killed job resumes
by re-running only incomplete ranges.

The work is split into ``num_buckets`` deterministic cell-hash buckets
(``pmod(cell, num_buckets)``).  Each bucket runs as its own Spark job:
output lands under ``out/bucket=<b>/`` and a one-row lineage parquet is
committed with ``os.replace`` (atomic on POSIX) only after the bucket's
write succeeds — so a crash mid-bucket leaves no lineage row and the
bucket re-runs idempotently on restart (its output dir is simply
overwritten).  On Iceberg-enabled clusters the same protocol maps to a
lineage table + snapshot commits per bucket; this parquet-dir stand-in
keeps identical semantics without the Iceberg runtime jars (not in this
sandbox).

The reference has no analog (its writer streams to a local file and
finalizes headers at close, reference src/shapefile.py:5007-5051 — a
single-process commit); this is that commit discipline re-done for a
distributed engine.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("cell_min", pa.int64()),
        ("cell_max", pa.int64()),
        ("rows_in", pa.int64()),
        ("rows_out", pa.int64()),
        ("checksum", pa.int64()),
        ("wall_sec", pa.float64()),
        ("committed_at", pa.string()),
    ]
)


class LineageCheckpoint:
    def __init__(self, checkpoint_dir: str):
        self.dir = checkpoint_dir
        self.lineage_dir = os.path.join(checkpoint_dir, "lineage")
        self.out_dir = os.path.join(checkpoint_dir, "out")
        os.makedirs(self.lineage_dir, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)

    def completed_buckets(self) -> set[int]:
        done = set()
        for name in os.listdir(self.lineage_dir):
            if name.startswith("bucket-") and name.endswith(".parquet"):
                done.add(int(name[len("bucket-") : -len(".parquet")]))
        return done

    def commit_bucket(self, bucket: int, stats: dict) -> None:
        table = pa.Table.from_pylist(
            [
                {
                    "bucket": bucket,
                    "cell_min": stats.get("cell_min"),
                    "cell_max": stats.get("cell_max"),
                    "rows_in": stats.get("rows_in"),
                    "rows_out": stats.get("rows_out"),
                    "checksum": stats.get("checksum"),
                    "wall_sec": stats.get("wall_sec"),
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
                }
            ],
            schema=LINEAGE_SCHEMA,
        )
        tmp = os.path.join(self.lineage_dir, f".tmp-bucket-{bucket}.parquet")
        final = os.path.join(self.lineage_dir, f"bucket-{bucket}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, final)  # atomic commit

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.lineage_dir, "*.parquet"))


def run_with_lineage(
    spark: SparkSession,
    points: DataFrame,
    job_fn,
    checkpoint_dir: str,
    num_buckets: int = 8,
    cell_col: str = "cell",
    checksum_cols: list[str] | None = None,
) -> DataFrame:
    """Run ``job_fn(bucket_df) -> DataFrame`` over cell-hash buckets of
    ``points`` with per-bucket lineage commits; returns the full output
    (reading back committed parquet).  Safe to re-invoke after a crash:
    completed buckets are skipped.

    The input is scanned exactly ONCE: the bucketed frame is staged to
    a ``__bucket``-partitioned parquet copy under the checkpoint dir
    first (skipped when the staging's _SUCCESS marker already exists —
    a resume reuses the original staging), and every per-bucket read —
    the job input AND the rows_in stats — is then a partition-PRUNED
    scan of that staging, not a re-scan of the source.  Without this,
    a ``num_buckets``-bucket job re-read the full 100 TB input once
    per bucket.
    """
    ckpt = LineageCheckpoint(checkpoint_dir)
    done = ckpt.completed_buckets()
    staged = os.path.join(checkpoint_dir, "staged_input")
    if not os.path.exists(os.path.join(staged, "_SUCCESS")):
        (
            points.withColumn(
                "__bucket",
                F.pmod(F.col(cell_col), F.lit(num_buckets)).cast("int"),
            )
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(staged)
        )
    bucketed = spark.read.parquet(staged)
    for b in range(num_buckets):
        if b in done:
            continue
        t0 = time.time()
        part = bucketed.where(F.col("__bucket") == b).drop("__bucket")
        out = job_fn(part)
        out_path = os.path.join(ckpt.out_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(out_path)
        written = spark.read.parquet(out_path)
        ccols = checksum_cols or written.columns
        # bit_xor: order-independent, overflow-free (ANSI-mode safe)
        agg = written.agg(
            F.count("*").alias("rows_out"),
            F.coalesce(F.bit_xor(F.xxhash64(*ccols)), F.lit(0)).alias("checksum"),
        ).collect()[0]
        stats_in = part.agg(
            F.count("*").alias("rows_in"),
            F.min(cell_col).alias("cell_min"),
            F.max(cell_col).alias("cell_max"),
        ).collect()[0]
        ckpt.commit_bucket(
            b,
            {
                "rows_in": stats_in.rows_in,
                "cell_min": stats_in.cell_min,
                "cell_max": stats_in.cell_max,
                "rows_out": agg.rows_out,
                "checksum": int(agg.checksum),
                "wall_sec": time.time() - t0,
            },
        )
    return spark.read.parquet(os.path.join(ckpt.out_dir, "bucket=*"))
