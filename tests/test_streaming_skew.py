"""Structured Streaming PIP join + skew planner."""

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyshp_spark.fixtures.images import images_fixture
from pyshp_spark.fixtures.polygons import fixture_shapefile_bytes
from pyshp_spark.operators.skew import cell_histogram, plan_salt_k, skew_stats
from pyshp_spark.operators.spatial import point_in_polygon_join
from pyshp_spark.sources.shapefile import parse_shp_bytes
from pyshp_spark.streaming.pip_stream import (
    streaming_cell_counts,
    streaming_point_in_polygon,
)

POINT_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def poly_df(spark):
    shp, _, _ = fixture_shapefile_bytes(n=40, seed=42)
    pdf = parse_shp_bytes(shp)[["oid", "wkb", "xmin", "ymin", "xmax", "ymax"]]
    from pyspark.sql.types import BinaryType, LongType

    schema = StructType(
        [
            StructField("oid", LongType()),
            StructField("wkb", BinaryType()),
            StructField("xmin", DoubleType()),
            StructField("ymin", DoubleType()),
            StructField("xmax", DoubleType()),
            StructField("ymax", DoubleType()),
        ]
    )
    return spark.createDataFrame(pdf, schema=schema)


class TestStreamingPip:
    def test_stream_matches_batch(self, spark, poly_df, tmp_path):
        pdf = images_fixture(n=150, seed=13)[["image_id", "lon", "lat"]]
        src = tmp_path / "in"
        src.mkdir()
        # two micro-batch files
        half = len(pdf) // 2
        pdf.iloc[:half].to_parquet(src / "part1.parquet")

        stream = spark.readStream.schema(POINT_SCHEMA).parquet(str(src))
        out = streaming_point_in_polygon(
            stream, poly_df, x="lon", y="lat", polygon_cols=["oid"]
        ).select("image_id", "oid")
        q = (
            out.writeStream.format("memory")
            .queryName("pip_stream")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            pdf.iloc[half:].to_parquet(src / "part2.parquet")
            q.processAllAvailable()
            got = {
                (r.image_id, r.oid)
                for r in spark.sql("SELECT * FROM pip_stream").collect()
            }
        finally:
            q.stop()
        batch = point_in_polygon_join(
            spark.createDataFrame(pdf), poly_df, x="lon", y="lat",
            polygon_cols=["oid"],
        )
        want = {(r.image_id, r.oid) for r in batch.select("image_id", "oid").collect()}
        assert got == want and len(want) > 0

    def test_windowed_cell_counts(self, spark, tmp_path):
        import pandas as pd

        pdf = images_fixture(n=60, seed=14)[["image_id", "lon", "lat"]].copy()
        pdf["ts"] = pd.Timestamp("2026-01-01 00:00:30")
        src = tmp_path / "in2"
        src.mkdir()
        pdf.to_parquet(src / "p.parquet")
        schema = POINT_SCHEMA.add(StructField("ts", TimestampType()))
        stream = spark.readStream.schema(schema).parquet(str(src))
        counts = streaming_cell_counts(stream, x="lon", y="lat", ts="ts")
        q = (
            counts.writeStream.format("memory")
            .queryName("cellcounts")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            # append-mode emits only closed windows; advance the watermark
            late = pdf.copy()
            late["ts"] = pd.Timestamp("2026-01-01 00:10:00")
            late.to_parquet(src / "p2.parquet")
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM cellcounts").collect()
        finally:
            q.stop()
        assert sum(r.n_rows for r in rows) == 60  # first window closed


class TestSkewPlanner:
    def test_histogram_and_salt(self, spark):
        pdf = images_fixture(n=400, seed=15)[["image_id", "lon", "lat"]]
        df = spark.createDataFrame(pdf)
        hist = cell_histogram(df, x="lon", y="lat")
        total = hist.agg(F.sum("n_rows")).collect()[0][0]
        assert total == 400
        s = skew_stats(df, x="lon", y="lat")
        assert s["max_rows"] >= s["mean_rows"]
        # images fixture has a 20% hot cluster -> planner salts
        k = plan_salt_k(df, x="lon", y="lat", target_ratio=2.0)
        assert k is None or (2 <= k <= 16)


class TestStreamingDedup:
    def test_first_arrival_kept_duplicates_dropped(self, spark, tmp_path):
        import datetime as dt

        import pandas as pd

        from pyshp_spark.streaming.pip_stream import streaming_exact_dedup

        src = tmp_path / "dedup_in"
        src.mkdir()
        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
        batch = pd.DataFrame({
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["alpha", "ALPHA  ", "beta", "alpha", "gamma"],
            "ts": [t0 + dt.timedelta(seconds=i) for i in range(5)],
        })
        # Spark's vectorized reader wants TIMESTAMP(MICROS), not NANOS
        batch["ts"] = batch["ts"].astype("datetime64[us]")
        batch.to_parquet(src / "part1.parquet")

        schema = StructType([
            StructField("doc_id", StringType()),
            StructField("text", StringType()),
            StructField("ts", TimestampType()),
        ])
        stream = (
            spark.readStream.schema(
                "doc_id bigint, text string, ts timestamp"
            ).parquet(str(src))
        )
        del schema
        out = streaming_exact_dedup(stream, text="text", ts="ts")
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = spark.sql("SELECT * FROM dedup_out").collect()
        # alpha/ALPHA/alpha collapse to the first arrival; beta+gamma kept
        texts = sorted(r.text.strip().lower() for r in rows)
        assert texts == ["alpha", "beta", "gamma"]
        ids = {r.text.strip().lower(): r.doc_id for r in rows}
        assert ids["alpha"] == 1  # FIRST arrival survives


class TestStreamingNearDup:
    def test_neardup_filter_across_micro_batches(self, spark, tmp_path):
        """First arrival of each near-dup CLUSTER wins, across batches:
        the corpus band store grows incrementally and later batches are
        checked against it without rescanning accepted texts."""
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import minhash_neardup_sink

        src = tmp_path / "nd_in"
        src.mkdir()
        base = "the quick brown fox jumps over the lazy dog near the river bank today"
        other = "completely different content about distributed query engines and shuffles"
        third = "a third unique document mentioning spectral clustering and embeddings"
        # batch 1: doc 1 + its near-dup 2, plus unique 3
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [base, base.replace("today", "tonight"), other],
            }
        ).to_parquet(src / "b1.parquet")
        # batch 2: 4 near-dups doc 1 (cross-batch drop), 5 unique,
        # 6 near-dups 5 (intra-batch drop)
        pd.DataFrame(
            {
                "doc_id": [4, 5, 6],
                "text": [
                    base.replace("dog", "cat"),
                    third,
                    third.replace("third", "fourth"),
                ],
            }
        ).to_parquet(src / "b2.parquet")

        state = str(tmp_path / "nd_state")
        out = str(tmp_path / "nd_out")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(
                minhash_neardup_sink(state, out, threshold=0.5)
            )
            .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        accepted = spark.read.parquet(out)
        ids = sorted(r.doc_id for r in accepted.select("doc_id").collect())
        assert ids == [1, 3, 5]
        # track_dropped (default): the band store holds EVERY doc so
        # later arrivals can chain through dropped members...
        bands = spark.read.parquet(f"{state}/bands")
        assert sorted(
            r.id for r in bands.select("id").distinct().collect()
        ) == [1, 2, 3, 4, 5, 6]
        # ...and the text store maps each member to its accepted
        # representative (keeper == self for accepted docs)
        texts = spark.read.parquet(f"{state}/texts")
        keeper = {r.id: r.keeper for r in texts.select("id", "keeper").collect()}
        assert keeper == {1: 1, 2: 1, 3: 3, 4: 1, 5: 5, 6: 5}

    def test_retried_batch_is_idempotent(self, spark, tmp_path):
        """Re-running the same batch_id (a foreachBatch retry) must not
        double-drop or double-keep: state reads filter batch_id <
        current, and the sink partition is overwritten."""
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import neardup_filter_batch

        t = "some reasonably long document text used for the retry idempotence check"
        pdf = pd.DataFrame({"doc_id": [10, 11], "text": [t, t + " extended"]})
        df = spark.createDataFrame(pdf)
        state = str(tmp_path / "retry_state")
        first = sorted(
            r.doc_id
            for r in neardup_filter_batch(df, state, batch_id=0)
            .select("doc_id")
            .collect()
        )
        retry = sorted(
            r.doc_id
            for r in neardup_filter_batch(df, state, batch_id=0)
            .select("doc_id")
            .collect()
        )
        assert first == retry == [10]


class TestStreamingNearDupHardening:
    def test_cluster_chained_to_corpus_is_dropped_whole(self, spark, tmp_path):
        """A batch cluster must drop even when only a NON-keeper member
        near-duplicates the corpus: {A, B} where A (smaller id) wins
        the intra-batch vote but only B collides with corpus doc C."""
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import neardup_filter_batch

        toks_c = [f"w{i}" for i in range(30)]
        c = " ".join(toks_c)
        # B: C with the last 6 tokens replaced  -> J(B, C) ~ 0.65
        b = " ".join(toks_c[:24] + [f"x{i}" for i in range(6)])
        # A: B with the first 8 tokens replaced -> J(A, B) ~ 0.56,
        # but J(A, C) ~ 0.33 (below the 0.5 threshold)
        a = " ".join([f"y{i}" for i in range(8)] + b.split()[8:])

        state = str(tmp_path / "chain_state")
        first = neardup_filter_batch(
            spark.createDataFrame(pd.DataFrame({"doc_id": [100], "text": [c]})),
            state, batch_id=0,
        )
        assert [r.doc_id for r in first.collect()] == [100]
        second = neardup_filter_batch(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [1, 2], "text": [a, b]})
            ),
            state, batch_id=1,
        )
        # old behavior kept A (the intra-batch keeper, no direct corpus
        # collision); cluster-level corpus check drops the whole cluster
        assert second.count() == 0

    def test_retry_replaces_state_instead_of_appending(self, spark, tmp_path):
        import pandas as pd

        from pyshp_spark.streaming.neardup_stream import neardup_filter_batch

        t = "a document whose state rows must not duplicate on a retried batch"
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [10], "text": [t]})
        )
        state = str(tmp_path / "grow_state")
        neardup_filter_batch(df, state, batch_id=0)
        n1 = spark.read.parquet(f"{state}/bands").count()
        neardup_filter_batch(df, state, batch_id=0)  # retry, same batch
        n2 = spark.read.parquet(f"{state}/bands").count()
        assert n1 == n2  # overwrite, not append
