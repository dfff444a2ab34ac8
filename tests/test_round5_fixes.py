"""Round-5 fixes, each pinned by a test:

1. The ``knuth`` hash family buckets NEGATIVE keys correctly (pmod
   semantics) — previously sign-preserving ``%`` sent every negative
   key to bucket < 0, i.e. the first split of hash_split, the first
   fractional slice of mix_corpora, and the "minima" of kmv_distinct.
   The DuckDB mirror used the same wrong formula, so the oracle was
   green while both engines were wrong.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestKnuthNegativeKeys:
    def test_bucket_range_and_duckdb_parity(self, spark):
        """Buckets land in [0, buckets) for negative keys, and the SQL
        mirror is value-identical to the Spark expression."""
        import duckdb  # noqa: PLC0415

        from pyshp_spark.operators.sample import (  # noqa: PLC0415
            _knuth_bucket_expr,
            knuth_bucket_sql,
        )

        keys = list(range(-2500, 2500)) + [-(2**31) + 1, 2**31 - 1]
        pdf = pd.DataFrame({"k": keys})
        df = spark.createDataFrame(pdf)
        got = (
            df.select("k", _knuth_bucket_expr(F.col("k"), 7, 1000).alias("b"))
            .toPandas()
            .sort_values("k")
            .reset_index(drop=True)
        )
        assert (got.b >= 0).all() and (got.b < 1000).all()
        con = duckdb.connect()
        con.register("t", pdf)
        sql = knuth_bucket_sql("k", 7, 1000)
        want = con.execute(
            f"SELECT k, {sql} AS b FROM t ORDER BY k"
        ).df()
        pd.testing.assert_series_equal(
            got.b.astype("int64"), want.b.astype("int64"), check_names=False
        )

    def test_hash_split_negative_keys_spread(self, spark):
        """Negative keys must spread across splits at the same fractions
        as positive keys — not all land in 'train'."""
        from pyshp_spark.operators.sample import hash_split  # noqa: PLC0415

        pdf = pd.DataFrame({"doc_id": range(-5000, 0)})
        df = spark.createDataFrame(pdf)
        out = hash_split(df, key="doc_id", hash="knuth").toPandas()
        frac = out.split.value_counts(normalize=True)
        assert abs(frac["train"] - 0.8) < 0.03
        assert abs(frac.get("val", 0.0) - 0.1) < 0.02
        assert abs(frac.get("test", 0.0) - 0.1) < 0.02

    def test_mix_corpora_negative_keys(self, spark):
        """Fractional slice membership among negative keys tracks the
        fractional weight, and epoch counts stay correct."""
        from pyshp_spark.operators.sample import mix_corpora  # noqa: PLC0415

        pdf = pd.DataFrame(
            {"doc_id": range(-4000, 0), "source": ["web"] * 4000}
        )
        df = spark.createDataFrame(pdf)
        out = mix_corpora(df, {"web": 1.5}, key="doc_id", hash="knuth").toPandas()
        per_doc = out.groupby("doc_id").epoch.max()
        frac_twice = (per_doc == 2).mean()
        assert abs(frac_twice - 0.5) < 0.05
        assert set(per_doc.unique()) == {1, 2}

    def test_stratified_sample_negative_keys(self, spark):
        from pyshp_spark.operators.sample import (  # noqa: PLC0415
            stratified_sample_n,
        )

        pdf = pd.DataFrame(
            {
                "doc_id": range(-1000, 0),
                "lang": ["en" if i % 2 else "fr" for i in range(1000)],
            }
        )
        df = spark.createDataFrame(pdf)
        out = stratified_sample_n(
            df, strata="lang", n=40, key="doc_id", hash="knuth"
        ).toPandas()
        assert out.groupby("lang").size().to_dict() == {"en": 40, "fr": 40}
        out2 = stratified_sample_n(
            df.repartition(7), strata="lang", n=40, key="doc_id", hash="knuth"
        ).toPandas()
        assert set(out.doc_id) == set(out2.doc_id)

    def test_kmv_negative_keys_sane_estimate(self, spark):
        """kmv_distinct on a negative-valued column: h_k positive and
        the estimate within KMV error bounds (was garbage before)."""
        from pyshp_spark.operators.sketch import kmv_distinct  # noqa: PLC0415

        n_distinct = 20_000
        df = spark.range(n_distinct).select(
            (-F.col("id") - 1).alias("v")
        )
        r = kmv_distinct(df, "v", k=256).collect()[0]
        assert r.h_k > 0
        assert r.k_actual == 256
        # 1/sqrt(k) ~ 6.25%; allow 4 sigma
        assert abs(r.estimate - n_distinct) / n_distinct < 0.25

    def test_kmv_duckdb_parity_negative(self, spark):
        import duckdb  # noqa: PLC0415

        from pyshp_spark.operators.sketch import (  # noqa: PLC0415
            kmv_distinct,
            kmv_distinct_sql,
        )

        pdf = pd.DataFrame({"v": [-(i * 37 + 1) for i in range(3000)]})
        df = spark.createDataFrame(pdf)
        got = kmv_distinct(df, "v", k=64).toPandas()
        con = duckdb.connect()
        con.register("t", pdf)
        want = con.execute(kmv_distinct_sql("t", "v", k=64)).df()
        assert int(got.h_k[0]) == int(want.h_k[0])
        assert int(got.estimate[0]) == int(want.estimate[0])


class TestJsonExtractAnsiSafe:
    def test_non_integral_values_null_not_crash(self, spark, tmp_path):
        """Under ANSI mode the old bare .cast('long') raised
        CAST_INVALID_INPUT on '1.5'; and DuckDB TRY_CAST rounds it.
        Both sides must now yield NULL for non-integer tokens and
        agree value-for-value."""
        import duckdb  # noqa: PLC0415

        import __spark_entry__ as entry  # noqa: PLC0415

        pdf = pd.DataFrame(
            {
                "event_id": list(range(6)),
                "props": [
                    '{"k": 42}',
                    '{"k": "1.5"}',
                    '{"k": 1.5}',
                    '{"k": "abc"}',
                    '{"k": 99999999999999999999999}',
                    '{"nope": 1}',
                ],
            }
        )
        sf = tmp_path / "sf"
        sf.mkdir()
        spark.createDataFrame(pdf).write.parquet(str(sf / "events.parquet"))
        got = (
            entry.q_json_extract(spark, str(sf))
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        assert got.k[0] == 42
        assert got.k[1:].isna().all()
        con = duckdb.connect()
        con.register("events", pdf)
        want = (
            con.execute(entry.oracle_sql()["json_extract"])
            .df()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_series_equal(
            got.k.astype("float64"), want.k.astype("float64"),
            check_names=False,
        )


class TestAsofOneRightRow:
    """asof_join's payload travels as one struct: the matched right row
    is a single row, NULL payload fields ride along (not backfilled
    from staler rows), and fields are never stitched across rows."""

    def test_null_payload_not_backfilled(self, spark):
        from pyshp_spark.operators.temporal import asof_join  # noqa: PLC0415

        left = spark.createDataFrame(
            pd.DataFrame({"k": ["u"], "t": pd.to_datetime([30], unit="s")})
        )
        right = spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": ["u", "u"],
                    "t": pd.to_datetime([10, 20], unit="s"),
                    "v": [5.0, None],
                }
            )
        )
        out = asof_join(
            left, right, key="k", ts="t", payload=["v"]
        ).toPandas()
        # matched row is t=20 whose v IS NULL — must stay NULL
        assert len(out) == 1
        assert pd.isna(out.asof_v[0])

    def test_fields_not_stitched_across_rows(self, spark):
        from pyshp_spark.operators.temporal import asof_join  # noqa: PLC0415

        left = spark.createDataFrame(
            pd.DataFrame({"k": ["u"], "t": pd.to_datetime([30], unit="s")})
        )
        right = spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": ["u", "u"],
                    "t": pd.to_datetime([10, 20], unit="s"),
                    "a": [1.0, None],
                    "b": [None, 2.0],
                }
            )
        )
        out = asof_join(
            left, right, key="k", ts="t", payload=["a", "b"]
        ).toPandas()
        # one right row (t=20): a=None, b=2 — the old per-column
        # last(ignorenulls) stitched a=1 from t=10
        assert pd.isna(out.asof_a[0])
        assert out.asof_b[0] == 2.0

    def test_composite_key_parity_with_pandas(self, spark):
        from pyshp_spark.operators.temporal import asof_join  # noqa: PLC0415

        rng = __import__("numpy").random.default_rng(11)
        lt = pd.DataFrame(
            {
                "k1": rng.integers(0, 3, 200),
                "k2": rng.integers(0, 2, 200),
                "t": pd.to_datetime(rng.integers(0, 1000, 200), unit="s"),
            }
        )
        rt = pd.DataFrame(
            {
                "k1": rng.integers(0, 3, 150),
                "k2": rng.integers(0, 2, 150),
                "t": pd.to_datetime(rng.integers(0, 1000, 150), unit="s"),
                "v": rng.normal(size=150),
            }
        ).drop_duplicates(["k1", "k2", "t"])
        got = (
            asof_join(
                spark.createDataFrame(lt),
                spark.createDataFrame(rt),
                key=["k1", "k2"],
                ts="t",
                payload=["v"],
            )
            .toPandas()
            .sort_values(["k1", "k2", "t"])
            .reset_index(drop=True)
        )
        want = pd.merge_asof(
            lt.sort_values("t"),
            rt.sort_values("t"),
            on="t",
            by=["k1", "k2"],
            direction="backward",
        ).sort_values(["k1", "k2", "t"]).reset_index(drop=True)
        got_s = got.sort_values(["k1", "k2", "t", "asof_v"]).reset_index(
            drop=True
        )
        want_s = want.sort_values(["k1", "k2", "t", "v"]).reset_index(
            drop=True
        )
        assert len(got_s) == len(want_s)
        pd.testing.assert_series_equal(
            got_s.asof_v, want_s.v, check_names=False
        )

    def test_collision_guard(self, spark):
        from pyshp_spark.operators.temporal import asof_join  # noqa: PLC0415

        left = spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": ["u"],
                    "t": pd.to_datetime([1], unit="s"),
                    "asof_v": [0.0],
                }
            )
        )
        right = spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": ["u"],
                    "t": pd.to_datetime([1], unit="s"),
                    "v": [1.0],
                }
            )
        )
        with pytest.raises(ValueError, match="asof_v"):
            asof_join(left, right, key="k", ts="t", payload=["v"])


class TestNeardupStateCompaction:
    def _run_stream(self, spark, state, n_batches, compact_every):
        from pyshp_spark.streaming.neardup_stream import (  # noqa: PLC0415
            neardup_filter_batch,
        )

        accepted = []
        for bi in range(n_batches):
            texts = [
                f"document number {bi * 4 + j} with some shared running text"
                f" corpus {'alpha beta gamma' if j % 2 else 'delta eps zeta'}"
                for j in range(4)
            ]
            # make every odd batch duplicate the previous batch's docs
            if bi % 2 == 1:
                texts = [
                    f"document number {(bi - 1) * 4 + j} with some shared"
                    f" running text corpus"
                    f" {'alpha beta gamma' if j % 2 else 'delta eps zeta'}"
                    for j in range(4)
                ]
            df = spark.createDataFrame(
                pd.DataFrame(
                    {"doc_id": [bi * 4 + j for j in range(4)], "text": texts}
                )
            )
            out = neardup_filter_batch(
                df, state, batch_id=bi, compact_every=compact_every
            )
            accepted.extend(sorted(r.doc_id for r in out.collect()))
        return accepted

    def test_compaction_preserves_decisions_and_bounds_dirs(
        self, spark, tmp_path
    ):
        """Accept/drop decisions with compaction on must equal the
        uncompacted run, and the state dir count must stay bounded."""
        import os  # noqa: PLC0415

        a = self._run_stream(spark, str(tmp_path / "s_nc"), 8, compact_every=0)
        b = self._run_stream(spark, str(tmp_path / "s_c"), 8, compact_every=3)
        assert a == b
        for sub in ("bands", "texts"):
            nc = [
                d
                for d in os.listdir(tmp_path / "s_nc" / sub)
                if d.startswith("batch_id=")
            ]
            c = [
                d
                for d in os.listdir(tmp_path / "s_c" / sub)
                if d.startswith("batch_id=")
            ]
            assert len(nc) == 8
            # last compaction at batch 6 folds 0..5 into one dir; 6,7 add
            assert len(c) <= 3, c

    def test_compaction_rerun_is_idempotent(self, spark, tmp_path):
        """Re-running compaction for the same batch over a
        partially-retired store (crash between temp write and dir
        retirement) yields the same consolidated rows."""
        from pyshp_spark.streaming.neardup_stream import (  # noqa: PLC0415
            _compact_state,
            neardup_filter_batch,
        )

        state = str(tmp_path / "s")
        for bi in range(4):
            df = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "doc_id": [bi * 2, bi * 2 + 1],
                        "text": [
                            f"wholly distinct document text number {bi * 2}"
                            " padded with words",
                            f"wholly distinct document text number {bi * 2 + 1}"
                            " padded with words",
                        ],
                    }
                )
            )
            neardup_filter_batch(df, state, batch_id=bi, compact_every=0)
        bands_path = f"{state}/bands"
        before = (
            spark.read.parquet(bands_path)
            .drop("batch_id", "__bucket")
            .toPandas()
            .sort_values(["id", "band"])
            .reset_index(drop=True)
        )
        _compact_state(
            spark, bands_path, 4, key_cols=["id", "band"],
            sort_cols=["band", "band_sig"],
        )
        # crash simulation: compaction ran once; re-run must be a no-op
        _compact_state(
            spark, bands_path, 4, key_cols=["id", "band"],
            sort_cols=["band", "band_sig"],
        )
        after = (
            spark.read.parquet(bands_path)
            .drop("batch_id", "__bucket")
            .toPandas()
            .sort_values(["id", "band"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(before, after)
        import os  # noqa: PLC0415

        dirs = [
            d for d in os.listdir(bands_path) if d.startswith("batch_id=")
        ]
        assert dirs == ["batch_id=3"]

    def test_bucket_pruning_filters_partitions(self, spark, tmp_path):
        """The probe's corpus read carries a __bucket IN filter when the
        probe touches fewer than all buckets."""
        from pyshp_spark.streaming.neardup_stream import (  # noqa: PLC0415
            _NUM_BUCKETS,
            _bucket_of,
            _pruned,
        )

        corpus = spark.createDataFrame(
            pd.DataFrame(
                {
                    "id": range(100),
                    "band": [0] * 100,
                    "band_sig": [f"s{i}" for i in range(100)],
                    "__bucket": [i % _NUM_BUCKETS for i in range(100)],
                }
            )
        )
        probe = spark.createDataFrame(
            pd.DataFrame({"band": [0], "band_sig": ["s1"]})
        )
        out = _pruned(
            corpus, probe, _bucket_of(F.col("band"), F.col("band_sig"))
        )
        assert out.count() < 100  # the literal IN really filtered


class TestSaltedExchangeNoWkb:
    def _fixtures(self, spark):
        from pyshp_spark.fixtures.images import images_fixture  # noqa: PLC0415
        from pyshp_spark.fixtures.polygons import (  # noqa: PLC0415
            fixture_shapefile_bytes,
        )
        from pyshp_spark.sources.shapefile import parse_shp_bytes  # noqa: PLC0415

        shp, _, _ = fixture_shapefile_bytes(n=20, seed=42)
        poly_pdf = parse_shp_bytes(shp)[
            ["oid", "wkb", "xmin", "ymin", "xmax", "ymax"]
        ]
        polys = spark.createDataFrame(poly_pdf)
        pts = spark.createDataFrame(
            images_fixture(n=200, seed=7)[["image_id", "lon", "lat"]]
        )
        return pts, polys

    def test_salted_exchange_carries_no_wkb(self, spark):
        """The exploded (cell x salt) build-side exchange must ship
        (pid, bbox, attrs) only — the WKB re-attaches to the
        bbox-prefiltered candidates on the dense pid key."""
        from pyshp_spark.operators.spatial import (  # noqa: PLC0415
            point_in_polygon_join,
        )

        pts, polys = self._fixtures(spark)
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            out = point_in_polygon_join(
                pts, polys, x="lon", y="lat", polygon_cols=["oid"],
                broadcast_polygons=False, salt_k=4,
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        salted = [
            l for l in plan.splitlines()
            if "Exchange" in l and "__ps_salt" in l
        ]
        assert salted, "expected the salted exchange:\n" + plan
        assert not any("wkb" in l for l in salted), (
            "WKB must not ride the salted exchange:\n" + "\n".join(salted)
        )

    def test_shuffle_path_values_match_broadcast(self, spark):
        """De-WKB'd shuffle path returns exactly the broadcast path's
        pairs."""
        from pyshp_spark.operators.spatial import (  # noqa: PLC0415
            point_in_polygon_join,
        )

        pts, polys = self._fixtures(spark)
        a = (
            point_in_polygon_join(
                pts, polys, x="lon", y="lat", polygon_cols=["oid"],
                broadcast_polygons=False, salt_k=4,
            )
            .select("image_id", "oid")
            .toPandas()
            .sort_values(["image_id", "oid"])
            .reset_index(drop=True)
        )
        b = (
            point_in_polygon_join(
                pts, polys, x="lon", y="lat", polygon_cols=["oid"],
                broadcast_polygons=True,
            )
            .select("image_id", "oid")
            .toPandas()
            .sort_values(["image_id", "oid"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)


class TestKmvPartialKmin:
    def test_exchange_preceded_by_partition_kmin(self, spark):
        """The one exchange in the kmv plan must sit ABOVE the
        per-partition k-min map, so it carries <= k rows per input
        partition even on a unique key."""
        from pyshp_spark.operators.sketch import kmv_distinct  # noqa: PLC0415

        df = spark.range(200_000).select(F.col("id").alias("v"))
        out = kmv_distinct(df, "v", k=64)
        plan = out._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        map_idx = [i for i, l in enumerate(lines) if "MapInPandas" in l]
        ex_idx = [
            i
            for i, l in enumerate(lines)
            if "Exchange" in l and "BroadcastExchange" not in l
        ]
        assert map_idx, plan
        assert ex_idx, plan
        # tree prints parents before children: every shuffle exchange
        # must be a parent of (printed before) the k-min map
        assert max(ex_idx) < min(map_idx), plan

    def test_unique_key_estimate_and_oracle_parity(self, spark):
        import duckdb  # noqa: PLC0415

        from pyshp_spark.operators.sketch import (  # noqa: PLC0415
            kmv_distinct,
            kmv_distinct_sql,
        )

        n = 50_000
        pdf = pd.DataFrame({"v": range(n)})
        df = spark.createDataFrame(pdf).repartition(8)
        got = kmv_distinct(df, "v", k=256).toPandas()
        con = duckdb.connect()
        con.register("t", pdf)
        want = con.execute(kmv_distinct_sql("t", "v", k=256)).df()
        assert int(got.h_k[0]) == int(want.h_k[0])
        assert int(got.estimate[0]) == int(want.estimate[0])
        assert abs(int(got.estimate[0]) - n) / n < 0.25


class TestSingleScanLineage:
    def test_staged_input_and_pruned_bucket_reads(self, spark, tmp_path):
        """run_with_lineage stages the bucketed input once; per-bucket
        inputs are partition-pruned scans of the staging (not source
        re-scans)."""
        import os  # noqa: PLC0415

        from pyshp_spark.plans.lineage import run_with_lineage  # noqa: PLC0415

        src = str(tmp_path / "src")
        spark.range(1000).select(
            F.col("id").alias("point_id"), (F.col("id") % 97).alias("cell")
        ).write.parquet(src)
        points = spark.read.parquet(src)

        plans = []

        def job(df):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return df.groupBy("cell").count()

        ck = str(tmp_path / "ck")
        out = run_with_lineage(spark, points, job, ck, num_buckets=4)
        assert out.count() == 97
        assert os.path.exists(os.path.join(ck, "staged_input", "_SUCCESS"))
        assert len(plans) == 4
        for p in plans:
            # every bucket job reads the staging with a partition filter
            assert "staged_input" in p, p
            assert "__bucket" in p.split("PartitionFilters", 1)[1].split(
                "\n"
            )[0], p

    def test_resume_skips_staging_rewrite(self, spark, tmp_path):
        import os  # noqa: PLC0415

        from pyshp_spark.plans.lineage import run_with_lineage  # noqa: PLC0415

        points = spark.range(100).select(
            F.col("id").alias("point_id"), (F.col("id") % 7).alias("cell")
        )
        ck = str(tmp_path / "ck2")
        run_with_lineage(spark, points, lambda d: d, ck, num_buckets=2)
        mtime = os.path.getmtime(
            os.path.join(ck, "staged_input", "_SUCCESS")
        )
        # drop one lineage row to force a partial resume
        os.remove(os.path.join(ck, "lineage", "bucket-1.parquet"))
        out = run_with_lineage(spark, points, lambda d: d, ck, num_buckets=2)
        assert out.count() == 100
        assert (
            os.path.getmtime(os.path.join(ck, "staged_input", "_SUCCESS"))
            == mtime
        ), "resume must reuse the original staging (one input scan total)"


class TestIntervalJoinSkewGuard:
    def _skewed(self, spark):
        import numpy as np  # noqa: PLC0415

        rng = np.random.default_rng(3)
        # one 10-minute bucket holds ~25% of all events (burst window)
        n = 4000
        burst = rng.integers(0, 600, n // 4)
        spread = rng.integers(600, 36_000, 3 * n // 4)
        secs = np.concatenate([burst, spread])
        ev = pd.DataFrame(
            {
                "event_id": range(n),
                "ts": pd.to_datetime(secs, unit="s"),
            }
        )
        iv = pd.DataFrame(
            {
                "iv_id": range(60),
                "start_us": [i * 550 * 1_000_000 for i in range(60)],
                "end_us": [(i * 550 + 400) * 1_000_000 for i in range(60)],
            }
        )
        return spark.createDataFrame(ev), spark.createDataFrame(iv)

    def test_salted_parity_under_skew(self, spark):
        from pyshp_spark.operators.temporal import interval_join  # noqa: PLC0415

        ev, iv = self._skewed(spark)
        base = (
            interval_join(ev, iv)
            .select("event_id", "iv_id")
            .toPandas()
            .sort_values(["event_id", "iv_id"])
            .reset_index(drop=True)
        )
        salted = (
            interval_join(ev, iv, salt_k=8)
            .select("event_id", "iv_id")
            .toPandas()
            .sort_values(["event_id", "iv_id"])
            .reset_index(drop=True)
        )
        assert len(base) > 0
        pd.testing.assert_frame_equal(base, salted)

    def test_salted_plan_is_non_degenerate(self, spark):
        """Under forced shuffle the salted join must be a SortMergeJoin
        keyed on (__bucket, __salt) — the hot bucket really splits."""
        from pyshp_spark.operators.temporal import interval_join  # noqa: PLC0415

        ev, iv = self._skewed(spark)
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            out = interval_join(ev, iv, salt_k=8)
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
        assert smj, plan
        assert any("__salt" in l and "__bucket" in l for l in smj), (
            "\n".join(smj)
        )


class TestTilePyramid:
    def test_cascade_equals_direct_with_keys(self, spark):
        """The quadtree cascade must equal aggregating the raw tiles at
        every zoom (parents nest), including a grouping key."""
        import numpy as np  # noqa: np

        from pyshp_spark.operators.spatial import tile_pyramid  # noqa: PLC0415

        rng = np.random.default_rng(9)
        pdf = pd.DataFrame(
            {
                "tile_x": rng.integers(0, 16, 3000),
                "tile_y": rng.integers(0, 16, 3000),
                "fmt": rng.choice(["png", "jpg"], 3000),
            }
        )
        df = spark.createDataFrame(pdf)
        got = (
            tile_pyramid(df, zoom_max=4, zoom_min=0, keys=["fmt"])
            .toPandas()
            .sort_values(["zoom", "tx", "ty", "fmt"])
            .reset_index(drop=True)
        )
        direct = []
        for z in range(4, -1, -1):
            d = 2 ** (4 - z)
            g = (
                pdf.assign(tx=pdf.tile_x // d, ty=pdf.tile_y // d)
                .groupby(["tx", "ty", "fmt"])
                .size()
                .reset_index(name="n")
            )
            g.insert(0, "zoom", z)
            direct.append(g)
        want = (
            pd.concat(direct)
            .sort_values(["zoom", "tx", "ty", "fmt"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want)
        for c in ("zoom", "tx", "ty", "n"):
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        assert (got.fmt.to_numpy() == want.fmt.to_numpy()).all()

    def test_zoom_validation(self, spark):
        from pyshp_spark.operators.spatial import tile_pyramid  # noqa: PLC0415

        df = spark.createDataFrame(pd.DataFrame({"tile_x": [1], "tile_y": [1]}))
        with pytest.raises(ValueError):
            tile_pyramid(df, zoom_max=2, zoom_min=5)


class TestStratifiedPrefilter:
    """Two-level (prefiltered) stratified sample must be bit-identical
    to the plain window in every regime: giant stratum, tiny strata,
    strata smaller than n, NULL strata, and a forced hash-unlucky
    fallback."""

    def _parity(self, spark, pdf, n, **kw):
        from pyshp_spark.operators.sample import (  # noqa: PLC0415
            stratified_sample_n,
        )

        df = spark.createDataFrame(pdf)
        a = (
            stratified_sample_n(df, "lang", n, "doc_id", prefilter=False, **kw)
            .toPandas()
            .sort_values(["lang", "doc_id"])
            .reset_index(drop=True)
        )
        b = (
            stratified_sample_n(df, "lang", n, "doc_id", prefilter=True, **kw)
            .toPandas()
            .sort_values(["lang", "doc_id"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
        return a

    def test_giant_plus_tiny_plus_null_strata(self, spark):
        import numpy as np  # noqa: PLC0415

        rng = np.random.default_rng(4)
        langs = (
            ["en"] * 20_000          # giant stratum
            + ["fr"] * 300           # normal
            + ["xx"] * 3             # smaller than n
            + [None] * 50            # null stratum
        )
        pdf = pd.DataFrame(
            {
                "doc_id": rng.permutation(len(langs)).astype("int64"),
                "lang": langs,
            }
        )
        out = self._parity(spark, pdf, n=20)
        sizes = out.fillna({"lang": "<null>"}).groupby("lang").size()
        assert sizes["en"] == 20 and sizes["fr"] == 20
        assert sizes["xx"] == 3 and sizes["<null>"] == 20

    def test_forced_fallback_is_exact(self, spark):
        """oversample=2 with tiny n makes hash-unlucky strata likely
        across many strata; the fallback must keep the result exact."""
        import numpy as np  # noqa: PLC0415

        rng = np.random.default_rng(8)
        pdf = pd.DataFrame(
            {
                "doc_id": rng.permutation(30_000).astype("int64"),
                "lang": [f"l{i % 40}" for i in range(30_000)],
            }
        )
        out = self._parity(spark, pdf, n=2, oversample=2)
        assert (out.groupby("lang").size() == 2).all()


class TestReviewRegressions:
    def test_zero_survivor_stratum_falls_back(self, spark):
        """A stratum whose keys ALL hash above the prefilter threshold
        must still deliver its n rows via the fallback path (it never
        appears in pre's groups, so the shortfall check must start
        from the counts frame)."""
        from pyshp_spark.operators.sample import (  # noqa: PLC0415
            stratified_sample_n,
        )

        unlucky = [1, 13, 14, 26, 27, 39, 40, 52, 65]
        pdf = pd.DataFrame(
            {
                "doc_id": unlucky + list(range(1000, 1400)),
                "lang": ["bad"] * len(unlucky) + ["big"] * 400,
            }
        )
        df = spark.createDataFrame(pdf)
        a = (
            stratified_sample_n(
                df, "lang", 2, "doc_id", hash="knuth", prefilter=False
            )
            .toPandas()
            .sort_values(["lang", "doc_id"])
            .reset_index(drop=True)
        )
        b = (
            stratified_sample_n(
                df, "lang", 2, "doc_id", hash="knuth", prefilter=True,
                oversample=4,
            )
            .toPandas()
            .sort_values(["lang", "doc_id"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
        assert (b.groupby("lang").size() == 2).all()

    def test_json_extract_trailing_newline_parity(self, spark, tmp_path):
        """'7\\n' must be NULL on BOTH engines (Java $ matches before a
        final newline; \\z does not)."""
        import duckdb  # noqa: PLC0415
        import json  # noqa: PLC0415

        import __spark_entry__ as entry  # noqa: PLC0415

        pdf = pd.DataFrame(
            {
                "event_id": [0, 1],
                "props": [json.dumps({"k": "7\n"}), json.dumps({"k": "7"})],
            }
        )
        sf = tmp_path / "sf"
        sf.mkdir()
        spark.createDataFrame(pdf).write.parquet(str(sf / "events.parquet"))
        got = (
            entry.q_json_extract(spark, str(sf))
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("events", pdf)
        want = (
            con.execute(entry.oracle_sql()["json_extract"])
            .df()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        assert pd.isna(got.k[0]) and pd.isna(want.k[0])
        assert got.k[1] == 7 and want.k[1] == 7

    def test_interval_salt_tolerates_map_columns(self, spark):
        """salt_k must not fail analysis when the events frame carries
        an unhashable (MAP) column."""
        from pyshp_spark.operators.temporal import interval_join  # noqa: PLC0415

        ev = spark.createDataFrame(
            pd.DataFrame(
                {
                    "event_id": [1, 2],
                    "ts": pd.to_datetime([100, 700], unit="s"),
                    "attrs": [{"a": "1"}, {"b": "2"}],
                }
            )
        )
        iv = spark.createDataFrame(
            pd.DataFrame(
                {"iv_id": [1], "start_us": [0], "end_us": [600 * 1_000_000]}
            )
        )
        out = interval_join(ev, iv, salt_k=4).select("event_id", "iv_id")
        rows = sorted(r.event_id for r in out.collect())
        assert rows == [1]


class TestZonalStats:
    def test_matches_manual_aggregation(self, spark):
        from pyshp_spark.fixtures.images import images_fixture  # noqa: PLC0415
        from pyshp_spark.fixtures.polygons import (  # noqa: PLC0415
            fixture_shapefile_bytes,
        )
        from pyshp_spark.operators.spatial import (  # noqa: PLC0415
            point_in_polygon_join,
            zonal_stats,
        )
        from pyshp_spark.sources.shapefile import parse_shp_bytes  # noqa: PLC0415

        shp, _, _ = fixture_shapefile_bytes(n=15, seed=21)
        polys = spark.createDataFrame(
            parse_shp_bytes(shp)[["oid", "wkb", "xmin", "ymin", "xmax", "ymax"]]
        )
        pts_pdf = images_fixture(n=300, seed=3)[["image_id", "lon", "lat"]]
        pts_pdf["val"] = (pts_pdf.index.to_numpy() % 97).astype("int64")
        pts = spark.createDataFrame(pts_pdf)
        zs = (
            zonal_stats(
                pts, polys, value_cols=["val"], x="lon", y="lat",
                polygon_cols=["oid"],
            )
            .toPandas()
            .sort_values("oid")
            .reset_index(drop=True)
        )
        joined = point_in_polygon_join(
            pts, polys, x="lon", y="lat", polygon_cols=["oid"]
        ).toPandas()
        want = (
            joined.groupby("oid")
            .val.agg(["size", "sum", "min", "max", "mean"])
            .reset_index()
            .sort_values("oid")
            .reset_index(drop=True)
        )
        assert (zs.oid.to_numpy() == want.oid.to_numpy()).all()
        assert (zs.n_points.to_numpy() == want["size"].to_numpy()).all()
        assert (zs.val_sum.to_numpy() == want["sum"].to_numpy()).all()
        assert (zs.val_min.to_numpy() == want["min"].to_numpy()).all()
        assert (zs.val_max.to_numpy() == want["max"].to_numpy()).all()
        assert zs.val_avg.to_numpy() == pytest.approx(
            want["mean"].to_numpy()
        )


class TestReviewRegressions2:
    def test_prefilter_null_keys_parity(self, spark):
        """NULL keys hash to NULL under knuth; they sort FIRST in the
        window, so the prefilter path must pass them through rather
        than dropping them on a NULL comparison."""
        from pyshp_spark.operators.sample import (  # noqa: PLC0415
            stratified_sample_n,
        )

        pdf = pd.DataFrame(
            {
                "doc_id": pd.array(
                    [None, None, None] + list(range(2000)), dtype="Int64"
                ),
                "lang": ["en"] * 2003,
            }
        )
        df = spark.createDataFrame(pdf)
        a = (
            stratified_sample_n(
                df, "lang", 10, "doc_id", hash="knuth", prefilter=False
            )
            .toPandas()
            .sort_values("doc_id", na_position="first")
            .reset_index(drop=True)
        )
        b = (
            stratified_sample_n(
                df, "lang", 10, "doc_id", hash="knuth", prefilter=True
            )
            .toPandas()
            .sort_values("doc_id", na_position="first")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
        assert b.doc_id.isna().sum() == 3  # NULLS FIRST rows kept

    def test_jaccard_chunking_values_stable(self, spark):
        """Chunked pair processing must give the same jaccard values as
        unchunked (forced by many pairs sharing a fat doc)."""
        import numpy as np  # noqa: PLC0415

        from pyshp_spark.operators.dedup import (  # noqa: PLC0415
            shingles,
            true_jaccard_udf,
        )

        rng = np.random.default_rng(13)
        words = [f"w{i}" for i in range(500)]
        fat = " ".join(rng.choice(words, size=3000))
        pairs = pd.DataFrame(
            {
                "ta": [fat] * 300,
                "tb": [
                    " ".join(rng.choice(words, size=rng.integers(10, 60)))
                    for _ in range(300)
                ],
            }
        )
        df = spark.createDataFrame(pairs)
        out = df.select(
            true_jaccard_udf(3)("ta", "tb").alias("j")
        ).toPandas()
        sa = shingles(fat, 3)
        for i in range(0, 300, 37):
            sb = shingles(pairs.tb[i], 3)
            u = len(sa | sb)
            expect = len(sa & sb) / u if u else 0.0
            assert out.j[i] == pytest.approx(expect, abs=1e-9)

    def test_interval_salt_uses_array_columns(self, spark):
        """Array columns must contribute salt entropy (only maps are
        excluded): same-timestamp events with distinct array payloads
        spread across salt slots."""
        from pyshp_spark.operators.temporal import interval_join  # noqa: PLC0415

        ev = spark.createDataFrame(
            pd.DataFrame(
                {
                    "ts": pd.to_datetime([100] * 64, unit="s"),
                    "tags": [[f"t{i}"] for i in range(64)],
                }
            )
        )
        iv = spark.createDataFrame(
            pd.DataFrame(
                {"iv_id": [1], "start_us": [0], "end_us": [600 * 1_000_000]}
            )
        )
        out = interval_join(ev, iv, salt_k=8)
        assert out.count() == 64
        # distinct array payloads at one timestamp -> multiple salts
        pre = ev.withColumn("__pt_us", F.unix_micros("ts"))
        from pyspark.sql import functions as SF  # noqa: PLC0415

        n_salts = (
            pre.select(
                SF.pmod(
                    SF.xxhash64("__pt_us", "tags"), SF.lit(8)
                ).alias("s")
            )
            .distinct()
            .count()
        )
        assert n_salts > 1


class TestRingSamplePoints:
    def test_sample_matches_kernel_per_row(self, spark):
        """with_ring_sample must equal the scalar kernel on every
        polygon, including multipart/fixture shapes."""
        from pyshp_spark.fixtures.polygons import (  # noqa: PLC0415
            fixture_shapefile_bytes,
        )
        from pyshp_spark.kernels.rings import is_cw, ring_sample  # noqa: PLC0415
        from pyshp_spark.kernels.wkb import wkb_rings  # noqa: PLC0415
        from pyshp_spark.operators.geometry import (  # noqa: PLC0415
            with_ring_sample,
        )
        from pyshp_spark.sources.shapefile import parse_shp_bytes  # noqa: PLC0415

        shp, _, _ = fixture_shapefile_bytes(n=25, seed=5)
        pdf = parse_shp_bytes(shp)[["oid", "wkb"]]
        got = (
            with_ring_sample(spark.createDataFrame(pdf))
            .toPandas()
            .sort_values("oid")
            .reset_index(drop=True)
        )
        for row in got.itertuples():
            ring = wkb_rings(bytes(row.wkb))[0]
            ex, ey = ring_sample(ring, ccw=not is_cw(ring))
            assert row.sx == ex and row.sy == ey, row.oid
