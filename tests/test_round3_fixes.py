"""Round-3 fixes: dbf writer data-loss modes, encodingErrors
pass-through, data source schema union, the executor-parsed stream
reader, and the de-amplified MinHash band join."""

import glob
import io
import os
import time
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyshp_spark.sources.shapefile import parse_dbf_bytes
from pyshp_spark.sources.shp_writer import (
    DbfStringDataLoss,
    PossibleDataLoss,
    write_dbf,
    write_shp,
)

FIXDIR = "/root/reference/tests/shapefiles"


@pytest.fixture(scope="module", autouse=True)
def register(spark):
    from pyshp_spark.sources.datasource import ShapefileDataSource  # noqa: PLC0415

    spark.dataSource.register(ShapefileDataSource)


def _read(path):
    with open(path, "rb") as f:
        return f.read()


class TestDbfDataLossModes:
    FIELDS = [("NAME", "C", 6, 0), ("NUM", "N", 4, 0)]

    def test_default_warns_and_truncates_string(self, ref_shapefile):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            dbf = write_dbf(self.FIELDS, [["abcdefgh", 12]])
        assert any(issubclass(x.category, PossibleDataLoss) for x in w)
        r = ref_shapefile.Reader(
            dbf=io.BytesIO(dbf), shp=None, shx=None
        )
        rec = r.record(0)
        assert rec[0] == "abcdef"  # truncated to field width
        assert rec[1] == 12

    def test_strict_raises_on_string_truncation(self):
        with pytest.raises(DbfStringDataLoss):
            write_dbf(self.FIELDS, [["abcdefgh", 12]], strict=True)

    def test_default_warns_and_caps_numeric(self, ref_shapefile):
        # reference caps the formatted number at the field width
        # (sf.py:4421-4428); we add a PossibleDataLoss warning on top
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            dbf = write_dbf(self.FIELDS, [["ok", 123456]])
        assert any(issubclass(x.category, PossibleDataLoss) for x in w)
        r = ref_shapefile.Reader(dbf=io.BytesIO(dbf), shp=None, shx=None)
        assert r.record(0)[1] == 1234  # reference cap semantics

    def test_strict_raises_on_numeric_overflow(self):
        with pytest.raises(DbfStringDataLoss):
            write_dbf(self.FIELDS, [["ok", 123456]], strict=True)

    def test_utf8_boundary_truncation_still_reference_readable(
        self, ref_shapefile
    ):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            dbf = write_dbf(self.FIELDS, [["abcdéf", 1]])
        r = ref_shapefile.Reader(dbf=io.BytesIO(dbf), shp=None, shx=None)
        # reference's conservative cut (sf.py:254-283): the scan stops
        # at the last UTF-8 START byte below size and cuts BEFORE it,
        # so 'é' is dropped even though 'abcdé' would fit 6 bytes
        assert r.record(0)[0] == "abcd"


class TestEncodingErrorsPassThrough:
    def test_replace_mode_matches_reference(self, ref_shapefile):
        """latin1 fixture decoded as ascii with errors='replace' must
        match the reference reader byte-for-byte (sf.py:493-517)."""
        shp = _read(f"{FIXDIR}/latin1.shp")
        dbf = _read(f"{FIXDIR}/latin1.dbf")
        ours = parse_dbf_bytes(dbf, encoding="ascii", encoding_errors="replace")
        ref = ref_shapefile.Reader(
            shp=io.BytesIO(shp), dbf=io.BytesIO(dbf),
            encoding="ascii", encodingErrors="replace",
        )
        want = [tuple(r) for r in ref.records()]
        got = [tuple(r) for r in ours.drop(columns=["oid"]).itertuples(index=False)]
        assert got == want

    def test_datasource_option(self, spark, tmp_path, ref_shapefile):
        d = tmp_path / "enc"
        d.mkdir()
        for ext in ("shp", "dbf"):  # fixture has no .shx; reader scans
            with open(d / f"latin1.{ext}", "wb") as f:
                f.write(_read(f"{FIXDIR}/latin1.{ext}"))
        df = (
            spark.read.format("shapefile")
            .option("encoding", "ascii")
            .option("encodingErrors", "replace")
            .load(str(d))
        )
        ref = ref_shapefile.Reader(
            shp=io.BytesIO(_read(f"{FIXDIR}/latin1.shp")),
            dbf=io.BytesIO(_read(f"{FIXDIR}/latin1.dbf")),
            encoding="ascii", encodingErrors="replace",
        )
        want = {tuple(r) for r in ref.records()}
        attr_cols = [c for c in df.columns if c not in (
            "src", "oid", "shape_type", "wkb", "xmin", "ymin", "xmax", "ymax",
            "num_parts", "num_points", "z", "m", "part_types",
        )]
        got = {tuple(r) for r in df.select(*attr_cols).collect()}
        assert got == want


def _two_file_dir(tmp_path, name="union"):
    """File A: field ONLY_A; file B: fields ONLY_A?, no — B adds ONLY_B."""
    d = tmp_path / name
    d.mkdir()
    shp, shx = write_shp([(1, (10.0, 20.0), None, None, None)])
    dbf_a = write_dbf([("COMMON", "N", 8, 0)], [[1]])
    dbf_b = write_dbf(
        [("COMMON", "N", 8, 0), ("ONLY_B", "C", 10, 0)], [[2, "hello"]]
    )
    for base, dbf in (("a", dbf_a), ("b", dbf_b)):
        with open(d / f"{base}.shp", "wb") as f:
            f.write(shp)
        with open(d / f"{base}.shx", "wb") as f:
            f.write(shx)
        with open(d / f"{base}.dbf", "wb") as f:
            f.write(dbf)
    return d


class TestSchemaUnion:
    def test_later_file_columns_survive(self, spark, tmp_path):
        d = _two_file_dir(tmp_path)
        df = spark.read.format("shapefile").load(str(d))
        assert "ONLY_B" in df.columns
        rows = {os.path.basename(r.src): r for r in df.collect()}
        assert rows["a.shp"].ONLY_B is None
        assert rows["b.shp"].ONLY_B == "hello"
        assert rows["a.shp"].COMMON == 1 and rows["b.shp"].COMMON == 2

    def test_bbox_option_does_not_degrade_schema(self, spark, tmp_path):
        d = _two_file_dir(tmp_path, "bboxed")
        # bbox far away: zero rows, but the schema must keep real dtypes
        df = (
            spark.read.format("shapefile")
            .option("bbox", "1000,1000,1001,1001")
            .load(str(d))
        )
        assert df.count() == 0
        assert dict(df.dtypes)["COMMON"] == "bigint"


def _wait_rows(spark, table, want, timeout=120):
    t0 = time.time()
    while time.time() - t0 < timeout:
        n = spark.sql(f"SELECT count(*) AS n FROM {table}").first().n
        if n >= want:
            return n
        time.sleep(1)
    return spark.sql(f"SELECT count(*) AS n FROM {table}").first().n


class TestParallelStream:
    def _mk_file(self, d, base, val):
        shp, shx = write_shp([(1, (float(val), float(val)), None, None, None)])
        dbf = write_dbf([("V", "N", 8, 0)], [[val]])
        # .shp LAST: discovery keys on *.shp and each file is picked up
        # exactly once, so a micro-batch landing between the .shp and
        # .dbf writes would permanently capture V as NULL (observed as
        # a flake under heavy host contention).  The .shp itself lands
        # via rename (POSIX-atomic), closing the remaining window where
        # discovery globs a HALF-WRITTEN .shp mid-write and the parse
        # error kills the query — the same write-then-rename convention
        # Spark's own FileStreamSource expects of landing directories.
        for ext, data in (("dbf", dbf), ("shx", shx)):
            with open(d / f"{base}.{ext}", "wb") as f:
                f.write(data)
        tmp = d / f".{base}.shp.tmp"
        with open(tmp, "wb") as f:
            f.write(shp)
        os.rename(tmp, d / f"{base}.shp")

    def test_stream_picks_up_files_once(self, spark, tmp_path):
        d = tmp_path / "land"
        d.mkdir()
        self._mk_file(d, "f1", 1)
        name = "shp_stream_r3"
        q = (
            spark.readStream.format("shapefile")
            .load(str(d))
            .writeStream.format("memory")
            .queryName(name)
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            assert _wait_rows(spark, name, 1) == 1
            self._mk_file(d, "f2", 2)
            self._mk_file(d, "f3", 3)
            assert _wait_rows(spark, name, 3) == 3
            vals = sorted(r.V for r in spark.sql(f"SELECT V FROM {name}").collect())
            assert vals == [1, 2, 3]
        finally:
            q.stop()

    def test_stream_file_without_dbf_yields_nulls(self, spark, tmp_path):
        d = tmp_path / "land_nodbf"
        d.mkdir()
        self._mk_file(d, "f1", 1)
        name = "shp_stream_r3_nodbf"
        q = (
            spark.readStream.format("shapefile")
            .load(str(d))
            .writeStream.format("memory")
            .queryName(name)
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            assert _wait_rows(spark, name, 1) == 1
            # new file WITHOUT a sibling .dbf: V must come back null
            # instead of killing the query (round-2 ADVICE)
            shp, shx = write_shp([(1, (9.0, 9.0), None, None, None)])
            with open(d / "f2.shx", "wb") as f:
                f.write(shx)
            # .shp via rename: atomic landing (see _mk_file)
            with open(d / ".f2.shp.tmp", "wb") as f:
                f.write(shp)
            os.rename(d / ".f2.shp.tmp", d / "f2.shp")
            assert _wait_rows(spark, name, 2) == 2
            assert q.exception() is None
            rows = {r.V for r in spark.sql(f"SELECT V FROM {name}").collect()}
            assert rows == {1, None}
        finally:
            q.stop()


class TestMixedDirTypedNulls:
    def test_missing_dbf_yields_typed_nulls_for_all_dbf_types(
        self, spark, tmp_path
    ):
        """First file declares D/L/N/C fields; second file has NO .dbf —
        its rows must surface typed nulls (reindexed float-NaN columns
        previously crashed the arrow cast for date/bool targets)."""
        import datetime as dt  # noqa: PLC0415

        d = tmp_path / "mixed_typed"
        d.mkdir()
        shp, shx = write_shp([(1, (1.0, 2.0), None, None, None)])
        dbf = write_dbf(
            [("N0", "N", 8, 0), ("D0", "D", 8, 0), ("L0", "L", 1, 0),
             ("C0", "C", 10, 0)],
            [[7, dt.date(2020, 5, 17), True, "hi"]],
        )
        for base, with_dbf in (("a", True), ("b", False)):
            with open(d / f"{base}.shp", "wb") as f:
                f.write(shp)
            with open(d / f"{base}.shx", "wb") as f:
                f.write(shx)
            if with_dbf:
                with open(d / f"{base}.dbf", "wb") as f:
                    f.write(dbf)
        df = spark.read.format("shapefile").load(str(d))
        rows = {os.path.basename(r.src): r for r in df.collect()}
        a, b = rows["a.shp"], rows["b.shp"]
        assert (a.N0, a.D0, a.L0, a.C0) == (7, dt.date(2020, 5, 17), True, "hi")
        assert (b.N0, b.D0, b.L0, b.C0) == (None, None, None, None)


class TestNeardupClusters:
    def test_connected_components_min_label(self, spark):
        import pandas as pd  # noqa: PLC0415

        from pyshp_spark.operators.dedup import (  # noqa: PLC0415
            connected_components,
            neardup_keepers,
        )

        # components: {1,2,3,9} (chain 1-2, 2-3, 3-9), {5,6}, {7} isolated
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": [1, 2, 3, 5], "id_b": [2, 3, 9, 6]})
        )
        cc = {r.id: r.root for r in connected_components(pairs).collect()}
        assert cc == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3, 5, 6, 7, 9]})
        )
        out = {r.doc_id: (r.keeper_id, r.is_dup)
               for r in neardup_keepers(docs, pairs).collect()}
        assert out == {
            1: (1, False), 2: (1, True), 3: (1, True), 9: (1, True),
            5: (5, False), 6: (5, True), 7: (7, False),
        }

    def test_long_chain_converges(self, spark):
        import pandas as pd  # noqa: PLC0415

        from pyshp_spark.operators.dedup import connected_components  # noqa: PLC0415

        n = 12  # diameter 11: well within the default round budget
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)})
        )
        cc = {r.id: r.root for r in connected_components(pairs).collect()}
        assert cc == {i: 0 for i in range(n)}


class TestReviewFixes:
    """Round-3 self-review findings, each pinned."""

    def test_hash64_long_item_no_padded_blowup(self):
        from pyshp_spark.operators.dedup import _hash64, _hash64_np

        # one 64 kB token among short ones: scalar path for the long
        # item, vectorized for the rest — identical values, bounded RAM
        items = [b"short%d" % i for i in range(1000)]
        items[500] = b"x" * 65536
        items[0] = b""
        got = _hash64_np(items)
        for i in (0, 1, 499, 500, 501, 999):
            assert int(got[i]) == _hash64(items[i]), i

    def test_round6_matches_spark_round_on_ties(self, spark):
        import pandas as pd  # noqa: PLC0415

        from pyshp_spark.operators.similarity import _round6  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        vals = [2.5e-6, -2.5e-6, 3.5e-6, 1.0000005, 0.1234565,
                0.9999995, 0.123456499999, 7.0000004999]
        df = spark.createDataFrame(pd.DataFrame({"v": vals}))
        want = [r.r for r in df.select(F.round("v", 6).alias("r")).collect()]
        got = list(_round6(np.array(vals)))
        assert got == want

    def test_lsh_probe_bits_3_matches_sql_mirror(self, spark):
        from pyshp_spark.operators.similarity import lsh_ann_sql, lsh_topk  # noqa: PLC0415

        import duckdb  # noqa: PLC0415

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        queries = emb.where((F.col("vec_id") % 100) == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = sorted(
            (r.query_id, r.vec_id, r.rank)
            for r in lsh_topk(
                queries, emb, k=3, dim=64, n_planes=6, probe_bits=3,
                int_planes=True,
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            "'/root/testdata/sf0.001/embeddings.parquet'"
        )
        want = sorted(
            (r[0], r[1], r[3])
            for r in con.execute(
                lsh_ann_sql("embeddings", "(vec_id % 100) = 0", k=3, dim=64,
                            n_planes=6, probe_bits=3)
            ).fetchall()
        )
        assert got == want

    def test_kmeans_small_corpus(self, spark):
        import pandas as pd  # noqa: PLC0415

        from pyshp_spark.operators.similarity import kmeans_centroids  # noqa: PLC0415

        rng = np.random.default_rng(2)
        pdf = pd.DataFrame(
            {
                "vec_id": range(5),
                "embedding": [rng.standard_normal(8).astype(np.float32).tolist()
                              for _ in range(5)],
            }
        )
        cent = kmeans_centroids(spark.createDataFrame(pdf), k=16, iters=2)
        assert cent.shape == (5, 8)  # clamped to corpus size, no crash

    def test_empty_first_file_keeps_date_type(self, spark, tmp_path):
        import datetime as dt  # noqa: PLC0415

        d = tmp_path / "empty_first"
        d.mkdir()
        empty_shp, empty_shx = write_shp([])
        empty_dbf = write_dbf([("D0", "D", 8, 0)], [])
        shp, shx = write_shp([(1, (1.0, 2.0), None, None, None)])
        dbf = write_dbf([("D0", "D", 8, 0)], [[dt.date(2021, 3, 4)]])
        # "a" sorts first and has ZERO rows: the D column must still
        # infer as date (descriptor-typed), not degrade to string
        for base, s3, x3, d3 in (("a", empty_shp, empty_shx, empty_dbf),
                                 ("b", shp, shx, dbf)):
            for ext, data in (("shp", s3), ("shx", x3), ("dbf", d3)):
                with open(d / f"{base}.{ext}", "wb") as f:
                    f.write(data)
        df = spark.read.format("shapefile").load(str(d))
        assert dict(df.dtypes)["D0"] == "date"
        rows = df.collect()
        assert len(rows) == 1 and rows[0].D0 == dt.date(2021, 3, 4)


class TestMinhashShuffleShape:
    def test_band_exchange_carries_no_text(self, spark):
        """The band equi-join must shuffle (id, band, band_sig) only —
        round 2 shipped 16 copies of every document through it."""
        import pandas as pd  # noqa: PLC0415

        from pyshp_spark.operators.dedup import minhash_dedup_pairs  # noqa: PLC0415

        pdf = pd.DataFrame(
            {"doc_id": range(40), "text": [f"some text number {i} " * 5 for i in range(40)]}
        )
        df = spark.createDataFrame(pdf)
        out = minhash_dedup_pairs(df, threshold=0.5, checkpoint=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
        assert exchange_lines, "expected at least one exchange in the plan"
        assert not any("__txt" in l for l in exchange_lines)
