"""Training-data pipeline operators: dedup, similarity, text, multimodal.

Oracles are exact single-node Python recomputations (sets/numpy) over
the same inputs — no Spark on the oracle side.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyshp_spark.fixtures.images import images_fixture
from pyshp_spark.kernels.image import decode_image
from pyshp_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    minhash_udf,
    shingles,
    simhash_dedup_pairs,
    token_jaccard_pairs,
)
from pyshp_spark.operators.multimodal import (
    phash_dedup_pairs,
    with_image_stats,
)
from pyshp_spark.operators.similarity import (
    cosine_topk_brute,
    embedding_dedup_pairs,
    lsh_topk,
)
from pyshp_spark.operators.text import (
    fingerprint64,
    with_fingerprint,
    with_lang_id,
    with_text_quality,
)

from oracles import minhash_signature_py, psnr, simhash64_py

WORDS = (
    "the quick brown fox jumps over lazy dog and runs through green fields "
    "near la casa del rio que es muy grande y los arboles son altos "
    "le chat est dans la maison et les oiseaux du jardin"
).split()


@pytest.fixture(scope="module")
def docs_pdf():
    rng = np.random.default_rng(11)
    rows = []
    for i in range(120):
        n = int(rng.integers(5, 30))
        text = " ".join(rng.choice(WORDS, size=n))
        rows.append({"doc_id": i, "text": text})
    # exact duplicates
    rows.append({"doc_id": 500, "text": rows[0]["text"]})
    rows.append({"doc_id": 501, "text": rows[1]["text"]})
    # near duplicate (one word changed)
    toks = rows[2]["text"].split()
    toks[len(toks) // 2] = "changed"
    rows.append({"doc_id": 502, "text": " ".join(toks)})
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def docs_df(spark, docs_pdf):
    return spark.createDataFrame(docs_pdf).cache()


class TestExactDedup:
    def test_groups(self, docs_df, docs_pdf):
        out = exact_dedup(docs_df).collect()
        by_text = docs_pdf.assign(norm=docs_pdf.text.str.lower().str.strip()).groupby("norm")
        want = {
            (int(g.doc_id.min()), len(g)) for _, g in by_text
        }
        got = {(r.keeper_id, r.dup_count) for r in out}
        assert got == want
        assert max(r.dup_count for r in out) == 2  # the injected dups


class TestTokenJaccard:
    def test_matches_python_oracle(self, docs_df, docs_pdf):
        out = token_jaccard_pairs(docs_df, threshold=0.8).collect()
        # oracle
        sets = {
            int(r.doc_id): set(r.text.lower().split())
            for r in docs_pdf.itertuples(index=False)
        }
        want = set()
        ids = sorted(sets)
        for i_pos, a in enumerate(ids):
            for b in ids[i_pos + 1 :]:
                inter = len(sets[a] & sets[b])
                if inter == 0:
                    continue
                j = inter / len(sets[a] | sets[b])
                if round(j, 6) >= 0.8:
                    want.add((a, b))
        got = {(r.id_a, r.id_b) for r in out}
        assert got == want
        assert (0, 500) in got  # exact dup pair has jaccard 1.0


class TestMinHash:
    def test_udf_matches_python(self, spark, docs_df, docs_pdf):
        sig_df = docs_df.select(
            "doc_id", minhash_udf()(F.col("text")).alias("sig")
        ).collect()
        for row in sig_df[:20]:
            text = docs_pdf.loc[docs_pdf.doc_id == row.doc_id, "text"].iloc[0]
            np.testing.assert_array_equal(
                np.array(row.sig), minhash_signature_py(text)
            )

    def test_finds_near_dups(self, docs_df):
        out = minhash_dedup_pairs(docs_df, threshold=0.5).collect()
        pairs = {(r.id_a, r.id_b) for r in out}
        assert (0, 500) in pairs and (1, 501) in pairs  # exact dups
        assert (2, 502) in pairs  # near dup
        for r in out:
            assert r.jaccard >= 0.5

    def test_no_false_positives(self, docs_df, docs_pdf):
        out = minhash_dedup_pairs(docs_df, threshold=0.3).collect()
        for r in out:
            ta = docs_pdf.loc[docs_pdf.doc_id == r.id_a, "text"].iloc[0]
            tb = docs_pdf.loc[docs_pdf.doc_id == r.id_b, "text"].iloc[0]
            sa, sb = shingles(ta), shingles(tb)
            assert round(len(sa & sb) / len(sa | sb), 6) == r.jaccard


class TestSimHash:
    def test_exact_dups_have_zero_distance(self, docs_df):
        out = simhash_dedup_pairs(docs_df, max_hamming=3).collect()
        pairs = {(r.id_a, r.id_b): r.hamming for r in out}
        assert pairs.get((0, 500)) == 0
        assert pairs.get((1, 501)) == 0

    def test_udf_matches_python(self, docs_pdf):
        # direct kernel check
        t = docs_pdf.text.iloc[0]
        assert simhash64_py(t) == simhash64_py(t)
        assert simhash64_py(t) != simhash64_py(docs_pdf.text.iloc[5])


class TestTextOps:
    def test_quality_columns(self, docs_df, docs_pdf):
        out = with_text_quality(docs_df).orderBy("doc_id").limit(5).collect()
        for r in out:
            text = docs_pdf.loc[docs_pdf.doc_id == r.doc_id, "text"].iloc[0]
            assert r.n_chars_q == len(text)
            assert r.n_tokens == len(text.split())

    def test_lang_id_spanish_vs_english(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3],
                    "text": [
                        "the cat is in the house and the dog was out",
                        "la casa de los arboles que se ven en el rio",
                        "zzz qqq xxx",
                    ],
                }
            )
        )
        got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
        assert got == {1: "en", 2: "es", 3: "unknown"}

    def test_topk_terms_hand_case(self, spark):
        from pyshp_spark.operators.text import topk_terms  # noqa: PLC0415

        # "rare" appears only in doc 1 (df=1); "common" in both (df=2):
        # tf/df must rank rare above common even at equal tf
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2],
                    "text": ["rare rare common common", "common other other other"],
                }
            )
        )
        out = topk_terms(df, k=1).collect()
        got = {r.doc_id: (r.term, r.tf, r.df, r.score) for r in out}
        assert got[1] == ("rare", 2, 1, 2_000_000)
        assert got[2] == ("other", 3, 1, 3_000_000)

    def test_topk_terms_broadcast_off_parity(self, docs_df):
        from pyshp_spark.operators.text import topk_terms  # noqa: PLC0415

        sub = docs_df.limit(40)
        a = {tuple(r) for r in topk_terms(sub, k=3).collect()}
        b = {tuple(r) for r in topk_terms(sub, k=3, broadcast_df=False).collect()}
        assert a == b and len(a) > 0

    def test_fingerprint_deterministic(self, docs_df):
        out1 = with_fingerprint(docs_df).orderBy("doc_id").limit(10).collect()
        texts = pd.Series([r.text for r in out1])
        np.testing.assert_array_equal(
            fingerprint64(texts).to_numpy(), np.array([r.fp64 for r in out1])
        )


@pytest.fixture(scope="module")
def emb_df(spark):
    path = "/root/testdata/sf0.001/embeddings.parquet"
    return spark.read.parquet(path).cache()


class TestSimilarity:
    def test_brute_topk_is_exact(self, spark, emb_df):
        pdf = emb_df.limit(200).toPandas()
        queries = spark.createDataFrame(pdf.head(5)[["vec_id", "embedding"]]).withColumnRenamed(
            "vec_id", "query_id"
        )
        corpus = spark.createDataFrame(pdf[["vec_id", "embedding"]])
        out = cosine_topk_brute(queries, corpus, k=3).collect()
        # numpy oracle
        m = np.vstack(pdf.embedding.map(lambda v: np.asarray(v, dtype=np.float64)))
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        ids = pdf.vec_id.to_numpy()
        for qi in range(5):
            cos = np.round(mn[qi] @ mn.T, 6)
            order = sorted(zip(-cos, ids))[:3]
            want = [int(i) for _, i in order]
            got = [
                r.vec_id
                for r in sorted(
                    [r for r in out if r.query_id == ids[qi]], key=lambda r: r.rank
                )
            ]
            assert got == want

    def test_lsh_recall(self, spark, emb_df):
        pdf = emb_df.limit(400).toPandas()
        dim = len(pdf.embedding.iloc[0])
        queries = spark.createDataFrame(pdf.head(20)[["vec_id", "embedding"]]).withColumnRenamed(
            "vec_id", "query_id"
        )
        corpus = spark.createDataFrame(pdf[["vec_id", "embedding"]])
        brute = cosine_topk_brute(queries, corpus, k=5).collect()
        approx = lsh_topk(queries, corpus, k=5, dim=dim, n_planes=6, probe_bits=2).collect()
        bset = {(r.query_id, r.vec_id) for r in brute}
        aset = {(r.query_id, r.vec_id) for r in approx}
        recall = len(bset & aset) / len(bset)
        # random high-dim embeddings are the worst case for hyperplane
        # LSH (top-k cosines are small); seeded, generous bound
        assert recall >= 0.4
        # self-match always found
        assert all((q, q) in aset for q in pdf.head(20).vec_id)

    def test_embedding_dedup_self_similarity(self, spark, emb_df):
        pdf = emb_df.limit(100).toPandas()
        dup = pdf.head(3).copy()
        dup["vec_id"] = dup["vec_id"] + 100000
        both = pd.concat([pdf, dup])
        df = spark.createDataFrame(both)
        dim = len(pdf.embedding.iloc[0])
        out = embedding_dedup_pairs(df, tau=0.999999, dim=dim).collect()
        got = {(r.id_a, r.id_b) for r in out}
        for v in dup.vec_id:
            assert (int(v) - 100000, int(v)) in got


class TestMultimodal:
    def test_image_stats_and_phash(self, spark):
        pdf = images_fixture(n=40, seed=3)
        df = spark.createDataFrame(pdf)
        out = with_image_stats(df).collect()
        assert len(out) == 40
        for r in out:
            assert r.phash_check == next(
                int(p) for i, p in zip(pdf.image_id, pdf.phash) if i == r.image_id
            )
            assert 0 <= r.mean_r <= 255

    def test_png_roundtrip_psnr(self):
        pdf = images_fixture(n=10, seed=3, png_every=1)
        for row in pdf.itertuples(index=False):
            rgb = decode_image(row.bytes, row.w, row.h, row.fmt)
            ref_rng = np.random.default_rng(3 * 1_000_003 + int(row.image_id[4:]))
            want = ref_rng.integers(0, 256, size=(row.h, row.w, 3), dtype=np.uint8)
            assert psnr(rgb, want) == float("inf")  # lossless codec

    def test_phash_pairs_on_duplicates(self, spark):
        pdf = images_fixture(n=30, seed=3)
        dup = pdf.head(2).copy()
        dup["image_id"] = dup["image_id"] + "_copy"
        df = spark.createDataFrame(pd.concat([pdf, dup]))
        out = phash_dedup_pairs(df, max_hamming=0).collect()
        got = {(r.id_a, r.id_b) for r in out}
        for i in pdf.head(2).image_id:
            assert (i, i + "_copy") in got


class TestIvfAnn:
    def test_ivf_recall_and_exactness_within_probed_lists(self, spark):
        import pandas as pd  # noqa: PLC0415

        from pyshp_spark.operators.similarity import (  # noqa: PLC0415
            cosine_topk_brute,
            ivf_topk,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet"
        ).limit(400)
        pdf = emb.toPandas()
        queries = spark.createDataFrame(
            pdf.head(20)[["vec_id", "embedding"]]
        ).withColumnRenamed("vec_id", "query_id")
        corpus = spark.createDataFrame(pdf[["vec_id", "embedding"]])
        brute = cosine_topk_brute(queries, corpus, k=5).collect()
        approx = ivf_topk(queries, corpus, k=5, n_centroids=32, n_probe=8).collect()
        bset = {(r.query_id, r.vec_id) for r in brute}
        aset = {(r.query_id, r.vec_id) for r in approx}
        recall = len(bset & aset) / len(bset)
        assert recall >= 0.5  # probing 8/32 lists; seeded data
        # the query's own vector lives in some probed list's bucket only
        # if its assigned centroid is probed — self-match not guaranteed,
        # but every returned cosine must equal the brute cosine exactly
        bmap = {(r.query_id, r.vec_id): r.cosine for r in brute}
        for r in approx:
            if (r.query_id, r.vec_id) in bmap:
                assert r.cosine == bmap[(r.query_id, r.vec_id)]

    def test_ivf_full_probe_equals_brute(self, spark):
        import pandas as pd  # noqa: PLC0415

        from pyshp_spark.operators.similarity import (  # noqa: PLC0415
            cosine_topk_brute,
            ivf_topk,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet"
        ).limit(150)
        pdf = emb.toPandas()
        queries = spark.createDataFrame(
            pdf.head(10)[["vec_id", "embedding"]]
        ).withColumnRenamed("vec_id", "query_id")
        corpus = spark.createDataFrame(pdf[["vec_id", "embedding"]])
        brute = cosine_topk_brute(queries, corpus, k=4).collect()
        # probing every list degenerates to exact search
        full = ivf_topk(queries, corpus, k=4, n_centroids=16, n_probe=16).collect()
        bset = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in brute}
        fset = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in full}
        assert bset == fset


class TestKmeansIvf:
    def _objective(self, emb_pdf, cent):
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in emb_pdf.embedding])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        return float((m @ cent.T).max(axis=1).mean())

    def test_kmeans_monotone_and_deterministic(self, spark, emb_df):
        from pyshp_spark.operators.similarity import kmeans_centroids  # noqa: PLC0415

        pdf = emb_df.limit(300).toPandas()
        corpus = spark.createDataFrame(pdf[["vec_id", "embedding"]])
        c0 = kmeans_centroids(corpus, k=16, iters=0)
        c3 = kmeans_centroids(corpus, k=16, iters=3)
        c3b = kmeans_centroids(corpus, k=16, iters=3)
        assert np.array_equal(c3, c3b)  # deterministic
        assert np.allclose(np.linalg.norm(c3, axis=1), 1.0)
        # Lloyd's iterations never decrease the spherical objective
        assert self._objective(pdf, c3) >= self._objective(pdf, c0) - 1e-12

    def test_ivf_full_probe_with_trained_centroids_equals_brute(
        self, spark, emb_df
    ):
        from pyshp_spark.operators.similarity import (  # noqa: PLC0415
            cosine_topk_brute,
            ivf_topk,
            kmeans_centroids,
        )

        pdf = emb_df.limit(150).toPandas()
        queries = spark.createDataFrame(
            pdf.head(10)[["vec_id", "embedding"]]
        ).withColumnRenamed("vec_id", "query_id")
        corpus = spark.createDataFrame(pdf[["vec_id", "embedding"]])
        cent = kmeans_centroids(corpus, k=12, iters=2)
        brute = cosine_topk_brute(queries, corpus, k=4).collect()
        full = ivf_topk(
            queries, corpus, k=4, n_probe=12, centroids=cent
        ).collect()
        bset = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in brute}
        fset = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in full}
        assert bset == fset


class TestIntegerPlaneOracles:
    """The int_planes / quantize variants exist so the driver gate can
    hash-check lsh_ann / ivf_ann / embedding_dedup against DuckDB.
    These tests pin (a) the SQL mirrors directly, (b) the degenerate
    exactness properties that must survive quantization."""

    @staticmethod
    def _duck():
        import duckdb  # noqa: PLC0415

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            "'/root/testdata/sf0.001/embeddings.parquet'"
        )
        return con

    @staticmethod
    def _rowset(rows, cols):
        def canon(v):
            return f"{v:.9g}" if isinstance(v, float) else str(v)

        return sorted(tuple(canon(r[c]) for c in cols) for r in rows)

    def test_lsh_ann_matches_sql_mirror(self, spark):
        from pyshp_spark.operators.similarity import lsh_ann_sql, lsh_topk  # noqa: PLC0415

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        queries = emb.where((F.col("vec_id") % 50) == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = lsh_topk(
            queries, emb, k=3, dim=64, n_planes=6, probe_bits=2, int_planes=True
        ).collect()
        con = self._duck()
        want = con.execute(
            lsh_ann_sql("embeddings", "(vec_id % 50) = 0", k=3, dim=64,
                        n_planes=6, probe_bits=2)
        ).df().to_dict("records")
        cols = ["query_id", "vec_id", "cosine", "rank"]
        assert self._rowset([r.asDict() for r in got], cols) == self._rowset(want, cols)

    def test_ivf_ann_matches_sql_mirror(self, spark):
        from pyshp_spark.operators.similarity import ivf_ann_sql, ivf_topk  # noqa: PLC0415

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        queries = emb.where((F.col("vec_id") % 50) == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = ivf_topk(
            queries, emb, k=3, n_centroids=64, n_probe=8, quantize=1000
        ).collect()
        con = self._duck()
        want = con.execute(
            ivf_ann_sql("embeddings", "(vec_id % 50) = 0", k=3,
                        n_centroids=64, n_probe=8)
        ).df().to_dict("records")
        cols = ["query_id", "vec_id", "cosine", "rank"]
        assert self._rowset([r.asDict() for r in got], cols) == self._rowset(want, cols)

    def test_embedding_dedup_matches_sql_mirror(self, spark):
        from pyshp_spark.operators.similarity import (  # noqa: PLC0415
            embedding_dedup_pairs,
            embedding_dedup_sql,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        got = embedding_dedup_pairs(
            emb, tau=0.15, dim=64, n_planes=8, int_planes=True
        ).collect()
        con = self._duck()
        want = con.execute(
            embedding_dedup_sql("embeddings", tau=0.15, dim=64, n_planes=8)
        ).df().to_dict("records")
        cols = ["id_a", "id_b", "cosine"]
        assert self._rowset([r.asDict() for r in got], cols) == self._rowset(want, cols)

    def test_int_ivf_full_probe_equals_brute(self, spark):
        from pyshp_spark.operators.similarity import (  # noqa: PLC0415
            cosine_topk_brute,
            ivf_topk,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet"
        ).limit(150)
        pdf = emb.toPandas()
        queries = spark.createDataFrame(
            pdf.head(10)[["vec_id", "embedding"]]
        ).withColumnRenamed("vec_id", "query_id")
        corpus = spark.createDataFrame(pdf[["vec_id", "embedding"]])
        brute = cosine_topk_brute(queries, corpus, k=4).collect()
        # quantization changes WHICH lists vectors land in, never the
        # rerank — probing every list is still exact search
        full = ivf_topk(
            queries, corpus, k=4, n_centroids=16, n_probe=16, quantize=1000
        ).collect()
        bset = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in brute}
        fset = {(r.query_id, r.vec_id, r.cosine, r.rank) for r in full}
        assert bset == fset

    def test_int_lsh_self_match(self, spark, emb_df):
        pdf = emb_df.limit(200).toPandas()
        dim = len(pdf.embedding.iloc[0])
        queries = spark.createDataFrame(
            pdf.head(15)[["vec_id", "embedding"]]
        ).withColumnRenamed("vec_id", "query_id")
        corpus = spark.createDataFrame(pdf[["vec_id", "embedding"]])
        approx = lsh_topk(
            queries, corpus, k=5, dim=dim, n_planes=6, probe_bits=2,
            int_planes=True,
        ).collect()
        aset = {(r.query_id, r.vec_id) for r in approx}
        # a vector always collides with itself (identical bucket)
        assert all((q, q) in aset for q in pdf.head(15).vec_id)
