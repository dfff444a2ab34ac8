"""Round-4 fixes, each pinned by a test:

1. MinHash pair-verify factorizes unique texts per Arrow batch (no
   per-pair re-shingling of hot docs) — values unchanged.
2. embedding_dedup_pairs' bucket self-join carries (id, bucket) only;
   vectors re-attach to the deduped pair set (plan pinned vector-free).
3. The salted partitioned PIP path is one cogroup whose exchanges hash
   a bucket of the (cell, salt) key when broadcasting is disabled.
4. connected_components: reliable checkpointing option, single-action
   convergence check, prior-round unpersist; survives cache eviction.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestFactorizedJaccardVerify:
    def test_values_match_per_pair_loop(self, spark):
        """Factorized verify must produce bit-identical jaccard values
        to the straightforward per-pair shingle computation."""
        from pyshp_spark.operators.dedup import (  # noqa: PLC0415
            minhash_dedup_pairs,
            shingles,
        )

        rng = np.random.default_rng(7)
        words = [f"w{i}" for i in range(30)]
        texts = [
            " ".join(rng.choice(words, size=rng.integers(5, 25)))
            for _ in range(60)
        ]
        # force near-dups: clones with small edits
        texts += [t + " extra" for t in texts[:20]]
        pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        df = spark.createDataFrame(pdf)
        out = minhash_dedup_pairs(df, threshold=0.3, checkpoint=False).toPandas()
        assert len(out) > 0
        for r in out.itertuples():
            sa = shingles(texts[int(r.id_a)], 3)
            sb = shingles(texts[int(r.id_b)], 3)
            u = len(sa | sb)
            expect = round(len(sa & sb) / u, 6) if u else 0.0
            assert r.jaccard == pytest.approx(expect, abs=1e-9)

    def test_none_text_safe(self, spark):
        from pyshp_spark.operators.dedup import minhash_dedup_pairs  # noqa: PLC0415

        pdf = pd.DataFrame(
            {"doc_id": [0, 1, 2, 3], "text": ["a b c d", "a b c d", None, None]}
        )
        df = spark.createDataFrame(pdf)
        out = minhash_dedup_pairs(df, threshold=0.5, checkpoint=False).toPandas()
        # the two identical docs pair up; None docs have empty shingle
        # sets (jaccard 0.0 -> filtered), and nothing crashes
        assert {(0, 1)} == set(zip(out.id_a, out.id_b))


class TestEmbeddingShuffleShape:
    def test_bucket_join_carries_no_vectors(self, spark):
        """The bucket self-join exchange must ship (id, bucket) only —
        the embedding vectors re-attach to the deduped pair set."""
        from pyshp_spark.operators.similarity import (  # noqa: PLC0415
            embedding_dedup_pairs,
        )

        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(50, 16))
        pdf = pd.DataFrame(
            {"vec_id": range(50), "embedding": [v.tolist() for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force shuffle joins so the exchange columns are visible
            # (checkpoint=False keeps the whole lazy plan inspectable)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = embedding_dedup_pairs(df, tau=0.8, dim=16, checkpoint=False)
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        bucket_exchanges = [
            l
            for l in plan.splitlines()
            if "Exchange" in l and "__bucket" in l
        ]
        assert bucket_exchanges, "expected the bucket self-join exchange"
        assert not any(
            "__v" in l.replace("__vid", "").replace("vec_id", "")
            for l in bucket_exchanges
        ), "vectors must not ride the bucket exchange"

    def test_broadcast_attach_no_vector_exchange(self, spark):
        """Default path (checkpoint=True, small pair set): the attach
        joins broadcast the pair side, so NO exchange in the whole
        plan carries a vector column — exchange volume is flat in the
        embedding dimension."""
        from pyshp_spark.operators.similarity import (  # noqa: PLC0415
            embedding_dedup_pairs,
        )

        rng = np.random.default_rng(5)
        vecs = rng.normal(size=(60, 32))
        pdf = pd.DataFrame(
            {"vec_id": range(60), "embedding": [v.tolist() for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        out = embedding_dedup_pairs(df, tau=0.8, dim=32)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        vec_exchanges = [
            l
            for l in plan.splitlines()
            if "Exchange" in l and ("__va" in l or "__vb" in l or "__v#" in l)
        ]
        assert not vec_exchanges, "\n".join(vec_exchanges)

    def test_values_unchanged(self, spark):
        """Pair set + cosines must equal the all-pairs-within-bucket
        computation done directly in pandas."""
        from pyshp_spark.operators.similarity import (  # noqa: PLC0415
            embedding_dedup_pairs,
        )

        rng = np.random.default_rng(11)
        base = rng.normal(size=(20, 8))
        # clones with tiny noise -> guaranteed high-cosine pairs
        vecs = np.vstack([base, base + rng.normal(scale=0.01, size=(20, 8))])
        pdf = pd.DataFrame(
            {"vec_id": range(40), "embedding": [v.tolist() for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        got = (
            embedding_dedup_pairs(df, tau=0.95, dim=8)
            .toPandas()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        # LSH recall: most (not necessarily all) clone pairs share a bucket
        assert len(got) >= 15
        norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        for r in got.itertuples():
            cos = float(norm[int(r.id_a)] @ norm[int(r.id_b)])
            assert r.cosine == pytest.approx(round(cos, 6), abs=1e-6)


def _plan_nodes(node):
    """A plan's nodes, depth first (through py4j)."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


class TestSaltedPartitionedPlan:
    def test_salted_path_cogroups_on_salted_bucket(self, spark):
        """With autoBroadcastJoinThreshold=-1 and AQE off the salted PIP
        join is ONE cogroup: both exchanges hash a bucket derived from
        the (cell, salt) key, no join of any kind remains, and no
        exchange carries the polygon WKB (edges are parsed before the
        shuffle)."""
        from pyshp_spark.fixtures.images import images_fixture  # noqa: PLC0415
        from pyshp_spark.fixtures.polygons import fixture_shapefile_bytes  # noqa: PLC0415
        from pyshp_spark.operators.spatial import point_in_polygon_join  # noqa: PLC0415
        from pyshp_spark.sources.shapefile import parse_shp_bytes  # noqa: PLC0415

        shp, _, _ = fixture_shapefile_bytes(n=20, seed=42)
        poly_pdf = parse_shp_bytes(shp)[
            ["oid", "wkb", "xmin", "ymin", "xmax", "ymax"]
        ]
        polys = spark.createDataFrame(poly_pdf)
        pts = spark.createDataFrame(
            images_fixture(n=100, seed=7)[["image_id", "lon", "lat"]]
        )
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            out = point_in_polygon_join(
                pts,
                polys,
                x="lon",
                y="lat",
                polygon_cols=["oid"],
                broadcast_polygons=False,
                salt_k=4,
            )
            qe = out._jdf.queryExecution()
            executed = qe.executedPlan()
            plan = executed.toString()
            refs = {
                e.name(): e.child().references().toString()
                for n in _plan_nodes(qe.analyzed()) if n.nodeName() == "Project"
                for e in (n.projectList().apply(i)
                          for i in range(n.projectList().size()))
                if e.nodeName() == "Alias"
            }
            exchanges = [
                (n.toString(), n.output().toString())
                for n in _plan_nodes(executed) if n.nodeName() == "Exchange"
            ]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        assert "FlatMapCoGroupsInArrow" in plan, plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" not in plan
        assert len(exchanges) == 2, plan
        for node, output in exchanges:
            assert "hashpartitioning(__ps_bucket#" in node, node
            assert "wkb" not in output, output
        # the bucket is derived from the key, the key from cell AND salt
        assert "__ps_key#" in refs["__ps_bucket"], refs
        assert "__ps_cell#" in refs["__ps_key"], refs
        assert "__ps_salt#" in refs["__ps_key"], refs


class TestConnectedComponentsHardening:
    def _chain(self, spark, n=2000):
        pdf = pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)})
        return spark.createDataFrame(pdf)

    def test_long_chain_log_rounds(self, spark):
        """A 2k-node chain must resolve in O(log n) rounds (pointer
        doubling), with a single root label 0."""
        from pyshp_spark.operators.dedup import connected_components  # noqa: PLC0415

        cc = connected_components(self._chain(spark), max_iter=15).toPandas()
        assert (cc.root == 0).all()
        assert len(cc) == 2000

    def test_reliable_checkpoint_mode(self, spark, tmp_path):
        """checkpoint_dir routes through reliable checkpoint() —
        survives lineage truncation and still converges."""
        from pyshp_spark.operators.dedup import connected_components  # noqa: PLC0415

        cc = connected_components(
            self._chain(spark, 500),
            max_iter=15,
            checkpoint_dir=str(tmp_path / "ckpt"),
            checkpoint_every=2,
        ).toPandas()
        assert (cc.root == 0).all()

    def test_survives_mid_run_unpersist(self, spark):
        """Evicting every cached RDD mid-run must not change results:
        each round's labels are re-derivable from the checkpointed
        frontier."""
        from pyshp_spark.operators import dedup  # noqa: PLC0415

        pairs = self._chain(spark, 300)
        expect = dedup.connected_components(pairs, max_iter=15).toPandas()
        # run again, but clear the block manager between rounds via the
        # on_round hook
        def evict(_round_idx, _labels):
            spark.catalog.clearCache()

        got = dedup.connected_components(
            pairs, max_iter=15, on_round=evict
        ).toPandas()
        pd.testing.assert_frame_equal(
            expect.sort_values("id").reset_index(drop=True),
            got.sort_values("id").reset_index(drop=True),
        )


class TestHashSplit:
    def test_fractions_and_determinism(self, spark):
        from pyshp_spark.operators.sample import hash_split  # noqa: PLC0415

        pdf = pd.DataFrame({"doc_id": range(5000)})
        df = spark.createDataFrame(pdf)
        for flavor in ("xxhash64", "knuth"):
            out = hash_split(df, key="doc_id", hash=flavor).toPandas()
            frac = out.split.value_counts(normalize=True)
            assert abs(frac["train"] - 0.8) < 0.03, flavor
            assert abs(frac["val"] - 0.1) < 0.02, flavor
            # stable under repartitioning: identical assignment per key
            out2 = (
                hash_split(df.repartition(13), key="doc_id", hash=flavor)
                .toPandas()
                .set_index("doc_id")["split"]
            )
            ref = out.set_index("doc_id")["split"]
            assert (out2.sort_index() == ref.sort_index()).all(), flavor

    def test_map_only_plan(self, spark):
        """Split assignment must add ZERO exchanges — it's a projection."""
        from pyshp_spark.operators.sample import hash_split  # noqa: PLC0415

        df = spark.createDataFrame(pd.DataFrame({"doc_id": range(100)}))
        out = hash_split(df, key="doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_membership_stable_under_corpus_growth(self, spark):
        """A doc keeps its split when the corpus doubles — the property
        that prevents eval-set leakage across dataset versions."""
        from pyshp_spark.operators.sample import hash_split  # noqa: PLC0415

        small = spark.createDataFrame(pd.DataFrame({"doc_id": range(500)}))
        big = spark.createDataFrame(pd.DataFrame({"doc_id": range(1000)}))
        s = hash_split(small, key="doc_id").toPandas().set_index("doc_id")
        b = hash_split(big, key="doc_id").toPandas().set_index("doc_id")
        assert (b.loc[s.index, "split"] == s["split"]).all()


class TestStratifiedSample:
    def test_exact_n_per_stratum_and_determinism(self, spark):
        from pyshp_spark.operators.sample import stratified_sample_n  # noqa: PLC0415

        pdf = pd.DataFrame(
            {
                "doc_id": range(900),
                "lang": ["en"] * 500 + ["de"] * 300 + ["fr"] * 95 + ["xx"] * 5,
            }
        )
        df = spark.createDataFrame(pdf)
        out = stratified_sample_n(df, strata="lang", n=50, key="doc_id").toPandas()
        counts = out.lang.value_counts()
        assert counts["en"] == 50 and counts["de"] == 50 and counts["fr"] == 50
        assert counts["xx"] == 5  # smaller stratum: take all
        # deterministic: same rows from a differently-partitioned input
        out2 = stratified_sample_n(
            df.repartition(17), strata="lang", n=50, key="doc_id"
        ).toPandas()
        assert set(out.doc_id) == set(out2.doc_id)


class TestMixCorpora:
    def test_weights_and_determinism(self, spark):
        from pyshp_spark.operators.sample import mix_corpora  # noqa: PLC0415

        pdf = pd.DataFrame(
            {
                "doc_id": range(4000),
                "source": ["a", "b", "c", "d"] * 1000,
            }
        )
        df = spark.createDataFrame(pdf)
        w = {"a": 2.0, "b": 1.5, "c": 0.25}  # d absent -> dropped
        out = mix_corpora(df, w, source="source", key="doc_id").toPandas()
        per = out.groupby("source").size()
        assert per["a"] == 2000  # exactly 2 epochs each
        assert abs(per["b"] - 1500) < 100  # 1 + ~50% second epoch
        assert abs(per["c"] - 250) < 60  # ~25% kept
        assert "d" not in per.index
        # integer epochs 1..n, and copy-2 docs are a subset of copy-1
        b2 = set(out[(out.source == "b") & (out.epoch == 2)].doc_id)
        b1 = set(out[(out.source == "b") & (out.epoch == 1)].doc_id)
        assert b2 < b1
        # deterministic under repartitioning
        out2 = mix_corpora(
            df.repartition(13), w, source="source", key="doc_id"
        ).toPandas()
        key = lambda d: sorted(map(tuple, d[["doc_id", "source", "epoch"]].to_numpy()))  # noqa: E731
        assert key(out) == key(out2)

    def test_no_shuffle_plan(self, spark):
        from pyshp_spark.operators.sample import mix_corpora  # noqa: PLC0415

        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "source": ["a"]})
        )
        plan = (
            mix_corpora(df, {"a": 1.5})
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
