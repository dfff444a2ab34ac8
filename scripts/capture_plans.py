"""Regenerate PLANS.txt: formatted physical plans for the headline
queries (the .explain audit trail — checked for pushdown, codegen
spans, broadcast vs partitioned choice, and absence of dedup/anti
exchanges after the round-2 single-pass rework).

Usage: python scripts/capture_plans.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as em  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    sections = {}
    sections["pip_join (broadcast index path)"] = fmt(em.q_pip_join(spark, sf_dir))

    from pyshp_spark.operators.spatial import point_in_polygon_join  # noqa: E402

    pts = em._pts(spark, sf_dir)
    dia = em._diamond_wkb(em._diamonds(spark, sf_dir))
    sections["pip_join (partitioned path)"] = fmt(
        point_in_polygon_join(
            pts, dia, grid=em.ENTRY_GRID, polygon_cols=["oid"],
            broadcast_polygons=False,
        )
    )
    sections["spatial_anti (single refine pass, no join)"] = fmt(
        em.q_spatial_anti(spark, sf_dir)
    )
    sections["tile_assign (responsibility-cell filter, no dedup exchange)"] = fmt(
        em.q_tile_assign(spark, sf_dir)
    )
    sections["bbox_filter"] = fmt(em.q_bbox_filter(spark, sf_dir))
    sections["ann_cosine (broadcast-queries map kernel, corpus never shuffles)"] = fmt(
        em.q_ann_cosine(spark, sf_dir)
    )
    sections["pip_skew (salted partitioned path: one cogroup by "
             "(cell, salt) bucket, no join)"] = fmt(
        em.q_pip_skew(spark, sf_dir)
    )
    sections["lsh_ann (integer-plane buckets + fold-kernel rerank)"] = fmt(
        em.q_lsh_ann(spark, sf_dir)
    )
    sections["text_quality"] = fmt(em.q_text_quality(spark, sf_dir))
    from pyspark.sql import functions as F  # noqa: E402

    from pyshp_spark.operators.dedup import token_jaccard_pairs  # noqa: E402

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") % 5) == 0
    )
    sections["token_jaccard (df-capped postings)"] = fmt(
        token_jaccard_pairs(
            docs, threshold=0.6, max_df=em.TOKEN_JACCARD_MAX_DF,
            checkpoint=False,  # the checkpoint would hide the plan
        )
    )

    from pyshp_spark.operators.dedup import minhash_dedup_pairs  # noqa: E402

    sections["minhash_pairs (text-free band exchange)"] = fmt(
        minhash_dedup_pairs(docs, threshold=0.5, checkpoint=False)
    )

    from pyshp_spark.operators.similarity import embedding_dedup_pairs  # noqa: E402

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sections["embedding_dedup (vector-free bucket exchange; "
             "checkpoint=False lazy shape, broadcast forced off)"] = fmt(
        embedding_dedup_pairs(
            emb, tau=0.95, dim=em.EMB_DIM, int_planes=True, checkpoint=False
        )
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    sections["phash_dedup (pigeonhole banding + popcount verify)"] = fmt(
        em.q_phash_dedup(spark, sf_dir)
    )

    sections["hash_split (map-only, zero exchange)"] = fmt(
        em.q_hash_split(spark, sf_dir)
    )
    sections["topk_terms (partial-agg explode, broadcast df join, "
             "one window)"] = fmt(em.q_topk_terms(spark, sf_dir))
    sections["asof_join (union-window, ONE exchange, no join operator)"] = fmt(
        em.q_asof_join(spark, sf_dir)
    )
    sections["range_join (time-bucket blocking equi-join + refine)"] = fmt(
        em.q_range_join(spark, sf_dir)
    )
    sections["time_rollup (cascade: coarser levels re-agg the finer)"] = fmt(
        em.q_time_rollup(spark, sf_dir)
    )
    sections["kmv_distinct (partition k-min pre-reduce, k-bounded "
             "TakeOrderedAndProject)"] = fmt(
        em.q_kmv_distinct(spark, sf_dir)
    )
    sections["tile_pyramid (quadtree cascade: coarser zooms re-agg "
             "the finer)"] = fmt(em.q_tile_pyramid(spark, sf_dir))
    sections["zonal_stats (PIP join pipelines into map-side partial "
             "aggs, one agg exchange)"] = fmt(
        em.q_zonal_stats(spark, sf_dir)
    )
    sections["poly_contains (ring_sample points probe the broadcast "
             "polygon index)"] = fmt(em.q_poly_contains(spark, sf_dir))
    sections["hole_assign (distributed organize_polygon_rings: "
             "bbox-candidate join + ray-cast refine + min-area window)"] = fmt(
        em.q_hole_assign(spark, sf_dir)
    )

    out = []
    for name, plan in sections.items():
        out.append(f"===== {name} =====\n{plan}")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.txt")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}: {len(sections)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
