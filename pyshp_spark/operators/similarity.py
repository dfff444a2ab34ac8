"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_brute``: exact top-k by cosine — the correctness
  baseline.  Default ``via="kernel"``: broadcast query matrix, one
  mapInPandas pass over the corpus with fold-order numpy dots, only
  nq*k rows per batch cross Arrow; ``via="expr"`` keeps the all-JVM
  Column-expression variant.
- ``lsh_topk`` / ``ivf_topk``: bucketed ANN as the scale path — bucket
  equi-join bounds the candidate set, exact cosine rerank via the
  fold-order pair kernel (``cosine_pair_udf``).  ``int_planes`` /
  ``quantize`` switch bucketing to exact integer arithmetic with full
  DuckDB SQL mirrors (lsh_ann_sql / ivf_ann_sql).
- ``embedding_dedup_pairs``: near-duplicate pairs with cosine >= tau
  blocked by LSH bucket (embedding_dedup_sql mirror with int planes).

Float discipline: every cosine — expression, pair kernel, broadcast
kernel — accumulates in the SAME left-fold order, so all paths produce
bit-identical rounded values and stay hash-consistent with the DuckDB
oracles.  Catalyst higher-order functions (aggregate/zip_with) are
interpreted per element, so hot paths use the numpy kernels; the
Column expressions remain for pure-JVM deployments.

At 10^12-row scale the bucket join is what bounds candidate count; the
rerank kernel is the per-bucket workhorse.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window


def dot_expr(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float arrays, JVM-side.
    Elements are cast to double BEFORE multiplying (matches DuckDB's
    list_dot_product numerics on FLOAT[] input)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def _fold_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, d) x (m, d) -> (n, m) dot products accumulated dimension by
    dimension — the exact left-fold addition order of ``dot_expr``'s
    F.aggregate, so values are bit-identical to the Column-expression
    path (and therefore to the hash-green DuckDB oracle)."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for j in range(a.shape[1]):
        acc += a[:, j : j + 1] * b[None, :, j]
    return acc


def _fold_norms(m: np.ndarray) -> np.ndarray:
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for j in range(m.shape[1]):
        acc += m[:, j] * m[:, j]
    return np.sqrt(acc)


def cosine_pair_udf():
    """RAW (unrounded) cosine over PAIR ROWS (two array columns),
    vectorized per Arrow batch with the exact fold accumulation order
    of ``dot_expr`` — bit-identical to the Column-expression dot, so
    swapping it into a rerank removes ~3*d interpreted Catalyst lambda
    calls per pair without touching values.  Callers apply
    ``F.round(col, 6)`` JVM-side, so rounding semantics (Java
    BigDecimal HALF_UP) stay EXACTLY the expression path's — np.round's
    ties-to-even would silently diverge on exact .5*1e-6 ties."""

    @F.pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        a = np.vstack([np.asarray(v, dtype=np.float64) for v in va])
        b = np.vstack([np.asarray(v, dtype=np.float64) for v in vb])
        dot = np.zeros(len(a), dtype=np.float64)
        na = np.zeros(len(a), dtype=np.float64)
        nb = np.zeros(len(a), dtype=np.float64)
        for j in range(a.shape[1]):
            dot += a[:, j] * b[:, j]
            na += a[:, j] * a[:, j]
            nb += b[:, j] * b[:, j]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return cos


def _round6(v: np.ndarray) -> np.ndarray:
    """round(x, 6) matching Spark's F.round on doubles (BigDecimal of
    the shortest decimal repr, HALF_UP).  np.round handles everything
    except near-tie values (ties-to-even + binary-scaling error), so
    values whose scaled fraction sits within 1e-7 of .5 are re-rounded
    exactly through decimal arithmetic on repr(x) — the same shortest
    repr BigDecimal.valueOf uses."""
    scaled = v * 1e6
    out = np.round(scaled) / 1e6
    near = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-7
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

        q = Decimal("0.000001")
        for i in np.flatnonzero(near):
            out[i] = float(
                Decimal(repr(float(v[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def cosine_topk_brute(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    via: str = "kernel",
) -> DataFrame:
    """Exact cosine top-k.  Output: (query_id, vec_id, cosine, rank).

    ``via="kernel"`` (default): queries are collected once (the
    dimension side, by definition of a brute query batch) and broadcast
    as a numpy matrix; one ``mapInPandas`` pass over the corpus scores
    each Arrow batch with vectorized fold-order dots and emits only the
    per-batch top-k rows per query, then a tiny JVM window merges the
    global top-k.  The corpus never shuffles and only nq*k rows per
    batch cross Arrow — the 100 TB shape.  Float results are
    bit-identical to the expression path because the accumulation
    order is reproduced exactly (see _fold_dots).

    ``via="expr"``: the all-JVM crossJoin + Column-expression variant.
    Catalyst evaluates higher-order functions (aggregate/zip_with)
    INTERPRETED per element, so this path costs ~d interpreted lambda
    calls per pair — keep it for small corpora or pure-JVM deployments.
    """
    if via == "expr":
        return _cosine_topk_expr(
            queries, corpus, k, query_id, query_vec, corpus_id, corpus_vec
        )
    from pyspark.sql.types import DoubleType, StructField, StructType  # noqa: PLC0415

    q_pdf = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    ).toPandas()
    spark = corpus.sparkSession
    qid_field = queries.select(F.col(query_id).alias("query_id")).schema.fields[0]
    cid_field = corpus.select(F.col(corpus_id).alias("vec_id")).schema.fields[0]
    out_schema = StructType(
        [qid_field, cid_field, StructField("cosine", DoubleType())]
    )
    if len(q_pdf) == 0:
        empty = spark.createDataFrame([], schema=out_schema)
        return empty.withColumn("rank", F.lit(1).cast("int")).limit(0)
    qm = np.vstack([np.asarray(v, dtype=np.float64) for v in q_pdf["__qv"]])
    qn = _fold_norms(qm)
    qids = q_pdf["query_id"].to_numpy()
    bc = spark.sparkContext.broadcast((qm, qn, qids))

    def score(batches):
        qm_, qn_, qids_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["__cv"]]
            )
            cn = _fold_norms(cm)
            cos = _round6(
                (_fold_dots(qm_, cm) / (qn_[:, None] * cn[None, :])).ravel()
            ).reshape(nq, -1)
            cids = pdf["vec_id"].to_numpy()
            # per-batch top-k per query under the global total order
            # (-cosine, vec_id): batch winners are the only possible
            # global winners, so emitting k rows per query is lossless
            order = np.lexsort((cids[None, :].repeat(nq, 0), -cos), axis=1)[:, :k]
            rows = {
                "query_id": np.repeat(qids_, order.shape[1]),
                "vec_id": cids[order].ravel(),
                "cosine": np.take_along_axis(cos, order, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    cand = corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("__cv")
    ).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _cosine_topk_expr(
    queries, corpus, k, query_id, query_vec, corpus_id, corpus_vec
) -> DataFrame:
    # norms are computed ONCE per row (not per pair): cosine is then a
    # single dot per pair — float-identical to a per-pair
    # dot/(sqrt(da)*sqrt(db)) because that expression is unchanged, the
    # factors are just evaluated earlier
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qv"),
            norm_expr(F.col(query_vec)).alias("__qn"),
        )
    )
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("__cv"),
        norm_expr(F.col(corpus_vec)).alias("__cn"),
    )
    scored = q.crossJoin(c).withColumn(
        "cosine",
        F.round(
            dot_expr(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


# Knuth's 32-bit multiplicative-hash constant: bit 31 of (idx * C) mod
# 2^32 is a well-mixed pseudo-random sign, and the identical expression
# is exact BIGINT arithmetic in ANSI SQL — the whole point of the
# integer-plane variant (see int_plane_signs)
_SIGN_MULT = 2654435761


def int_plane_signs(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic ±1 hyperplanes: sign_{j,i} = -1 iff bit 31 of
    ((j*dim + i) * 2654435761 mod 2^32) is set.  Pure integer math, so
    a DuckDB oracle reproduces every bucket bit exactly (a Gaussian
    plane's sign rides on float rounding SQL can't replay)."""
    idx = np.arange(n_planes * dim, dtype=np.int64)
    t = (idx * _SIGN_MULT) % (1 << 32)
    return np.where(t >= (1 << 31), -1, 1).reshape(n_planes, dim)


def _sign_sql(j: int, dim: int) -> str:
    """SQL mirror of int_plane_signs for plane ``j``, lambda var ``i``."""
    return (
        f"(CASE WHEN (({j * dim} + i) * {_SIGN_MULT}) % 4294967296"
        f" >= 2147483648 THEN -1 ELSE 1 END)"
    )


_QUANT_SQL = "list_transform(CAST({v} AS DOUBLE[]), x -> floor(x * {s} + 0.5))"


def _quantize_np(m: np.ndarray, scale: int) -> np.ndarray:
    """floor(x*scale + 0.5) in float64 — the exact same double ops as
    the SQL mirror's floor(x*s + 0.5), so both sides see identical
    integer-valued doubles (every later dot product is then exact:
    |q| <= scale*|e|max keeps all products and sums far below 2^53)."""
    return np.floor(m * float(scale) + 0.5)


def lsh_bucket_udf(dim: int, n_planes: int = 12, seed: int = 5,
                   int_planes: bool = False, scale: int = 1000):
    """Sign-bit sketch of each embedding packed into an int64 bucket id;
    one Arrow batch = one matmul.

    ``int_planes=False``: seeded Gaussian hyperplanes (classic SimHash
    for angles).  ``int_planes=True``: deterministic ±1 planes over
    integer-quantized embeddings — identical join topology, but bucket
    bits become exact integer arithmetic with a DuckDB SQL mirror."""
    if int_planes:
        planes = int_plane_signs(dim, n_planes).astype(np.float64)
    else:
        planes = _hyperplanes(dim, n_planes, seed)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        if int_planes:
            m = _quantize_np(m, scale)
        bits = (m @ planes.T) >= 0
        return pd.Series((bits @ weights).astype(np.int64))

    return bucket


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 12,
    seed: int = 5,
    probe_bits: int = 1,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    int_planes: bool = False,
    scale: int = 1000,
) -> DataFrame:
    """Approximate cosine top-k: LSH bucket equi-join + exact rerank.

    ``probe_bits``: queries also probe buckets within Hamming distance
    <= probe_bits of their own bucket (multi-probe) — recall knob that
    costs a (n_planes choose probe_bits)-way explode on the small query
    side only.

    ``int_planes=True`` switches bucketing to deterministic ±1 planes
    over integer-quantized embeddings (same operator topology); the
    whole query then has an exact DuckDB mirror — :func:`lsh_ann_sql`.
    """
    bucket = lsh_bucket_udf(dim, n_planes, seed, int_planes=int_planes, scale=scale)
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("__cv"),
        bucket(F.col(corpus_vec)).alias("__bucket"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        bucket(F.col(query_vec)).alias("__b0"),
    )
    # every bucket within Hamming distance <= probe_bits of the query's
    # own bucket: sum_{r<=probe_bits} C(n_planes, r) probe rows (query
    # side only) — equivalent to a bit_count(xor) <= probe_bits join
    from itertools import combinations  # noqa: PLC0415

    probes = [F.col("__b0")]
    for r in range(1, probe_bits + 1):
        for bits in combinations(range(n_planes), r):
            mask = 0
            for b in bits:
                mask |= 1 << b
            probes.append(F.col("__b0").bitwiseXOR(F.lit(mask)))
    q = q.withColumn("__bucket", F.explode(F.array(*probes)))
    cand = F.broadcast(q).join(c, on="__bucket").dropDuplicates(["query_id", "vec_id"])
    # fold-order pandas kernel, not the HOF expression: Catalyst
    # interprets aggregate/zip_with per element (~3*dim lambda calls
    # per candidate pair); values are bit-identical (same fold order)
    scored = cand.withColumn(
        "cosine", F.round(cosine_pair_udf()(F.col("__qv"), F.col("__cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int,
    iters: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> np.ndarray:
    """Spherical k-means codebook for :func:`ivf_topk`'s ``centroids``
    hook — Lloyd's iterations, fully deterministic.

    Init = the ``k`` lowest-id corpus vectors (L2-normalized).  Each
    iteration is ONE distributed pass: every Arrow batch assigns its
    (normalized) vectors to the nearest centroid by dot product (ties
    to the lowest index) and emits per-centroid partial sums + counts;
    the driver reduces the tiny (k x batches) partial table and
    re-normalizes.  Empty clusters keep their previous centroid.  The
    k-means objective (mean max-cosine to a centroid) is monotonically
    non-decreasing — pinned in tests.  Returns a (k, dim) float64
    matrix of unit rows."""
    spark = corpus.sparkSession
    init_pdf = (
        corpus.select(F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cv"))
        .orderBy("cid")
        .limit(k)
        .toPandas()
    )
    if len(init_pdf) == 0:
        raise ValueError("kmeans_centroids: corpus is empty")
    # fewer corpus rows than k: train what exists (counts/sums below
    # must be sized by the ACTUAL centroid count or broadcasting fails)
    k = min(k, len(init_pdf))
    cent = np.vstack([np.asarray(v, dtype=np.float64) for v in init_pdf["cv"]])
    cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-30)
    vecs_df = corpus.select(F.col(corpus_vec).alias("__v"))
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches):
            c = bc.value
            kk, dim = c.shape
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.vstack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
                )
                m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
                a = np.argmax(m @ c.T, axis=1)
                cnt = np.bincount(a, minlength=kk)
                sums = np.zeros((kk, dim))
                np.add.at(sums, a, m)
                nz = np.flatnonzero(cnt)
                yield pd.DataFrame(
                    {
                        "cid": nz.astype(np.int64),
                        "cnt": cnt[nz].astype(np.int64),
                        "vsum": list(sums[nz]),
                    }
                )

        part = vecs_df.mapInPandas(
            partials, schema="cid long, cnt long, vsum array<double>"
        ).toPandas()
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros_like(cent)
        for row in part.itertuples(index=False):
            counts[row.cid] += row.cnt
            sums[row.cid] += np.asarray(row.vsum, dtype=np.float64)
        norms = np.linalg.norm(sums, axis=1, keepdims=True)
        moved = (counts > 0) & (norms[:, 0] > 1e-30)
        cent = np.where(moved[:, None], sums / np.maximum(norms, 1e-30), cent)
    return cent


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 64,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    quantize: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    ``centroids``: a (n, dim) trained codebook (:func:`kmeans_centroids`)
    — the recall path.  When None, centroids default to the
    ``n_centroids`` lowest-id corpus vectors: a deterministic stand-in
    with the same join topology whose list assignment the SQL oracle
    can mirror (trained codebooks ride on float k-means state, so that
    config is pytest-verified rather than SQL-mirrored).
    Each corpus vector is assigned to its nearest centroid (one numpy
    matmul per Arrow batch); queries probe their ``n_probe`` nearest
    centroid lists and candidates get an exact cosine rerank.

    ``quantize``: when set (e.g. 1000), the coarse quantizer uses
    integer inner products over floor(x*quantize + 0.5)-quantized
    vectors instead of normalized float cosines — same topology,
    unchanged final rerank, but the list assignment and probe become
    exact integer arithmetic mirrored by :func:`ivf_ann_sql` (ties go
    to the lowest centroid index on both sides).

    Scale shape: the centroid matrix broadcasts (tiny), assignment is a
    single pass over the corpus, and the probe is a bucket equi-join —
    per-query work is |corpus| * n_probe / n_centroids instead of
    |corpus|.  At 10^12 rows the assignment column is precomputed and
    stored; only the equi-join runs per query batch.
    """
    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
        if quantize:
            cent = _quantize_np(cent, quantize)
    else:
        cent_pdf = (
            corpus.select(
                F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cv")
            )
            .orderBy("cid")
            .limit(n_centroids)
            .toPandas()
        )
        cent = np.vstack([np.asarray(v, dtype=np.float64) for v in cent_pdf["cv"]])
        if quantize:
            cent = _quantize_np(cent, quantize)
        else:
            cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(cent)

    def _prep(vecs: pd.Series) -> np.ndarray:
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        if quantize:
            return _quantize_np(m, quantize)
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)

    @F.pandas_udf("long")
    def assign(vecs: pd.Series) -> pd.Series:
        # np.argmax takes the FIRST max — lowest centroid index on ties,
        # matching the oracle's ORDER BY dot DESC, cid ASC
        return pd.Series(np.argmax(_prep(vecs) @ bc.value.T, axis=1).astype(np.int64))

    def probe_udf(n):
        @F.pandas_udf("array<long>")
        def probe(vecs: pd.Series) -> pd.Series:
            sims = _prep(vecs) @ bc.value.T
            # stable sort keeps the lower centroid index first on ties
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :n]
            return pd.Series(list(idx.astype(np.int64)))

        return probe

    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("__cv"),
        assign(F.col(corpus_vec)).alias("__list"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.explode(probe_udf(n_probe)(F.col(query_vec))).alias("__list"),
    )
    cand = F.broadcast(q).join(c, on="__list")
    scored = cand.withColumn(
        "cosine", F.round(cosine_pair_udf()(F.col("__qv"), F.col("__cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def embedding_dedup_pairs(
    df: DataFrame,
    tau: float,
    dim: int,
    vec_id: str = "vec_id",
    vec: str = "embedding",
    n_planes: int = 8,
    seed: int = 5,
    int_planes: bool = False,
    scale: int = 1000,
    checkpoint: bool = True,
    max_broadcast_bytes: int = 1_500_000_000,
) -> DataFrame:
    """Near-duplicate pairs (a < b) with cosine >= tau, LSH-blocked.

    With few planes (default 8) a cos>=tau pair collides with
    probability (1 - theta/pi)^8 — use more aggressive multi-probe or
    exact blocking for strict recall; exactness within a bucket is
    guaranteed.  ``int_planes=True`` uses the deterministic integer
    ±1 planes so the blocked pair set has an exact DuckDB mirror
    (:func:`embedding_dedup_sql`).

    Shuffle shape: the bucket self-join carries ONLY (id, bucket) —
    never the embedding vectors; at d=1024 that turns a vector-
    dominated exchange into a 16-byte-per-row one.  Vectors re-attach
    to the (far smaller, deduped) candidate-pair set before the
    exact-cosine rerank.  With ``checkpoint=True`` (default) the pair
    ids are materialized once and, when the pair set fits
    ``max_broadcast_bytes`` with a vector attached (the common
    near-dup case: pairs << corpus), the attach joins BROADCAST the
    pair side — the corpus vectors never shuffle at all, so exchange
    volume is flat in the embedding dimension.  Oversized pair sets
    (or ``checkpoint=False``) fall back to plain equi-joins: the
    corpus vectors cross one exchange per attach — pre-bucketing the
    embeddings table by ``vec_id`` (plans/layout.py) removes even
    that at rest.
    """
    bucket = lsh_bucket_udf(dim, n_planes, seed, int_planes=int_planes, scale=scale)
    b = df.select(
        F.col(vec_id).alias("id"), bucket(F.col(vec)).alias("__bucket")
    )
    pair_ids = (
        b.select(F.col("id").alias("id_a"), "__bucket")
        .join(b.select(F.col("id").alias("id_b"), "__bucket"), on="__bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(F.col(vec_id).alias("__vid"), F.col(vec).alias("__v"))
    broadcast_attach = False
    if checkpoint:
        # materialize the pair ids once (16 B/row): both attach joins
        # reuse the blocks instead of recomputing the bucket join, and
        # the count makes the broadcast guard byte-aware
        pair_ids = pair_ids.localCheckpoint(eager=True)
        npairs = pair_ids.count()
        attached_row_bytes = dim * 8 + 48  # one vector + ids + struct overhead
        broadcast_attach = npairs * attached_row_bytes * 1.2 <= max_broadcast_bytes
    if broadcast_attach:
        # corpus streams map-side against the broadcast pair set in
        # BOTH attach joins — zero vector bytes through any exchange
        j1 = vecs.join(
            F.broadcast(pair_ids), on=vecs["__vid"] == pair_ids["id_a"]
        ).select("id_a", "id_b", F.col("__v").alias("__va"))
        cand = vecs.join(
            F.broadcast(j1), on=vecs["__vid"] == j1["id_b"]
        ).select("id_a", "id_b", "__va", F.col("__v").alias("__vb"))
    else:
        cand = pair_ids.join(
            vecs.select(F.col("__vid").alias("id_a"), F.col("__v").alias("__va")),
            on="id_a",
        ).join(
            vecs.select(F.col("__vid").alias("id_b"), F.col("__v").alias("__vb")),
            on="id_b",
        )
    return (
        cand.withColumn(
            "cosine", F.round(cosine_pair_udf()(F.col("__va"), F.col("__vb")), 6)
        )
        .where(F.col("cosine") >= tau)
        .select("id_a", "id_b", "cosine")
    )


# -------------------------------------------- integer-plane SQL oracles ----
#
# DuckDB mirrors of the int_planes/quantize code paths above.  Every
# bucket bit / list assignment is exact integer arithmetic on both
# sides: quantized values are floor(x*scale + 0.5) over DOUBLE-cast
# floats (identical IEEE ops in numpy and DuckDB) and all dot products
# stay far below 2^53, so float64 sums are exact regardless of order.


def _bucket_sql(dim: int, n_planes: int) -> str:
    """Bucket id over a quantized DOUBLE[] column named ``q``."""
    dots = [
        f"list_sum(list_transform(range(0, {dim}), i -> {_sign_sql(j, dim)} * q[i+1]))"
        for j in range(n_planes)
    ]
    return " + ".join(
        f"(CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END)" for j, d in enumerate(dots)
    )


def lsh_ann_sql(
    table: str,
    query_pred: str,
    k: int,
    dim: int,
    n_planes: int = 6,
    probe_bits: int = 2,
    scale: int = 1000,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB mirror of ``lsh_topk(..., int_planes=True)``.

    Multi-probe over bit-flip neighbors == joining every (query, corpus)
    pair whose buckets differ in <= probe_bits bits, so the candidate
    set is exactly ``bit_count(xor(qb, cb)) <= probe_bits``."""
    q = _QUANT_SQL.format(v=vec, s=scale)
    return f"""
        WITH e AS (
            SELECT {vec_id} AS vec_id, CAST({vec} AS DOUBLE[]) AS v, {q} AS q
            FROM {table}
        ),
        b AS (SELECT vec_id, v, ({_bucket_sql(dim, n_planes)}) AS bucket FROM e),
        qs AS (
            SELECT vec_id AS query_id, v AS qv, bucket AS qb
            FROM b WHERE {query_pred}
        ),
        cand AS (
            SELECT q.query_id, c.vec_id,
                   round(list_cosine_similarity(q.qv, c.v), 6) AS cosine
            FROM qs q JOIN b c ON bit_count(xor(q.qb, c.bucket)) <= {probe_bits}
        ),
        ranked AS (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM cand
        )
        SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def ivf_ann_sql(
    table: str,
    query_pred: str,
    k: int,
    n_centroids: int = 64,
    n_probe: int = 8,
    scale: int = 1000,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB mirror of ``ivf_topk(..., quantize=scale)``: centroids =
    the n_centroids lowest-id vectors, integer-dot coarse quantizer with
    lowest-centroid tie-break, n_probe probing, exact cosine rerank."""
    q = _QUANT_SQL.format(v=vec, s=scale)
    return f"""
        WITH e AS (
            SELECT {vec_id} AS vec_id, CAST({vec} AS DOUBLE[]) AS v, {q} AS q
            FROM {table}
        ),
        cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cq
            FROM e ORDER BY vec_id LIMIT {n_centroids}
        ),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.q, c.cq) DESC, c.cid
                       ) AS rn
                FROM e, cent c
            ) WHERE rn = 1
        ),
        qs AS (
            SELECT vec_id AS query_id, v AS qv, q AS qq
            FROM e WHERE {query_pred}
        ),
        probe AS (
            SELECT query_id, cid FROM (
                SELECT qs.query_id, c.cid,
                       row_number() OVER (
                           PARTITION BY qs.query_id
                           ORDER BY list_dot_product(qs.qq, c.cq) DESC, c.cid
                       ) AS rn
                FROM qs, cent c
            ) WHERE rn <= {n_probe}
        ),
        cand AS (
            SELECT DISTINCT p.query_id, a.vec_id
            FROM probe p JOIN assign a ON a.cid = p.cid
        ),
        scored AS (
            SELECT cand.query_id, cand.vec_id,
                   round(list_cosine_similarity(qs.qv, e.v), 6) AS cosine
            FROM cand
            JOIN qs ON qs.query_id = cand.query_id
            JOIN e ON e.vec_id = cand.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def embedding_dedup_sql(
    table: str,
    tau: float,
    dim: int,
    n_planes: int = 8,
    scale: int = 1000,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB mirror of ``embedding_dedup_pairs(..., int_planes=True)``:
    pairs (a < b) sharing an integer-plane LSH bucket with cosine >= tau."""
    q = _QUANT_SQL.format(v=vec, s=scale)
    return f"""
        WITH e AS (
            SELECT {vec_id} AS vec_id, CAST({vec} AS DOUBLE[]) AS v, {q} AS q
            FROM {table}
        ),
        b AS (SELECT vec_id, v, ({_bucket_sql(dim, n_planes)}) AS bucket FROM e)
        SELECT a.vec_id AS id_a, c.vec_id AS id_b,
               round(list_cosine_similarity(a.v, c.v), 6) AS cosine
        FROM b a JOIN b c ON a.bucket = c.bucket
        WHERE a.vec_id < c.vec_id
          AND round(list_cosine_similarity(a.v, c.v), 6) >= {tau}
    """
