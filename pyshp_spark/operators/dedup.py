"""Deduplication operators for web-scale corpora.

Four families, all shuffle-conscious:

- exact:     hash-groupBy on normalized text — one shuffle, map-side
             partial agg for the counts.
- ngram Jaccard: word-token blocking self-join — distinct (doc, token)
             explode, token equi-join, intersection counts vs set
             sizes; exactly mirrorable in SQL (DuckDB oracle).
- MinHash + LSH: shingle -> 64-perm signature (vectorized numpy in a
             pandas UDF) -> band hashes -> equi-join on (band, hash) ->
             candidate pairs -> exact-Jaccard verify.  The classic
             near-dup pipeline; only signature computation touches
             Python, all pairing is JVM joins.
- SimHash:   64-bit sign-sum sketch; pigeonhole banding on 16-bit
             chunks pairs anything within Hamming distance <= 3.

Embedding-cosine near-dup lives in operators/similarity.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from pyshp_spark.operators.text import tokens_expr

# ------------------------------------------------------------- exact ----


def exact_dedup(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Group identical normalized texts; keep the smallest key as the
    canonical row.  Returns (keeper_id, dup_count) per distinct text."""
    norm = F.lower(F.trim(F.col(text)))
    return (
        df.groupBy(norm.alias("norm_text"))
        .agg(F.min(key).alias("keeper_id"), F.count("*").alias("dup_count"))
    )


# ----------------------------------------------------- n-gram Jaccard ----


def token_jaccard_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    threshold: float = 0.5,
    max_df: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """All pairs (a < b) with word-token-set Jaccard >= threshold.

    ``checkpoint=True`` (default) materializes the pair-sized result
    eagerly so the postings caches can be released; pass False to get
    the lazy plan (e.g. for plan inspection) — the caches then stay
    until session GC.

    Plan: distinct (doc, token) -> self equi-join on token (the
    blocking join; a token acts as an inverted-index posting) ->
    groupBy pair -> |intersection| vs |A|+|B|-|inter|.

    ``max_df`` is the scale guard: without it a token appearing in D
    documents emits D^2 candidate rows, so one hot stopword makes the
    plan quadratic in corpus size.  With ``max_df=K`` tokens whose
    document frequency exceeds K are dropped from the token sets
    (classic stopword pruning; Jaccard is then defined over the capped
    sets, exactly mirrorable in SQL), bounding per-token fan-out at K^2
    and making total work ~linear in corpus size for fixed K.  The df
    filter is ONE windowed count over the tok-partitioned postings —
    the same hash partitioning the self-join needs, so the cached
    frame's partitioning feeds both join sides with no further
    exchange (the old separate aggregate + broadcast anti join cost an
    extra pass over the postings; A/B-measured ~2x slower end to end).
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    toks = (
        df.select(F.col(key).alias("id"), F.explode(tokens_expr(F.col(text))).alias("tok"))
        .distinct()
    )
    # the postings table feeds both join sides and the set sizes —
    # without materialization the tokenize+distinct subtree recomputes
    # once per plan leaf; the cache is released after the (pair-sized,
    # much smaller) result materializes
    cached = []
    if max_df is not None:
        toks = (
            toks.withColumn(
                "__df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
            )
            .where(F.col("__df") <= max_df)
            .drop("__df")
        )
    toks = toks.persist()
    cached.append(toks)
    sizes = toks.groupBy("id").agg(F.count("*").alias("nset"))
    a = toks.select(F.col("id").alias("id_a"), "tok")
    b = toks.select(F.col("id").alias("id_b"), "tok")
    inter = (
        a.join(b, on="tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("nset", "na"), on="id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("nset", "nb"), on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    out = out.select("id_a", "id_b", "n_inter", "jaccard")
    if checkpoint:
        out = out.localCheckpoint(eager=True)
        for c in cached:
            c.unpersist()
    return out


# ------------------------------------------------------------ MinHash ----

_MERSENNE = (1 << 61) - 1
_U64 = 1 << 64
_FP_BASE_I = 1099511628211  # FNV-ish polynomial base (same as text.fingerprint64)
_FP_OFFSET_I = 14695981039346656037  # empty-input sentinel (FNV offset basis)
_MIX_MULT = 2685821657736338717  # xorshift64* multiplier (< 2^62: HUGEINT-safe)


def _hash64(b: bytes) -> int:
    """Deterministic 64-bit base hash: polynomial Horner over the bytes
    (h = h*B + byte + 1 mod 2^64, the text.fingerprint64 recurrence)
    followed by an xorshift64*-style finalizer so short inputs still
    fill all 64 bits.  Replaced md5 in round 3: the Horner form
    vectorizes across a whole Arrow batch in numpy (md5 was the one
    per-item Python loop left on a 100 TB-relevant path) while DuckDB
    still computes the identical value (list_reduce Horner + UBIGINT
    xor/shift finalizer — see _hash64_sql/_finalize_ctes)."""
    h = 0
    for byte in b:
        h = (h * _FP_BASE_I + byte + 1) % _U64
    if not b:
        h = _FP_OFFSET_I
    h ^= h >> 33
    h = (h * _MIX_MULT) % _U64
    h ^= h >> 29
    return h


_HASH_CHUNK = 16384  # items per padded matrix (~2 MB at 16-byte items)
_HASH_LONG_ITEM = 512  # items longer than this hash via the scalar path


def _hash64_np(items: list[bytes]) -> np.ndarray:
    """Vectorized :func:`_hash64` over a batch of byte strings: scatter
    each chunk into a padded (chunk, maxlen) byte matrix, then maxlen
    fused numpy steps for the Horner fold and 5 for the finalizer — no
    per-item hashing loop.  Work is chunked so every temporary stays
    cache-resident: this host (like any oversubscribed node) is
    DRAM-bandwidth-starved, and a single full-batch padded matrix would
    run 10x slower than the same flops against L2.

    Items longer than ``_HASH_LONG_ITEM`` bytes take the scalar path
    instead: the padded matrix is O(chunk_rows * max_len), so ONE 64 kB
    unbroken token (base64 blob, long URL — routine in web corpora)
    would otherwise inflate a 16384-row chunk into gigabytes of
    temporaries.  Long items are rare by definition, so the per-item
    loop over them is negligible."""
    n = len(items)
    out = np.empty(n, dtype=np.uint64)
    base = np.uint64(_FP_BASE_I)
    one = np.uint64(1)
    for s in range(0, n, _HASH_CHUNK):
        chunk = items[s : s + _HASH_CHUNK]
        cn = len(chunk)
        lens = np.fromiter((len(b) for b in chunk), dtype=np.int64, count=cn)
        long_mask = lens > _HASH_LONG_ITEM
        has_long = bool(long_mask.any())
        if has_long:
            for i in np.flatnonzero(long_mask):
                out[s + int(i)] = _hash64(chunk[int(i)])
            lens = np.where(long_mask, 0, lens)
        total = int(lens.sum())
        h = np.zeros(cn, dtype=np.uint64)
        if total:
            max_len = int(lens.max())
            short = (
                b"".join(b for b in chunk if len(b) <= _HASH_LONG_ITEM)
                if has_long
                else b"".join(chunk)
            )
            flat = np.frombuffer(short, dtype=np.uint8).astype(np.uint64)
            buf = np.zeros((cn, max_len), dtype=np.uint64)
            ends = np.cumsum(lens)
            rows = np.repeat(np.arange(cn), lens)
            cols = np.arange(total) - np.repeat(ends - lens, lens)
            buf[rows, cols] = flat
            for j in range(max_len):
                h = np.where(j < lens, h * base + buf[:, j] + one, h)
        h[lens == 0] = np.uint64(_FP_OFFSET_I)
        h ^= h >> np.uint64(33)
        h *= np.uint64(_MIX_MULT)
        h ^= h >> np.uint64(29)
        if has_long:
            keep = ~long_mask
            out[s : s + cn][keep] = h[keep]
        else:
            out[s : s + cn] = h
    return out


def _hash64_sql(x: str) -> str:
    """DuckDB mirror of the RAW Horner fold (pre-finalizer) of the
    utf-8 bytes of VARCHAR expression ``x``; finalize with
    :func:`_finalize_ctes`."""
    bytes_ = (
        f"list_transform(range(0, octet_length(encode({x}))), "
        f"i -> (('0x' || substr(hex(encode({x})), 2*i+1, 2))::INTEGER)::HUGEINT)"
    )
    return (
        f"CASE WHEN octet_length(encode({x})) = 0 THEN {_FP_OFFSET_I}::HUGEINT "
        f"ELSE list_reduce(list_prepend(0::HUGEINT, {bytes_}), "
        f"(acc, b) -> (acc * {_FP_BASE_I}::HUGEINT + b + 1::HUGEINT)"
        f" % {_U64}::HUGEINT) END"
    )


def _shingle_hash_ctes(key: str, width: int) -> str:
    """CTE chain mirroring the token-hash shingle pipeline: from a CTE
    ``tk({key}, tks)`` to ``hv({key}, h)`` with one row per window
    shingle hash.  Token hashes (Horner + finalizer, nested
    list_transforms so nothing is evaluated twice) combine into window
    hashes with the :func:`_shingle_mults` odd-multiplier sum — exact
    HUGEINT arithmetic matching numpy's uint64 wrap-around."""
    mults = _shingle_mults(width)
    lt = f"list_transform(tks, t -> {_hash64_sql('t')})"
    lt = (
        f"list_transform({lt}, "
        f"h -> xor(CAST(h AS UBIGINT), CAST(h AS UBIGINT) >> 33))"
    )
    lt = (
        f"list_transform({lt}, h -> CAST((h::HUGEINT * {_MIX_MULT}::HUGEINT)"
        f" % {_U64}::HUGEINT AS UBIGINT))"
    )
    lt = f"list_transform({lt}, h -> xor(h, h >> 29)::HUGEINT)"
    mult_case = " ".join(
        f"WHEN {j} THEN {mults[j]}::HUGEINT" for j in range(width)
    )
    win = " + ".join(
        f"(th[i+{j + 1}] * {mults[j]}::HUGEINT) % {_U64}::HUGEINT"
        for j in range(width)
    )
    return f"""th AS (SELECT {key}, {lt} AS th FROM tk),
        shh AS (
            SELECT {key},
                CASE WHEN len(th) = 0 THEN []::HUGEINT[]
                     WHEN len(th) < {width} THEN
                        [CAST(list_sum(list_transform(range(0, len(th)),
                            j -> (th[j+1] * (CASE j {mult_case} END))
                                 % {_U64}::HUGEINT)) AS HUGEINT)
                         % {_U64}::HUGEINT]
                     ELSE list_transform(range(0, len(th) - {width - 1}),
                         i -> ({win}) % {_U64}::HUGEINT)
                END AS shs
            FROM th
        ),
        hv AS (SELECT {key}, s.h AS h FROM shh, unnest(shs) AS s(h))"""


def _finalize_ctes(key: str, src: str = "hv") -> str:
    """CTE chain applying the xorshift64*-style finalizer to column
    ``h0`` of CTE ``src`` (one row per (key, item)); yields
    ``hf({key}, h)`` with h HUGEINT in [0, 2^64).  UBIGINT xor/shift
    match numpy's uint64 exactly; the multiply runs in HUGEINT
    (operands < 2^64 * 2^62 fit signed 128-bit)."""
    return f"""hx1 AS (
            SELECT {key}, xor(CAST(h0 AS UBIGINT), CAST(h0 AS UBIGINT) >> 33) AS h1
            FROM {src}
        ),
        hx2 AS (
            SELECT {key},
                   CAST((h1::HUGEINT * {_MIX_MULT}::HUGEINT)
                        % {_U64}::HUGEINT AS UBIGINT) AS h2
            FROM hx1
        ),
        hf AS (
            SELECT {key}, xor(h2, h2 >> 29)::HUGEINT AS h FROM hx2
        )"""


def _minhash_params(num_perm: int, seed: int = 1):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def shingles(text: str, width: int = 3) -> set[bytes]:
    """Word w-shingles of the lower-cased text, utf-8 encoded."""
    toks = [t for t in ("" if text is None else text).lower().split() if t]
    if len(toks) < width:
        return {" ".join(toks).encode()} if toks else set()
    return {" ".join(toks[i : i + width]).encode() for i in range(len(toks) - width + 1)}


def _shingle_mults(width: int) -> list[int]:
    """Odd 61-bit multipliers combining token hashes into a window
    (shingle) hash: sh = (sum_j th[i+j] * P_j) mod 2^64.  Multiplying
    by an odd constant mod 2^64 is a bijection, so every bit of every
    (already-finalized) token hash feeds the shingle hash; keeping
    P < 2^61 keeps th*P inside signed 128-bit for the SQL mirror."""
    return [((0x9E3779B97F4A7C15 * (j + 1)) % (1 << 61)) | 1 for j in range(width)]


def _window_hashes_np(
    th: np.ndarray, tcounts: np.ndarray, width: int, mults: list[int]
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc word-shingle hashes from flattened per-token hashes.

    A doc with n >= width tokens yields its n-width+1 windows; a doc
    with 0 < n < width yields ONE shingle over all its tokens (same
    shape as the string-shingle rule in :func:`shingles`); empty docs
    yield none.  Fully vectorized — the only loop is over the width.
    Returns (flat shingle hashes in doc order, shingles per doc)."""
    tcounts = np.asarray(tcounts, dtype=np.int64)
    tstarts = np.cumsum(tcounts) - tcounts
    wfull = np.where(tcounts >= width, tcounts - width + 1, 0)
    short_mask = (tcounts > 0) & (tcounts < width)
    sh_counts = wfull + short_mask.astype(np.int64)
    outstarts = np.cumsum(sh_counts) - sh_counts
    out = np.zeros(int(sh_counts.sum()), dtype=np.uint64)
    total_w = int(wfull.sum())
    if total_w:
        head = np.cumsum(wfull) - wfull
        within = np.arange(total_w) - np.repeat(head, wfull)
        ws = np.repeat(tstarts, wfull) + within
        acc = np.zeros(total_w, dtype=np.uint64)
        for j in range(width):
            acc += th[ws + j] * np.uint64(mults[j])
        out[np.repeat(outstarts, wfull) + within] = acc
    sidx = np.flatnonzero(short_mask)
    if len(sidx):
        sacc = np.zeros(len(sidx), dtype=np.uint64)
        for j in range(width - 1):
            m = tcounts[sidx] > j
            sacc[m] += th[(tstarts[sidx] + j)[m]] * np.uint64(mults[j])
        out[outstarts[sidx]] = sacc
    return out, sh_counts


def _doc_blocks(seg_starts: np.ndarray, seg_ends: np.ndarray, block: int):
    """Yield (k, k2, lo, hi): runs of consecutive docs whose flattened
    items [lo:hi) stay under ~``block`` rows, so the (rows, 64) affine/
    bit temporaries stay cache-resident — materializing them at full
    batch size is 10-15x slower on DRAM-bandwidth-bound hosts."""
    k = 0
    n = len(seg_starts)
    while k < n:
        k2 = int(np.searchsorted(seg_ends, seg_starts[k] + block, side="right"))
        k2 = max(k2, k + 1)  # always take at least one doc
        yield k, k2, int(seg_starts[k]), int(seg_ends[k2 - 1])
        k = k2


_SKETCH_BLOCK = 4096  # items per affine/vote block (x64 perms ~ 2 MB, L2-ish)


def minhash_udf(num_perm: int = 64, width: int = 3, seed: int = 1):
    """Signature UDF, vectorized across the WHOLE Arrow batch: all
    TOKENS of all docs are hashed in one :func:`_hash64_np` call (a
    token is ~1/width the bytes of a string shingle, and no per-window
    join/encode strings are ever built), windows combine into shingle
    hashes in one numpy pass (:func:`_window_hashes_np`), and the
    affine perms + per-doc minima run in cache-sized doc blocks
    (``np.minimum.reduceat`` per block).  The only per-doc Python left
    is ``str.lower().split()``."""
    a, b = _minhash_params(num_perm, seed)
    mults = _shingle_mults(width)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        tok_lists = [("" if t is None else t).lower().split() for t in texts]
        tcounts = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        out = np.zeros((len(tok_lists), num_perm), dtype=np.int64)
        if tcounts.sum():
            th = _hash64_np([t.encode() for ts in tok_lists for t in ts])
            base, counts = _window_hashes_np(th, tcounts, width, mults)
            nz = np.flatnonzero(counts)
            seg_starts = (np.cumsum(counts) - counts)[nz]
            seg_ends = seg_starts + counts[nz]
            m = np.uint64(_MERSENNE)
            for k, k2, lo, hi in _doc_blocks(seg_starts, seg_ends, _SKETCH_BLOCK):
                vals = (a[None, :] * base[lo:hi, None] + b[None, :]) % m
                out[nz[k:k2]] = np.minimum.reduceat(
                    vals, seg_starts[k:k2] - lo, axis=0
                ).astype(np.int64)
        return pd.Series(list(out))

    return sig


def true_jaccard_udf(width: int = 3):
    """Exact token-shingle Jaccard over a (text_a, text_b) pair column
    — the verification kernel for every banded candidate set (MinHash
    batch + streaming).  Factorizes both sides together so each UNIQUE
    text shingles exactly once per Arrow batch (a hot doc appearing in
    k candidate pairs pays one shingles() call, not k), then hashes
    each unique shingle set into one sorted-unique int64 array and
    counts per-pair intersections with a single lexsort over
    (pair_id, hash) — adjacent equal keys are exactly the common
    shingles, so there is NO per-pair Python loop at all.  Shingles are
    compared by 64-bit hash; a collision (P ~ s^2 / 2^64 per doc,
    ~1e-15 at web-doc shingle counts) is the only way this can differ
    from exact string-set Jaccard."""

    @F.pandas_udf("double")
    def true_jaccard(ta: pd.Series, tb: pd.Series) -> pd.Series:
        both = pd.concat([ta, tb], ignore_index=True).fillna("")
        codes, uniques = pd.factorize(both)
        arrs = []
        for u in uniques:
            sh = shingles(u, width)
            if sh:
                arrs.append(np.unique(_hash64_np(list(sh))))
            else:
                arrs.append(np.empty(0, dtype=np.uint64))
        sizes = np.fromiter(
            (a.size for a in arrs), dtype=np.int64, count=len(arrs)
        )
        n = len(ta)
        ca, cb = codes[:n], codes[n:]
        la, lb = sizes[ca], sizes[cb]
        union_max = la + lb
        if n == 0 or int(union_max.sum()) == 0:
            return pd.Series(np.zeros(n))
        # flat (pair_id, hash) table over every pair's two sorted-unique
        # arrays; after lexsort, duplicates within a pair are precisely
        # the intersection members.  Processed in element-budgeted
        # CHUNKS of pairs: the flat table replicates a hot doc's array
        # once per pair, so an unchunked batch of 10k pairs sharing one
        # fat doc would materialize gigabytes — the budget caps scratch
        # at ~tens of MB regardless of batch shape.
        inter = np.zeros(n, dtype=np.int64)
        budget = 1 << 22  # flat elements per chunk (~32 MB with index)
        bounds = np.searchsorted(
            np.cumsum(union_max), np.arange(budget, union_max.sum(), budget)
        )
        starts = [0, *[int(b) + 1 for b in bounds], n]
        for s, e in zip(starts, starts[1:]):
            if s >= e:
                continue
            m = e - s
            um = union_max[s:e]
            pair_ids = np.repeat(np.arange(m), um)
            vals = np.concatenate(
                [x for i in range(s, e) for x in (arrs[ca[i]], arrs[cb[i]])]
            )
            order = np.lexsort((vals, pair_ids))
            pv, vv = pair_ids[order], vals[order]
            dup = (pv[1:] == pv[:-1]) & (vv[1:] == vv[:-1])
            inter[s:e] = np.bincount(pv[1:][dup], minlength=m)
        union = union_max - inter
        out = np.divide(
            inter, union, out=np.zeros(n, dtype=np.float64),
            where=union > 0,
        )
        return pd.Series(out)

    return true_jaccard


def minhash_banded(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    width: int = 3,
    seed: int = 1,
) -> DataFrame:
    """(id, band, band_sig) banded MinHash signatures — the LSH unit
    both the batch pair pipeline and the streaming corpus store share.
    band_sig is the band's signature slice (arrays are hashable join
    keys, so equi-joining on (band, band_sig) is exact)."""
    rows_per_band = num_perm // bands
    sig = minhash_udf(num_perm, width, seed)
    with_sig = df.select(F.col(key).alias("id"), sig(F.col(text)).alias("__sig"))
    return with_sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("__sig"), i * rows_per_band + 1, rows_per_band)
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )


def minhash_dedup_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    width: int = 3,
    threshold: float = 0.5,
    seed: int = 1,
    checkpoint: bool = True,
    precomputed_bands: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs with exact-Jaccard verification.

    ``precomputed_bands``: an already-materialized ``minhash_banded``
    output for ``df`` (same num_perm/bands/width/seed) — callers that
    need the banded signatures for their own joins (the streaming
    corpus check) pass it to avoid running the signature UDF twice.

    ``checkpoint=True`` (default) persists the banded signatures (they
    feed BOTH sides of the band self-join — without it the signature
    UDF subtree computes twice) and materializes the pair-sized result
    eagerly so the cache is released; pass False for the lazy plan.

    bands * rows_per_band == num_perm; a pair collides when any band's
    signature slice matches.  Candidates are verified with the true
    token-shingle Jaccard (vectorized pandas UDF over the joined texts)
    so output has no false positives w.r.t. ``threshold``.

    Shuffle shape: the band explode and equi-join carry ONLY
    (id, band, band_sig) — never the document text.  Texts are attached
    to the (far smaller, deduped) candidate-pair set by two joins
    against the source table just before the verify UDF; at corpus
    scale the band exchange is signature-sized instead of 16 copies of
    every document.
    """
    # join directly on the band's signature slice (arrays are hashable
    # join keys): no 32-bit band-hash collisions, and the candidate set
    # is exactly SQL-mirrorable (see minhash_pairs_sql)
    if precomputed_bands is not None:
        banded = precomputed_bands
    else:
        banded = minhash_banded(df, key, text, num_perm, bands, width, seed)
        if checkpoint:
            banded = banded.persist()

    left = banded.select(F.col("id").alias("id_a"), "band", "band_sig")
    right = banded.select(F.col("id").alias("id_b"), "band", "band_sig")
    pair_ids = (
        left.join(right, on=["band", "band_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    texts = df.select(F.col(key).alias("__tid"), F.col(text).alias("__t"))
    cand = (
        pair_ids.join(
            texts.select(
                F.col("__tid").alias("id_a"), F.col("__t").alias("__txt_a")
            ),
            on="id_a",
        )
        .join(
            texts.select(
                F.col("__tid").alias("id_b"), F.col("__t").alias("__txt_b")
            ),
            on="id_b",
        )
    )

    true_jaccard = true_jaccard_udf(width)

    out = (
        cand.withColumn("jaccard", F.round(true_jaccard("__txt_a", "__txt_b"), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if checkpoint:
        out = out.localCheckpoint(eager=True)
        if precomputed_bands is None:
            banded.unpersist()  # never release a caller-owned frame
    return out


# ------------------------------------------ cluster resolution ----------


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    on_round=None,
) -> DataFrame:
    """(id, root) for every id in the pair-edge graph; root = the
    smallest id in the connected component.

    Min-label propagation with pointer doubling: each round every node
    takes the minimum of (its label, its neighbors' labels, its LABEL's
    label).  The neighbor step moves labels one hop; the doubling step
    halves the remaining distance to the component root, so rounds are
    O(log diameter) — a million-node chain resolves in ~20 rounds, not
    a million (``max_iter`` is the backstop and raises if hit).  All
    data work is joins + groupBy-min; the driver only orchestrates.

    Durability / per-round cost:

    * Each round runs ONE job: the new labels carry the previous label
      as a ``__old`` column, so materializing them and counting the
      changed rows is a single scan — no separate convergence join.
    * Every ``checkpoint_every`` rounds the labels are checkpointed to
      truncate plan depth and lineage.  With ``checkpoint_dir`` set
      this is a RELIABLE ``checkpoint()`` (HDFS/disk — survives
      executor loss, the right mode for a multi-hour 100 TB run);
      without it, ``localCheckpoint`` (executor-memory blocks, NOT
      fault-tolerant — one lost executor kills a long run, fine for
      short jobs).  Off-rounds use cache, and the PREVIOUS round's
      cache is released once the new one is materialized, so peak
      storage is O(1) rounds, not O(rounds).
    * ``on_round(round_idx, labels_df)`` is called after each round —
      a test/monitoring hook (e.g. simulate cache eviction).
    """
    spark = pairs.sparkSession
    reliable = checkpoint_dir is not None
    if reliable and spark.sparkContext.getCheckpointDir() is None:
        # the checkpoint dir is session-global: configure it only when
        # unset, so we never silently redirect another component's
        # checkpoints — an already-configured dir takes precedence
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(
            eager=True
        )

    und = _truncate(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = _truncate(
        und.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id"))
    )
    prev_cached: DataFrame | None = None
    for r in range(max_iter):
        nbr = (
            und.join(labels.select(F.col("id").alias("b"), "lbl"), on="b")
            .select(F.col("a").alias("id"), "lbl")
            .groupBy("id")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(nbr, on="id", how="left").select(
            "id",
            F.col("lbl").alias("__old"),
            F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
        )
        # pointer doubling: follow my label to ITS label and take the
        # min — jumps 2^r-hop chains in r rounds
        hop = stepped.select(F.col("id").alias("lbl"), F.col("lbl").alias("lbl2"))
        new = stepped.join(hop, on="lbl", how="left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("lbl2", "lbl")).alias("lbl"),
            "__old",
        )
        if (r + 1) % checkpoint_every == 0:
            new = _truncate(new)  # materializes (eager) AND cuts lineage
        else:
            new = new.persist()
        # ONE action: materializes the cache/checkpoint scan and counts
        # the changed rows in the same pass over the new labels
        changed = new.where(F.col("lbl") != F.col("__old")).count()
        if prev_cached is not None:
            prev_cached.unpersist()
            prev_cached = None
        if new.storageLevel.useMemory or new.storageLevel.useDisk:
            prev_cached = new
        labels = new.select("id", "lbl")
        if on_round is not None:
            on_round(r, labels)
        if changed == 0:
            out = labels.select("id", F.col("lbl").alias("root"))
            # detach the result from the soon-to-be-unpersisted cache
            out = _truncate(out)
            if prev_cached is not None:
                prev_cached.unpersist()
            return out
    # non-convergence: release the last round's pinned blocks before
    # raising, so repeated failed runs don't leak executor storage
    if prev_cached is not None:
        prev_cached.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def neardup_keepers(
    df: DataFrame, pairs: DataFrame, key: str = "doc_id"
) -> DataFrame:
    """(key, keeper_id, is_dup) for EVERY row of ``df``: keeper_id is
    the smallest id in the row's near-dup cluster (itself when it has
    no near-duplicates).  ``pairs`` is any near-dup pair set (MinHash,
    SimHash, embedding) with id_a < id_b columns.  Filter the corpus
    with ``is_dup = false`` to keep one canonical doc per cluster."""
    cc = connected_components(pairs)
    return (
        df.select(F.col(key))
        .join(cc.withColumnRenamed("id", key), on=key, how="left")
        .select(
            key,
            F.coalesce("root", F.col(key)).alias("keeper_id"),
            (F.coalesce("root", F.col(key)) != F.col(key)).alias("is_dup"),
        )
    )


def neardup_keepers_sql(pairs_sql: str, table: str, key: str = "doc_id") -> str:
    """DuckDB mirror of ``neardup_keepers`` over the pair set produced
    by ``pairs_sql`` (any of the exact pair mirrors): undirected
    transitive closure via a recursive CTE, keeper = min reachable id."""
    return f"""
        WITH RECURSIVE edges AS ({pairs_sql}),
        und AS (
            SELECT id_a AS a, id_b AS b FROM edges
            UNION
            SELECT id_b AS a, id_a AS b FROM edges
        ),
        reach(a, b) AS (
            SELECT a, b FROM und
            UNION
            SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        ),
        keeper AS (
            SELECT a AS id, least(a, min(b)) AS keeper FROM reach GROUP BY a
        )
        SELECT d.{key},
               COALESCE(k.keeper, d.{key}) AS keeper_id,
               COALESCE(k.keeper, d.{key}) <> d.{key} AS is_dup
        FROM {table} d LEFT JOIN keeper k ON k.id = d.{key}
    """


# ------------------------------------------- sketch SQL oracles ----------


def minhash_sig0_sql(table: str, key: str = "doc_id", text: str = "text",
                     num_perm: int = 64, width: int = 3, seed: int = 1) -> str:
    """DuckDB query computing the FIRST minhash signature element for
    every row of ``table`` — the exact mirror of
    ``element_at(minhash_udf()(text), 1)`` (the numpy side's uint64
    wrap-around is reproduced with explicit mod-2^64 steps)."""
    a, b = _minhash_params(num_perm, seed)
    a0, b0 = int(a[0]), int(b[0])
    return f"""
        WITH tk AS (
            SELECT {key}, list_filter(regexp_split_to_array(lower({text}), '\\s+'),
                                      x -> x <> '') AS tks
            FROM {table}
        ),
        {_shingle_hash_ctes(key, width)},
        sig AS (
            SELECT {key},
                min((({a0}::HUGEINT * h) % {_U64}::HUGEINT + {b0}::HUGEINT)
                    % {_U64}::HUGEINT % {_MERSENNE}::HUGEINT) AS sig0
            FROM hv GROUP BY {key}
        )
        SELECT t.{key}, CAST(COALESCE(s.sig0, 0) AS BIGINT) AS sig0
        FROM tk t LEFT JOIN sig s USING ({key})
    """


def minhash_pairs_sql(table: str, key: str = "doc_id", text: str = "text",
                      num_perm: int = 64, bands: int = 16, width: int = 3,
                      threshold: float = 0.5, seed: int = 1,
                      where: str = "TRUE") -> str:
    """DuckDB query mirroring the ENTIRE MinHash-LSH near-dup pipeline
    (``minhash_dedup_pairs``): 64 affine-permutation minima per doc,
    band slices as join keys, candidate pairs (a < b), exact
    shingle-set Jaccard verification at ``threshold``.  Docs with empty
    shingle sets produce no pairs on either side (their true Jaccard is
    0 < threshold)."""
    a, b = _minhash_params(num_perm, seed)
    rows_per_band = num_perm // bands
    mins = ",\n                ".join(
        f"CAST(min((({int(a[i])}::HUGEINT * h) % {_U64}::HUGEINT"
        f" + {int(b[i])}::HUGEINT) % {_U64}::HUGEINT"
        f" % {_MERSENNE}::HUGEINT) AS BIGINT) AS m{i}"
        for i in range(num_perm)
    )
    band_rows = "\n            UNION ALL ".join(
        f"SELECT {key}, {bi} AS band, "
        + " || ',' || ".join(
            f"m{bi * rows_per_band + j}::VARCHAR" for j in range(rows_per_band)
        )
        + " AS bs FROM sig"
        for bi in range(bands)
    )
    return f"""
        WITH tk AS (
            SELECT {key}, list_filter(regexp_split_to_array(lower({text}), '\\s+'),
                                      x -> x <> '') AS tks
            FROM {table} WHERE {where}
        ),
        sh AS (
            SELECT {key},
                CASE WHEN len(tks) = 0 THEN []::VARCHAR[]
                     WHEN len(tks) < {width} THEN [array_to_string(tks, ' ')]
                     ELSE list_transform(range(0, len(tks) - {width - 1}),
                                         i -> array_to_string(tks[i+1:i+{width}], ' '))
                END AS shingles
            FROM tk
        ),
        {_shingle_hash_ctes(key, width)},
        sig AS (
            SELECT {key},
                {mins}
            FROM hv GROUP BY {key}
        ),
        bands AS (
            {band_rows}
        ),
        cand AS (
            SELECT DISTINCT a.{key} AS id_a, b.{key} AS id_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.bs = b.bs
            WHERE a.{key} < b.{key}
        ),
        shd AS (
            SELECT {key}, list_distinct(shingles) AS ss FROM sh
        )
        SELECT id_a, id_b,
            round(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                  / (len(sa.ss) + len(sb.ss)
                     - len(list_intersect(sa.ss, sb.ss))), 6) AS jaccard
        FROM cand
        JOIN shd sa ON sa.{key} = cand.id_a
        JOIN shd sb ON sb.{key} = cand.id_b
        WHERE round(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                    / (len(sa.ss) + len(sb.ss)
                       - len(list_intersect(sa.ss, sb.ss))), 6) >= {threshold}
    """


def simhash_sql(table: str, key: str = "doc_id", text: str = "text") -> str:
    """DuckDB query computing the 64-bit simhash for every row of
    ``table`` — exact mirror of ``simhash_udf()`` (majority bit votes
    over the token multiset, signed-int64 mapping)."""
    h0 = _hash64_sql("t.tk")
    votes = ",\n                ".join(
        f"sum(((h // {1 << j}::HUGEINT) % 2)::BIGINT) AS b{j}" for j in range(64)
    )
    packed = " + ".join(
        f"(CASE WHEN 2 * b{j} >= n THEN {1 << j}::HUGEINT ELSE 0::HUGEINT END)"
        for j in range(64)
    )
    return f"""
        WITH tk AS (
            SELECT {key}, list_filter(regexp_split_to_array(lower({text}), '\\s+'),
                                      x -> x <> '') AS tks
            FROM {table}
        ),
        hv AS (
            SELECT {key}, {h0} AS h0
            FROM tk, unnest(tks) AS t(tk)
        ),
        {_finalize_ctes(key)},
        votes AS (
            SELECT {key}, count(*) AS n,
                {votes}
            FROM hf GROUP BY {key}
        ),
        packed AS (
            SELECT {key}, ({packed}) AS raw FROM votes
        )
        SELECT t.{key},
            CAST(COALESCE(
                CASE WHEN p.raw >= {1 << 63}::HUGEINT THEN p.raw - {_U64}::HUGEINT
                     ELSE p.raw END,
                0) AS BIGINT) AS simhash
        FROM tk t LEFT JOIN packed p USING ({key})
    """


def simhash_pairs_sql(table: str, key: str = "doc_id", text: str = "text",
                      max_hamming: int = 3, where: str = "TRUE") -> str:
    """DuckDB query mirroring ``simhash_dedup_pairs``: signatures via
    :func:`simhash_sql`, pigeonhole chunk banding, exact popcount
    verification (DuckDB xor/bit_count on BIGINT use two's complement,
    matching Spark's)."""
    n_chunks = max_hamming + 1
    base_w, extra = divmod(64, n_chunks)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_chunks)]
    chunk_rows = []
    shift = 0
    for ci, w in enumerate(widths):
        if w == 64:
            # one full-width chunk (max_hamming=0): the unsigned value
            # can exceed BIGINT — use the signed simhash directly
            cv = "simhash"
        else:
            cv = (
                f"CAST((us // {1 << shift}::HUGEINT)"
                f" % {1 << w}::HUGEINT AS BIGINT)"
            )
        chunk_rows.append(
            f"SELECT {key}, simhash, {ci} AS chunk_idx, {cv} AS cv FROM u"
        )
        shift += w
    chunks = "\n            UNION ALL ".join(chunk_rows)
    inner = simhash_sql(f"(SELECT * FROM {table} WHERE {where})", key, text)
    return f"""
        WITH s AS ({inner}),
        u AS (
            SELECT {key}, simhash,
                CASE WHEN simhash < 0 THEN simhash::HUGEINT + {_U64}::HUGEINT
                     ELSE simhash::HUGEINT END AS us
            FROM s
        ),
        chunks AS (
            {chunks}
        ),
        cand AS (
            SELECT DISTINCT a.{key} AS id_a, b.{key} AS id_b,
                   a.simhash AS sh_a, b.simhash AS sh_b
            FROM chunks a JOIN chunks b
              ON a.chunk_idx = b.chunk_idx AND a.cv = b.cv
            WHERE a.{key} < b.{key}
        )
        SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


# ------------------------------------------------------------ SimHash ----


def hamming_band_exprs(col, max_hamming: int) -> list:
    """Pigeonhole banding for 64-bit signatures: split into
    ``max_hamming + 1`` contiguous chunks (widths as equal as possible).
    A pair within Hamming distance max_hamming cannot differ in every
    chunk, so equi-joining on any chunk guarantees recall for ANY
    max_hamming in [0, 63]."""
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63]")
    n_chunks = max_hamming + 1
    base, extra = divmod(64, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    exprs = []
    shift = 0
    for w in widths:
        e = F.shiftrightunsigned(col, shift)
        if w < 64:
            e = e.bitwiseAND(F.lit((1 << w) - 1))
        exprs.append(e)
        shift += w
    return exprs


def simhash_udf():
    """SimHash UDF, vectorized across the WHOLE Arrow batch: all tokens
    of all docs hashed in one :func:`_hash64_np` call, per-doc bit
    votes via ``np.add.reduceat`` over cache-sized doc blocks."""
    shifts = np.arange(64, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def sh(texts: pd.Series) -> pd.Series:
        tok_lists = [
            ("" if t is None else t).lower().split() for t in texts
        ]
        counts = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        out = np.zeros(len(tok_lists), dtype=np.uint64)
        if counts.sum():
            h64 = _hash64_np(
                [t.encode() for ts in tok_lists for t in ts]
            )
            nz = np.flatnonzero(counts)
            seg_starts = (np.cumsum(counts) - counts)[nz]
            seg_ends = seg_starts + counts[nz]
            for k, k2, lo, hi in _doc_blocks(seg_starts, seg_ends, _SKETCH_BLOCK):
                bits = ((h64[lo:hi, None] >> shifts[None, :]) & np.uint64(1)).astype(
                    np.int64
                )
                votes = np.add.reduceat(bits, seg_starts[k:k2] - lo, axis=0)
                v = (votes * 2 >= counts[nz[k:k2], None]).astype(np.uint64)
                out[nz[k:k2]] = (v << shifts[None, :]).sum(axis=1, dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return sh


def simhash_dedup_pairs(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate pairs within Hamming distance <= max_hamming via
    pigeonhole banding, verified with an exact popcount.

    The 64-bit signature is split into ``max_hamming + 1`` contiguous
    chunks (widths as equal as possible): a pair with at most
    max_hamming differing bits cannot differ in every chunk, so it must
    collide on at least one — the recall guarantee holds for ANY
    max_hamming in [0, 63], not just the classic 4x16 split."""
    chunk_exprs = hamming_band_exprs(F.col("sh"), max_hamming)
    with_sig = df.select(F.col(key).alias("id"), simhash_udf()(F.col(text)).alias("sh"))
    chunks = with_sig.select(
        "id",
        "sh",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk_val"),
    )
    left = chunks.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "chunk_idx", "chunk_val"
    )
    right = chunks.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "chunk_idx", "chunk_val"
    )
    cand = (
        left.join(right, on=["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
