"""Operator-internal cache generations.

Two operators persist small shared subtrees: knn_join's round loop
(targets past the broadcast guard) and stratified_sample_n's
prefilter frames.  Those caches used to live until session GC, so an
ETL loop calling an operator N times accumulated N cached frames.
Each operator now registers its persisted frames as ONE generation:
the next call releases the previous call's frames, and
:func:`release_operator_caches` reclaims everything on demand.
Correctness is unaffected — the frames are lazy and
lineage-recoverable, so an already-returned result simply recomputes
if it is re-used after release.
"""

from __future__ import annotations

_OP_CACHES: dict[str, list] = {}


def release_operator_caches(op: str | None = None) -> None:
    """Unpersist the cached frames backing the most recent result of
    ``op`` (``"knn_join"``, ``"stratified_sample"``), or of every
    operator when None; an op holding nothing, such as the retired
    ``"pip_shuffle"`` (PIP join) and ``"assign_holes"`` (hole
    assignment), is a no-op.  Safe to call at any time — released
    results recompute through plain lineage."""
    ops = [op] if op is not None else list(_OP_CACHES)
    for o in ops:
        for f in _OP_CACHES.pop(o, []):
            try:
                f.unpersist()
            except Exception:
                pass


def _sem_hash(df):
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None


def register_op_caches(op: str, frames) -> None:
    """Adopt ``frames`` as ``op``'s live cache generation, releasing the
    previous one — bounds operator-internal storage at one generation
    per operator across a long-lived session.

    Previous-generation frames whose plan is SEMANTICALLY IDENTICAL to
    a newly registered frame are NOT unpersisted: Spark's CacheManager
    dedups persist() calls by canonicalized plan, so the new frame
    shares the old frame's cache entry — unpersisting it would evict
    the new frame's own data and force the shared subtree to recompute
    once per downstream branch (a repeated identical call would get
    slower instead of reusing the cache)."""
    new_frames = [f for f in frames if f is not None]
    new_keys = {h for f in new_frames if (h := _sem_hash(f)) is not None}
    for f in _OP_CACHES.pop(op, []):
        h = _sem_hash(f)
        if h is None or h not in new_keys:
            try:
                f.unpersist()
            except Exception:
                pass
    _OP_CACHES[op] = new_frames
