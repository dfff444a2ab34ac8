"""Session-conf helpers shared by the sources and the operators."""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def arrow_enabled(sess):
    """Force the Arrow JVM<->Python path around a driver transfer
    (toPandas / createDataFrame-from-pandas) and restore whatever the
    session had.  The default row-pickled path is ~50x slower at the
    broadcast guard ceiling, and its schema inference rejects a column
    whose sampled values are all None, which Arrow types as null."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    try:
        prev = sess.conf.get(key)
    except Exception:
        prev = None
    try:
        sess.conf.set(key, "true")
        yield
    finally:
        if prev is not None:
            sess.conf.set(key, prev)
        else:
            sess.conf.unset(key)
