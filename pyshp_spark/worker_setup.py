"""Python-worker set-up: pin the worker's zip archives once per process.

At the start of every task Spark's Python worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), so that files shipped with ``addPyFile`` since the
last task become importable.  On CPython 3.11 that call makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole directory, once per package imported from the archive.  Spark puts
``pyspark.zip``, the py4j zip and the spark-core jar (5k+ entries) on
every worker's path, so each task paid 0.1-0.2 s of directory reads
before its UDF ran — more than the refine kernels at benchmark sizes.

Spark's own archives do not change while a worker lives.  Their
importers, cached and future, become :class:`PinnedZipImporter`, whose
``invalidate_caches`` keeps the directory already read, so imports
resolve exactly as before.  Zips under the SparkFiles root
(``addPyFile``, ``--py-files``) are user content and stay plain
``zipimporter``s, and the driver (no ``TaskContext``) is never touched.
"""

from __future__ import annotations

import os
import sys
import zipimport


class PinnedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose archive is fixed for the process's life."""

    def invalidate_caches(self):
        pass


def pin_zip_archives(files_root: str) -> None:
    """Pin every plain ``zipimporter`` whose archive lies outside
    ``files_root``: those already in ``sys.path_importer_cache``, and
    those the import system creates later (a package first imported by
    a later task gets an importer of its own).

    The class is swapped in place, so modules already loaded keep the
    very importer object they were loaded by."""
    user_dir = os.path.join(os.path.realpath(files_root), "")

    def pin(imp):
        if (type(imp) is zipimport.zipimporter
                and not os.path.realpath(imp.archive).startswith(user_dir)):
            imp.__class__ = PinnedZipImporter
        return imp

    def pinning_hook(path):
        return pin(zipimport.zipimporter(path))

    for imp in list(sys.path_importer_cache.values()):
        pin(imp)
    sys.path_hooks[:] = [
        pinning_hook if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]


def setup_worker() -> None:
    """Pin the archives when running inside a Spark task.

    Called once per process, when ``pyshp_spark`` is first imported; in
    a worker that is while the first library UDF is unpickled."""
    if "pyspark" not in sys.modules:  # not a Spark process: kernels only
        return
    from pyspark import SparkFiles, TaskContext  # noqa: PLC0415

    if TaskContext.get() is not None:
        pin_zip_archives(SparkFiles.getRootDirectory())
