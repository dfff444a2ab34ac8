"""Python-worker set-up: Spark's zip archives are pinned once per worker,
so the per-task ``importlib.invalidate_caches()`` no longer re-reads
their directories; user zips and the driver stay untouched."""

import importlib
import os
import sys
import zipfile
import zipimport

import numpy as np
import pytest
from pyspark.sql import Row

import pyshp_spark
from pyshp_spark.functions.cells import Grid
from pyshp_spark.kernels.wkb import wkb_polygon
from pyshp_spark.operators.spatial import point_in_polygon_join
from pyshp_spark.worker_setup import PinnedZipImporter, pin_zip_archives

GRID4 = Grid(x0=0.0, y0=0.0, dx=2.5, dy=2.5, width=1 << 10)


def _zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    return str(path)


@pytest.fixture
def fresh_imports(monkeypatch):
    """An empty importer cache and a copy of the path hooks for the
    test, so pinning never reaches the import state of the process
    running the suite."""
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    for name in ("pin_a", "pin_pkg", "pin_pkg.mod", "pin_user", "pin_late"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    return monkeypatch


def test_pin_stops_directory_rereads(tmp_path, fresh_imports):
    spark_zip = _zip(tmp_path / "lib.zip", {
        "pin_a.py": "A = 1\n",
        "pin_pkg/__init__.py": "",
        "pin_pkg/mod.py": "B = 2\n",
    })
    files_root = tmp_path / "userFiles"
    files_root.mkdir()
    user_zip = _zip(files_root / "dep.zip", {"pin_user.py": "U = 3\n"})
    fresh_imports.syspath_prepend(user_zip)
    fresh_imports.syspath_prepend(spark_zip)
    import pin_a  # noqa: F401
    import pin_user  # noqa: F401

    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    fresh_imports.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert sorted(reads) == sorted([spark_zip, user_zip])

    pin_zip_archives(str(files_root))
    cache = sys.path_importer_cache
    assert type(cache[spark_zip]) is PinnedZipImporter
    assert type(cache[user_zip]) is zipimport.zipimporter

    # importers created after the pin: a package of the pinned archive
    # is pinned too, a zip added under the SparkFiles root is not
    from pin_pkg import mod
    assert mod.B == 2
    assert type(cache[os.path.join(spark_zip, "pin_pkg")]) is PinnedZipImporter
    late_zip = _zip(files_root / "late.zip", {"pin_late.py": "L = 5\n"})
    fresh_imports.syspath_prepend(late_zip)
    import pin_late
    assert pin_late.L == 5
    assert type(cache[late_zip]) is zipimport.zipimporter

    reads.clear()
    importlib.invalidate_caches()
    assert sorted(reads) == sorted([user_zip, late_zip])


def _diamond_polys(spark):
    rows = []
    for pid, (cx, cy) in enumerate([(2.0, 2.0), (7.0, 7.0)]):
        ring = [(cx, cy + 1), (cx + 1, cy), (cx, cy - 1), (cx - 1, cy),
                (cx, cy + 1)]
        rows.append(Row(wkb=bytearray(wkb_polygon([ring])), xmin=cx - 1,
                        ymin=cy - 1, xmax=cx + 1, ymax=cy + 1, pid=pid))
    return spark.createDataFrame(rows)


def test_worker_pins_spark_archives(spark):
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in
         enumerate(np.random.default_rng(3).uniform(0, 9, (200, 2)))],
        "point_id long, x double, y double",
    ).repartition(4)
    point_in_polygon_join(pts, _diamond_polys(spark), grid=GRID4).count()

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa
        from pyspark import SparkFiles

        import pyshp_spark  # noqa: F401

        for _ in batches:
            pass
        user_dir = os.path.join(SparkFiles.getRootDirectory(), "")
        imps = [i for i in sys.path_importer_cache.values()
                if isinstance(i, zipimport.zipimporter)
                and not i.archive.startswith(user_dir)]
        yield pa.RecordBatch.from_pydict({
            "archive": [i.archive for i in imps],
            "cls": [type(i).__name__ for i in imps],
        })

    rows = (spark.range(4).repartition(4)
            .mapInArrow(probe, "archive string, cls string").collect())
    if not rows:
        pytest.skip("the Python workers import nothing from zip archives")
    assert {r.cls for r in rows} == {"PinnedZipImporter"}, rows
    assert any(r.archive.endswith("pyspark.zip") for r in rows)


def test_driver_import_leaves_cache_unchanged(spark, tmp_path, monkeypatch):
    drv_zip = _zip(tmp_path / "drv.zip", {"pin_drv.py": "D = 4\n"})
    monkeypatch.syspath_prepend(drv_zip)
    monkeypatch.delitem(sys.modules, "pin_drv", raising=False)
    import pin_drv  # noqa: F401

    before = {k: type(v) for k, v in sys.path_importer_cache.items()}
    hooks = list(sys.path_hooks)
    importlib.reload(pyshp_spark)
    after = {k: type(v) for k, v in sys.path_importer_cache.items()}
    assert after == before
    assert sys.path_hooks == hooks
    assert before[drv_zip] is zipimport.zipimporter
