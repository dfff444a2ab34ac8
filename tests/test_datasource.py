"""Spark 4 Python Data Source for shapefiles:
spark.read.format("shapefile") parity with direct ingest, multi-file
partitioning, options, and bbox filter-pushdown pruning.

The layer is the synthetic blockgroups stand-in
(``fixture_shapefile_bytes``: 663 polygons, fields BKG_KEY, POP1990,
AREA and MEDIANRENT), written to a temporary directory."""

import pytest
from pyspark.sql import functions as F

from pyshp_spark.fixtures.polygons import fixture_shapefile_bytes
from pyshp_spark.sources.datasource import ShapefileDataSource
from pyshp_spark.sources.shapefile import shapefile_to_pandas


@pytest.fixture(scope="module", autouse=True)
def register(spark):
    spark.dataSource.register(ShapefileDataSource)


@pytest.fixture(scope="module")
def layer(tmp_path_factory):
    """(shp, dbf) paths of the 663-polygon fixture layer."""
    d = tmp_path_factory.mktemp("fixture_layer")
    for ext, buf in zip(("shp", "shx", "dbf"), fixture_shapefile_bytes()):
        (d / f"blockgroups.{ext}").write_bytes(buf)
    return str(d / "blockgroups.shp"), str(d / "blockgroups.dbf")


def test_format_read_matches_direct_ingest(spark, layer):
    shp_path, dbf_path = layer
    df = spark.read.format("shapefile").load(shp_path)
    assert df.count() == 663
    with open(shp_path, "rb") as f:
        shp = f.read()
    with open(dbf_path, "rb") as f:
        dbf = f.read()
    direct = shapefile_to_pandas(shp, dbf)
    got = df.where(F.col("oid") == 3).toPandas().iloc[0]
    want = direct[direct.oid == 3].iloc[0]
    assert got.num_points == want.num_points > 0
    for c in ("xmin", "ymin", "xmax", "ymax"):
        assert got[c] == want[c]
    field_cols = [c for c in direct.columns if c not in ("oid",)]
    assert set(field_cols) <= set(df.columns)


def test_directory_load_one_partition_per_file(spark, tmp_path, layer):
    import shutil

    d = tmp_path / "shpdir"
    d.mkdir()
    for name in ("a", "b"):
        shutil.copy(layer[0], d / f"{name}.shp")
        shutil.copy(layer[1], d / f"{name}.dbf")
    df = spark.read.format("shapefile").load(str(d))
    assert df.count() == 2 * 663
    assert df.rdd.getNumPartitions() == 2
    assert df.select("src").distinct().count() == 2


def test_bbox_option_prunes(spark, layer):
    full = spark.read.format("shapefile").load(layer[0])
    ext = full.agg(
        F.min("xmin"), F.min("ymin"), F.max("xmax"), F.max("ymax")
    ).collect()[0]
    midx = (ext[0] + ext[2]) / 2
    midy = (ext[1] + ext[3]) / 2
    boxed = (
        spark.read.format("shapefile")
        .option("bbox", f"{ext[0]},{ext[1]},{midx},{midy}")
        .load(layer[0])
    )
    n = boxed.count()
    assert 0 < n < 663
    # equals the Column-filter answer on the full scan (inclusive overlap)
    want = full.where(
        (F.col("xmin") <= midx) & (F.col("ymin") <= midy)
    ).count()
    assert n == want


def test_fields_projection_option(spark, layer):
    df = (
        spark.read.format("shapefile")
        .option("fields", "POP1990")
        .load(layer[0])
    )
    attr_cols = [c for c in df.columns if c not in (
        "src", "oid", "shape_type", "wkb", "xmin", "ymin", "xmax", "ymax",
        "num_parts", "num_points", "z", "m", "part_types",
    )]
    assert attr_cols == ["POP1990"]
    assert df.count() == 663


def test_filter_pushdown_prunes_and_stays_exact(spark, layer):
    """With spark.sql.python.filterPushdown.enabled, bbox-column
    comparisons reach the byte-level prune; results must equal the
    unpushed plan exactly (Spark re-applies all filters)."""
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        full = spark.read.format("shapefile").load(layer[0])
        ext = full.agg(
            F.min("xmin"), F.min("ymin"), F.max("xmax"), F.max("ymax")
        ).collect()[0]
        midx = (ext[0] + ext[2]) / 2
        midy = (ext[1] + ext[3]) / 2
        pred = (F.col("xmin") <= midx) & (F.col("ymin") <= midy)
        pushed = (
            spark.read.format("shapefile")
            .load(layer[0])
            .where(pred)
            .count()
        )
        want = full.where(pred).count()
        assert pushed == want > 0
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_write_roundtrip_through_both_readers(
    spark, tmp_path, layer, ref_shapefile
):
    """df.write.format('shapefile') emits one part-shapefile set per
    partition; reading back (our format reader AND the reference
    reader) reproduces counts, bboxes and attributes."""
    src = spark.read.format("shapefile").load(layer[0])
    keep = src.select(
        "shape_type", "wkb", "z", "m", "part_types",
        F.col("BKG_KEY"), F.col("POP1990"), F.col("MEDIANRENT"),
    ).repartition(2)
    out = str(tmp_path / "out_shp")
    keep.write.format("shapefile").mode("overwrite").save(out)

    back = spark.read.format("shapefile").load(out)
    assert back.count() == 663
    assert back.select("src").distinct().count() == 2  # one file per partition
    a = src.agg(F.sum("POP1990"), F.sum("MEDIANRENT")).collect()[0]
    b = back.agg(F.sum("POP1990"), F.sum("MEDIANRENT")).collect()[0]
    assert tuple(a) == tuple(b)
    # geometry survives: total vertex count and global extent
    ga = src.agg(F.sum("num_points"), F.min("xmin"), F.max("xmax")).collect()[0]
    gb = back.agg(F.sum("num_points"), F.min("xmin"), F.max("xmax")).collect()[0]
    assert ga[0] == gb[0]
    assert ga[1] == pytest.approx(gb[1]) and ga[2] == pytest.approx(gb[2])

    # the REFERENCE reader opens every part file
    import glob as g
    total = 0
    for p in sorted(g.glob(f"{out}/*.shp")):
        r = ref_shapefile.Reader(p[:-4])
        total += len(r)
        rec = r.record(0)
        assert isinstance(rec[0], str) and len(rec) == 3
    assert total == 663


def test_write_overwrite_replaces(spark, tmp_path, layer):
    src = spark.read.format("shapefile").load(layer[0])
    keep = src.select("shape_type", "wkb", "z", "m", "part_types",
                      F.col("POP1990")).limit(10).coalesce(1)
    out = str(tmp_path / "ow")
    keep.write.format("shapefile").mode("overwrite").save(out)
    keep.write.format("shapefile").mode("overwrite").save(out)
    back = spark.read.format("shapefile").load(out)
    assert back.count() == 10


def test_stream_read_picks_up_new_files_once(spark, tmp_path, layer):
    """readStream.format('shapefile'): each arriving .shp is processed
    exactly once across micro-batches (seen-file-log offsets)."""
    import shutil

    d = tmp_path / "landing"
    d.mkdir()
    shutil.copy(layer[0], d / "a.shp")
    shutil.copy(layer[1], d / "a.dbf")
    stream = spark.readStream.format("shapefile").load(str(d))
    assert stream.isStreaming
    out = stream.groupBy("src").count()
    q = (
        out.writeStream.format("memory")
        .queryName("shp_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = {r.src: r["count"] for r in spark.sql("SELECT * FROM shp_stream").collect()}
        assert list(n1.values()) == [663]
        shutil.copy(layer[0], d / "b.shp")
        shutil.copy(layer[1], d / "b.dbf")
        q.processAllAvailable()
        n2 = {r.src: r["count"] for r in spark.sql("SELECT * FROM shp_stream").collect()}
        assert sorted(n2.values()) == [663, 663]  # a.shp NOT reprocessed
    finally:
        q.stop()


def test_mixed_directory_missing_dbf_yields_nulls(spark, tmp_path, layer):
    """A directory mixing files with and without a sibling .dbf must not
    crash: the dbf-less file's attribute columns are null."""
    import shutil

    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(layer[0], d / "a.shp")
    shutil.copy(layer[1], d / "a.dbf")
    shutil.copy(layer[0], d / "b.shp")  # no b.dbf
    df = spark.read.format("shapefile").load(str(d))
    assert df.count() == 2 * 663
    per_src = (
        df.groupBy("src").agg(F.count("POP1990").alias("n_attr")).collect()
    )
    counts = {r.src.split("/")[-1]: r.n_attr for r in per_src}
    assert counts["a.shp"] == 663
    assert counts["b.shp"] == 0  # nulls, not a crash
