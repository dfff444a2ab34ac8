"""Spark 4 Python Data Source for ESRI shapefiles.

The most idiomatic way to expose the ingest (SURVEY §2.1 S1/S3/S6):

    spark.dataSource.register(ShapefileDataSource)
    df = spark.read.format("shapefile").load("/data/shapes")  # dir or .shp

- one input partition per .shp file (the format's natural parallelism
  unit); executors parse bytes straight into Arrow RecordBatches;
- schema from every file's dbf header on the driver
  (``shapefile.layer_schema``), the rule ``read_shapefiles`` uses too;
- ``spark.readStream.format("shapefile")`` reads a landing directory,
  each new file parsed once in an executor task;
- options: ``bbox="x0,y0,x1,y1"`` (spatial pushdown at the byte level,
  reference sf.py:1683-1687 semantics), ``fields="A,B"`` (dbf column
  projection), ``encoding=``;
- bbox-comparison FILTER PUSHDOWN: predicates on the xmin/ymin/xmax/
  ymax columns are translated into the parser's 32-byte-prefix bbox
  prune.  Filters are reported back as unhandled, so Spark re-applies
  them exactly — the pushdown is a pruning hint, never a correctness
  dependency (strict vs inclusive bounds therefore cannot diverge).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from pyshp_spark.sources.shapefile import (
    GEOM_FIELDS,
    _paths,
    layer_schema,
    read_shapefile_table,
)


def _parse_bbox_option(s: str | None):
    if not s:
        return None
    vals = [float(v) for v in s.split(",")]
    if len(vals) != 4:
        raise ValueError("bbox option must be 'x0,y0,x1,y1'")
    return tuple(vals)


def _read_options(options) -> tuple[str, dict]:
    """The path option, and the per-file read's keyword arguments from
    the rest.  ``encodingErrors`` mirrors the reference reader's mode
    passed straight to bytes.decode (reference sf.py:493-517, default
    strict); both spellings are accepted."""
    path = options.get("path")
    if not path:
        raise ValueError("shapefile data source requires a path")
    f = options.get("fields")
    return path, {
        "bbox": _parse_bbox_option(options.get("bbox")),
        "fields": [c.strip() for c in f.split(",")] if f else None,
        "encoding": options.get("encoding", "utf-8"),
        "encoding_errors": options.get(
            "encodingErrors", options.get("encoding_errors", "strict")
        ),
    }


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ShapefileReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        self._path, self._read = _read_options(options)
        self._schema = to_arrow_schema(schema)

    def partitions(self):
        return [_FilePartition(p) for p in _paths(self._path)]

    def read(self, partition):
        # a file missing some of the layer's dbf columns (e.g. no sibling
        # .dbf in a mixed directory) yields nulls there, not a crash
        yield from read_shapefile_table(
            partition.path, self._schema, **self._read
        ).to_batches()


class ShapefilePushdownReader(ShapefileReader):
    """Reader variant with bbox filter pushdown — only handed out when
    spark.sql.python.filterPushdown.enabled is true (Spark refuses any
    reader that merely DEFINES pushFilters otherwise)."""

    def pushFilters(self, filters):
        """Translate bbox-column comparisons into the byte-level bbox
        prune; every filter is returned (= not handled), so Spark still
        applies them exactly — pruning only, no correctness transfer."""
        x0, y0, x1, y1 = self._read["bbox"] or (
            -float("inf"), -float("inf"), float("inf"), float("inf")
        )
        for flt in filters:
            col = getattr(flt, "attribute", None)
            val = getattr(flt, "value", None)
            name = col[0] if col and len(col) == 1 else None
            if isinstance(flt, (GreaterThan, GreaterThanOrEqual)) and (
                name == "xmax"
            ):
                x0 = max(x0, float(val))
            elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)) and (
                name == "ymax"
            ):
                y0 = max(y0, float(val))
            elif isinstance(flt, (LessThan, LessThanOrEqual)) and name == "xmin":
                x1 = min(x1, float(val))
            elif isinstance(flt, (LessThan, LessThanOrEqual)) and name == "ymin":
                y1 = min(y1, float(val))
        if any(v not in (float("inf"), -float("inf")) for v in (x0, y0, x1, y1)):
            self._read["bbox"] = (x0, y0, x1, y1)
        return filters  # Spark re-applies everything


def _pushdown_enabled() -> bool:
    try:
        from pyspark.sql import SparkSession  # noqa: PLC0415

        spark = SparkSession.getActiveSession()
        if spark is None:
            return False
        return (
            spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
            .lower()
            == "true"
        )
    except Exception:
        return False


def _wkb_to_payload(wkb: bytes):
    """WKB -> the single-node writer's shape payload (list of parts /
    point tuple / point array)."""
    import numpy as np  # noqa: PLC0415

    from pyshp_spark.kernels.wkb import (  # noqa: PLC0415
        WKB_LINESTRING,
        WKB_MULTILINESTRING,
        WKB_MULTIPOINT,
        WKB_MULTIPOLYGON,
        WKB_POINT,
        WKB_POLYGON,
        parse_wkb,
    )

    gtype, obj = parse_wkb(wkb)
    if gtype == WKB_POINT:
        a = np.asarray(obj, dtype=np.float64).reshape(-1, 2)
        return (float(a[0, 0]), float(a[0, 1]))
    if gtype == WKB_MULTIPOINT:
        return np.asarray(obj, dtype=np.float64).reshape(-1, 2)
    if gtype == WKB_LINESTRING:
        return [np.asarray(obj, dtype=np.float64).reshape(-1, 2)]
    if gtype == WKB_MULTILINESTRING:
        return [np.asarray(p, dtype=np.float64).reshape(-1, 2) for p in obj]
    if gtype == WKB_POLYGON:
        return [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in obj]
    if gtype == WKB_MULTIPOLYGON:
        return [
            np.asarray(r, dtype=np.float64).reshape(-1, 2)
            for rings in obj
            for r in rings
        ]
    raise ValueError(f"unsupported WKB geometry type {gtype}")


_GEOM_COLS = {"src", *GEOM_FIELDS}


def _dbf_spec_for(field) -> tuple[str, str, int, int]:
    from pyspark.sql.types import (  # noqa: PLC0415
        BooleanType,
        DateType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    t = field.dataType
    if isinstance(t, (LongType, IntegerType, ShortType)):
        return (field.name, "N", 18, 0)
    if isinstance(t, (DoubleType, FloatType)):
        return (field.name, "N", 24, 8)
    if isinstance(t, BooleanType):
        return (field.name, "L", 1, 0)
    if isinstance(t, DateType):
        return (field.name, "D", 8, 0)
    if isinstance(t, StringType):
        return (field.name, "C", 80, 0)
    raise ValueError(
        f"column {field.name}: type {t} has no dbf encoding"
    )


@dataclass
class _ShpCommitMessage(WriterCommitMessage):
    base: str | None = None
    shp: bytes | None = None
    shx: bytes | None = None
    dbf: bytes | None = None


class ShapefileWriter(DataSourceWriter):
    """One .shp/.shx/.dbf set per non-empty partition (part-files, like
    any distributed sink).  Tasks serialize their partition into
    in-memory .shp/.shx/.dbf byte buffers and ship them back through
    the WriterCommitMessage; only the DRIVER touches the output
    directory, inside ``commit()`` — so the sink is correct with no
    shared-filesystem assumption (executors on any cluster), failed or
    speculative task attempts leave nothing behind, overwrite replaces
    the previous output atomically-per-job, and ``abort()`` has nothing
    to clean.  Byte-shipping is the right trade for this format: a
    shapefile is capped at 4 GB and real outputs are dimension-sized;
    petabyte-scale results belong in the parquet/Iceberg engine sink
    (plans/lineage.py), not a .shp.

    SIZE LIMIT: because every partition's bytes return to the driver
    in commit messages, TOTAL job output (all partitions together) is
    bounded by ``spark.driver.maxResultSize`` (default 1g) and the RPC
    message limits — not just the per-file 4 GB format cap.  Rather
    than fail opaquely inside the RPC layer, ``write()`` raises a
    clear error when one partition alone exceeds the format cap, and
    outputs that might exceed the driver bound should either raise
    ``spark.driver.maxResultSize`` or use the parquet/Iceberg sink.
    Requires ``shape_type`` and ``wkb`` columns; other primitive
    columns become dbf fields."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("shapefile writer requires a path")
        names = {f.name for f in schema.fields}
        if "shape_type" not in names or "wkb" not in names:
            raise ValueError("shapefile writer needs shape_type and wkb columns")
        self._schema = schema
        self._overwrite = overwrite
        # reference Writer(strict=) data-loss mode (sf.py:234-239):
        # strict raises DbfStringDataLoss on truncation, default warns
        self._strict = options.get("strict", "false").lower() == "true"
        self._attr_specs = [
            _dbf_spec_for(f) for f in schema.fields if f.name not in _GEOM_COLS
        ]

    def write(self, iterator):
        import uuid  # noqa: PLC0415

        from pyshp_spark.sources.shp_writer import (  # noqa: PLC0415
            write_dbf,
            write_shp,
        )

        attr_names = [s[0] for s in self._attr_specs]
        shapes, records = [], []
        for row in iterator:
            w = row["wkb"]
            stype = int(row["shape_type"])
            payload = _wkb_to_payload(bytes(w)) if w is not None else None
            z = list(row["z"]) if "z" in row.__fields__ and row["z"] is not None else None
            m = list(row["m"]) if "m" in row.__fields__ and row["m"] is not None else None
            pt = (
                list(row["part_types"])
                if "part_types" in row.__fields__ and row["part_types"] is not None
                else None
            )
            shapes.append((stype if payload is not None else 0, payload, z, m, pt))
            records.append([row[n] for n in attr_names])
        if not shapes:
            return _ShpCommitMessage()
        shp, shx = write_shp(shapes)
        dbf = write_dbf(self._attr_specs, records, strict=self._strict)
        part_bytes = len(shp) + len(shx) + len(dbf)
        if part_bytes > (1 << 32):
            raise ValueError(
                f"shapefile partition is {part_bytes} bytes — past the "
                "4 GB .shp format cap, and commit messages this size "
                "will also exceed spark.driver.maxResultSize; "
                "repartition smaller or use the parquet/Iceberg sink "
                "(plans/lineage.py) for outputs at this scale"
            )
        return _ShpCommitMessage(
            base=f"part-{uuid.uuid4().hex[:12]}", shp=shp, shx=shx, dbf=dbf
        )

    def commit(self, messages):
        os.makedirs(self._path, exist_ok=True)
        if self._overwrite:
            for ext in ("shp", "shx", "dbf"):
                for p in glob.glob(os.path.join(self._path, f"*.{ext}")):
                    os.remove(p)
        for m in messages:
            base = getattr(m, "base", None)
            if not base:
                continue
            for ext in ("shp", "shx", "dbf"):
                tmp = os.path.join(self._path, f".{base}.{ext}.tmp")
                with open(tmp, "wb") as f:
                    f.write(getattr(m, ext))
                os.replace(tmp, os.path.join(self._path, f"{base}.{ext}"))

    def abort(self, messages):
        pass  # no task ever wrote to the output path


class ShapefileDataSource(DataSource):
    """spark.read.format("shapefile").load(dir_or_shp) and
    df.write.format("shapefile").save(dir)."""

    @classmethod
    def name(cls) -> str:
        return "shapefile"

    def schema(self):
        path, read = _read_options(self.options)
        return layer_schema(_paths(path), read["fields"])

    def reader(self, schema: StructType) -> DataSourceReader:
        cls = ShapefilePushdownReader if _pushdown_enabled() else ShapefileReader
        return cls(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return ShapefileWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType):
        return ShapefileParallelStreamReader(self.options, schema)


class ShapefileParallelStreamReader(DataSourceStreamReader):
    """Partition-parallel streaming landing-directory source:
    ``spark.readStream.format("shapefile").load(dir)`` picks up each
    new .shp (+ sibling .dbf) exactly once.  ``latestOffset()`` lists
    the directory on the driver (cheap metadata), ``partitions()``
    plans one InputPartition per new file, and ``read()`` parses the
    file bytes into Arrow batches INSIDE the executor task — a
    backfill dropping hundreds of files is parsed cluster-wide, not on
    the driver.

    Offset format: ``{"seen": [paths...]}`` — the same protocol as
    Spark's built-in FileStreamSource, except the log is NOT compacted:
    each checkpointed offset carries the complete seen-file list, so a
    landing dir that accumulates files forever grows its offset log
    O(total files).  Fine for the bounded landing dirs this source
    targets; for an unbounded stream, rotate the directory (date
    partitions) or compact the checkpoint out-of-band."""

    def __init__(self, options, schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        self._path, self._read = _read_options(options)
        self._schema = to_arrow_schema(schema)

    def initialOffset(self):
        return {"seen": []}

    def latestOffset(self):
        return {"seen": sorted(glob.glob(os.path.join(self._path, "*.shp")))}

    def partitions(self, start, end):
        seen = set(start.get("seen", []))
        new = [p for p in end.get("seen", []) if p not in seen]
        return [_FilePartition(p) for p in sorted(new)]

    def read(self, partition):
        # a landing file without a sibling .dbf yields nulls instead of
        # an error that kills the whole streaming query
        yield from read_shapefile_table(
            partition.path, self._schema, **self._read
        ).to_batches()

    def commit(self, end):
        pass
