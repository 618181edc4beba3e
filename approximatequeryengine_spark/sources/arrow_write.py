"""Commit-light parquet writes for the index/synopsis builders.

The skip-index and synopsis operators persist MANY SMALL files — one
directory per block/zone/cell/band value — and the generic
``DataFrameWriter.partitionBy`` path pays, per file, the full
InsertIntoHadoopFsRelation machinery (dynamic-partition writer setup,
task/job commit protocol, per-file ParquetOutputWriter construction).
Measured on the certified blockbloom build (586 block directories of
~256 rows each at sf0.1): 4.0–6.1 s warm for the JVM writer vs 0.6 s
for the same rows written by a ``mapInArrow`` task handing whole Arrow
batches to ``pyarrow.parquet`` (guide §4.2 — do the heavy lifting in
native code; §6 — the commit protocol is not part of any result).

``write_partitioned_parquet`` is a drop-in for
``df.write.partitionBy(col).mode(mode).parquet(path)`` producing the
IDENTICAL on-disk layout contract:

- one ``{col}={value}`` directory per distinct partition value
  (Hive-escaped names, ``__HIVE_DEFAULT_PARTITION__`` for NULL — the
  same names the JVM writer produces, so partition discovery and
  partition-column type inference on read are unchanged);
- the partition column dropped from the file schema (re-derived from
  the directory name on read, exactly as with the JVM writer);
- ``overwrite`` replaces the whole ``path``, ``append`` adds
  uniquely-named files alongside existing ones.

It applies only when the destination resolves to the LOCAL filesystem
(the Python workers write directly; in ``local[n]`` and on any
shared-fs cluster that is the same volume the JVM writer would target)
and when every column's type is in the verified round-trip set below —
otherwise it silently falls back to the JVM writer, so callers keep
the full Hadoop-URI surface. The trade is the commit protocol: files
land directly instead of via a staging directory, which for these
builders (fresh temp/index directories, synchronous single-writer
builds, the append path already guarded by ``sources/swap.py``'s
staged swap for its read-modify-write table) changes no observable
behavior — a failed build leaves a partial directory in both designs
(the JVM writer's job-level _SUCCESS marker is not consulted by any
reader here).

``write_single_parquet`` is the same idea for the 1-row/tiny META
tables those builders persist (layout parameters, thresholds): a
driver-side ``pyarrow`` write of ``path/part-00000.parquet`` replaces
a whole Spark job (createDataFrame → write), ~0.4–0.6 s per call at
any scale — the table IS driver data to begin with.

The read side of the same layout: ``read_partitions`` opens only the
named block directories through Spark, and ``read_partitions_arrow``
reads them with pyarrow on the driver, which runs no Spark job — the
skip-index probes take it for a local index. "Local" follows Spark's
own path resolution: a path with no scheme resolves against the
Hadoop ``fs.defaultFS``, so on an HDFS or S3 default it is not local
and both the writers and the probes take their Spark paths.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from approximatequeryengine_spark.session import local_frame

# Partition-column types whose str() rendering matches the JVM
# writer's directory naming for the values this engine uses.
_PART_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}

# Data-column types with a VERIFIED Spark→Arrow→parquet→Spark
# round-trip (tests/test_arrow_write.py::test_arrow_write_roundtrip
# pins them, including NULLs).
_DATA_TYPE_RE = re.compile(
    r"^(tinyint|smallint|int|bigint|float|double|boolean|string|binary|date"
    r"|timestamp|decimal\(\d+,\s*\d+\)"
    r"|array<(tinyint|smallint|int|bigint|float|double|boolean|string)>)$"
)

# The exact character set Spark's ExternalCatalogUtils.escapePathName
# escapes (ASCII control chars, '"', '#', '%', ''', '*', '/', ':',
# '=', '?', '\\', DEL, '{', '[', ']', '^'), rendered as %XX uppercase.
_ESCAPE_RE = re.compile(r"[\x00-\x1f\"#%'*/:=?\\\x7f{\[\]^]")

_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def _escape_part_value(v) -> str:
    if v is None:
        return _NULL_DIR
    if isinstance(v, bool):  # never a partition type here, but be exact
        return "true" if v else "false"
    s = str(v)
    return _ESCAPE_RE.sub(lambda m: "%%%02X" % ord(m.group()), s)


def _local_path(spark, path: str) -> str | None:
    """The bare filesystem path when ``path`` is on the local
    filesystem, else None. A path with no scheme resolves against the
    session's Hadoop ``fs.defaultFS``, as Spark's own reads and writes
    do: it is local only when that is ``file:``."""
    parsed = urlparse(path)
    if parsed.scheme == "file":
        return parsed.path
    if parsed.scheme:
        return None
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS", "file:///"
    )
    return path if urlparse(default_fs).scheme == "file" else None


def bigint_col(expr, name: str):
    """``expr`` — a Column or Spark SQL text — as a BIGINT column named
    ``name``: how the index builds spell the columns they store. Text
    is one parse call; a Column tree costs a py4j round trip per
    node."""
    if isinstance(expr, str):
        return F.expr(f"CAST(({expr}) AS BIGINT) AS {name}")
    return expr.cast("long").alias(name)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_col: str, mode: str = "overwrite"
) -> None:
    """Layout-identical, commit-light replacement for
    ``df.write.partitionBy(partition_col).mode(mode).parquet(path)``.
    Falls back to that exact call for non-local destinations,
    unsupported column types, or modes other than overwrite/append."""
    dtypes = dict(df.dtypes)
    fs_path = _local_path(df.sparkSession, path)
    supported = (
        fs_path is not None
        and mode in ("overwrite", "append")
        and dtypes.get(partition_col) in _PART_TYPES
        and all(
            _DATA_TYPE_RE.match(t)
            for c, t in df.dtypes
            if c != partition_col
        )
    )
    if not supported:
        df.write.partitionBy(partition_col).mode(mode).parquet(path)
        return

    if mode == "overwrite" and os.path.exists(fs_path):
        shutil.rmtree(fs_path)
    os.makedirs(fs_path, exist_ok=True)

    # Buffered per-value flush: row groups stay reasonably sized while
    # task memory stays bounded by (open values × buffer), the same
    # order as the JVM dynamic-partition writer's per-file buffering.
    flush_rows = 131072

    def _write(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tid = TaskContext.get().partitionId() if TaskContext.get() else 0
        suffix = uuid.uuid4().hex[:8]
        writers: dict = {}
        pending: dict = {}
        pending_rows: dict = {}

        def _flush(key):
            tables = pending.pop(key, None)
            if not tables:
                return
            tbl = pa.concat_tables(tables)
            w = writers.get(key)
            if w is None:
                d = os.path.join(
                    fs_path, f"{partition_col}={_escape_part_value(key)}"
                )
                os.makedirs(d, exist_ok=True)
                w = pq.ParquetWriter(
                    os.path.join(d, f"part-{tid:05d}-{suffix}.parquet"),
                    tbl.schema,
                )
                writers[key] = w
            w.write_table(tbl)
            pending_rows[key] = 0

        try:
            for batch in batches:
                tbl = pa.Table.from_batches([batch])
                keys = tbl.column(partition_col)
                for v in pc.unique(keys).to_pylist():
                    mask = (
                        pc.is_null(keys) if v is None else pc.equal(keys, v)
                    )
                    part = tbl.filter(mask).drop_columns([partition_col])
                    pending.setdefault(v, []).append(part)
                    pending_rows[v] = pending_rows.get(v, 0) + part.num_rows
                    if pending_rows[v] >= flush_rows:
                        _flush(v)
            for v in list(pending):
                _flush(v)
        finally:
            for w in writers.values():
                w.close()
        yield pa.RecordBatch.from_pylist(
            [{"files": len(writers)}],
            schema=pa.schema([("files", pa.int64())]),
        )

    df.mapInArrow(_write, "files bigint").collect()


def write_single_parquet(spark, rows: list[tuple], schema: str, path: str) -> None:
    """Persist a tiny driver-side table (layout meta, thresholds) as a
    ``path/part-00000.parquet`` directory readable by
    ``spark.read.parquet(path)`` — without a Spark job when ``path`` is
    local. ``schema`` is the DDL string the Spark fallback needs; the
    Arrow path derives field types from it (long/string/double only —
    the meta tables this engine writes)."""
    fs_path = _local_path(spark, path)
    fields = [f.strip().rsplit(None, 1) for f in schema.split(",")]
    arrow_types = {"long": "int64", "bigint": "int64", "string": "string",
                   "double": "float64", "int": "int32"}
    if fs_path is not None and all(t in arrow_types for _, t in fields):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pa_schema = pa.schema(
            [(n, getattr(pa, arrow_types[t])()) for n, t in fields]
        )
        tbl = pa.Table.from_pylist(
            [dict(zip([n for n, _ in fields], r)) for r in rows],
            schema=pa_schema,
        )
        if os.path.exists(fs_path):
            shutil.rmtree(fs_path)
        os.makedirs(fs_path)
        pq.write_table(tbl, os.path.join(fs_path, "part-00000.parquet"))
        return
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)


def read_schema(df: DataFrame, partition_col: str | None = None) -> StructType:
    """The schema ``spark.read.parquet`` gives the table that writing
    ``df`` leaves behind: every column nullable and, for a table
    partitioned by ``partition_col`` (``write_partitioned_parquet`` or
    the JVM ``partitionBy`` writer), that column last — pinned to
    BIGINT, where inference would pick INT or BIGINT from the directory
    names. Index builders record it so their probes read with
    ``spark.read.schema(...)`` and never pay a schema-inference job."""
    fields = [
        StructField(f.name, f.dataType, True)
        for f in df.schema.fields
        if f.name != partition_col
    ]
    if partition_col is not None:
        fields.append(StructField(partition_col, LongType(), True))
    return StructType(fields)


def read_partitions(
    spark, path: str, partition_col: str, values: list[int], schema: StructType
) -> DataFrame:
    """Read only the ``{partition_col}=v`` directories of a partitioned
    table, with its recorded schema. A local table lists just those
    directories (``basePath`` keeps the partition column): listing
    every directory first is O(partitions) driver work before pruning
    even runs. Elsewhere the IN-list prunes at planning time."""
    reader = spark.read.schema(schema)
    if values and _local_path(spark, path) is not None:
        return reader.option("basePath", path).parquet(
            *[f"{path}/{partition_col}={v}" for v in values]
        )
    return reader.parquet(path).filter(F.col(partition_col).isin(values))


def read_partitions_arrow(
    fs_path: str, partition_col: str, values: list[int], columns: list[str]
):
    """The ``columns`` of the ``{partition_col}=v`` directories of a
    partitioned table on the local filesystem (``fs_path``, as
    :func:`_local_path` returns it), as one pyarrow Table read on the
    driver — no Spark job. Only the parquet files of those directories
    are opened: the JVM writer's ``.crc`` checksums and the
    ``_SUCCESS`` marker are skipped, and no other directory is
    listed."""
    import pyarrow.dataset as ds

    files = []
    for v in values:
        d = os.path.join(fs_path, f"{partition_col}={_escape_part_value(v)}")
        files += [
            os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")
        ]
    return ds.dataset(files, format="parquet").to_table(columns=columns)


# (n, Σcents) of an exact probe; a StructType, not DDL, so building the
# local frame needs no JVM parse.
_SUM_SCHEMA = StructType(
    [StructField("n", LongType(), False), StructField("s", LongType(), True)]
)


def exact_sum_readout(
    spark, n: int, sum_cents: int | None, blocks_scanned: int, blocks_total: int
) -> DataFrame:
    """The one-row readout ``(n_rows, sum_value, blocks_scanned,
    blocks_total)`` of an exact skip-index probe, in dollars: one
    projection over a local frame, so neither building it nor
    collecting it runs a Spark job. ``sum_cents`` is None when no row
    matched, as SQL's ``sum`` is."""
    return local_frame(spark, [(n, sum_cents)], _SUM_SCHEMA).selectExpr(
        "n AS n_rows",
        "round(s / CAST(100.0 AS DOUBLE), 2) AS sum_value",
        f"CAST({blocks_scanned} AS BIGINT) AS blocks_scanned",
        f"CAST({blocks_total} AS BIGINT) AS blocks_total",
    )
