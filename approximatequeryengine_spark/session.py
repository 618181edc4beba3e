"""SparkSession factory tuned for both local testing and cluster scale.

The reference engine (SURVEY.md §4.2) hand-builds threads, record caches
and atomic combines to make sampled scans fast; on Spark all of that is
the engine's job. What we configure here is the part that matters at
100 TB: AQE (runtime re-planning + skew handling), partition sizing,
Arrow for the few pandas-UDF operators, and a pinned UTC session
timezone so results hash-match the DuckDB oracle.
"""

from __future__ import annotations

import gc
import os
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def get_spark(
    app_name: str = "approximatequeryengine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` with shuffle parallelism =
    core count. On a real cluster, pass ``master=None`` with
    ``spark.master`` preset and a larger ``shuffle_partitions`` (rule of
    thumb: 2-3x total executor cores, or leave AQE to coalesce).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[] runs executors inside the driver JVM; Spark's 1g
        # default caps EVERYTHING and OOMs the wide shuffles around sf1
        # on an otherwise-roomy machine. Only effective before JVM
        # start — a no-op when attaching to an existing session.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # broadcast-join conversion once real sizes are known.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dim tables (region/nation/part/supplier at any SF worth joining
        # broadcast) stay broadcast-able without hints.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow batches for the pandas-UDF operators (similarity search,
        # multimodal decode plumbing). Batch size bounds executor memory
        # per batch — the knob that matters when payload columns carry
        # multi-MB binary blobs (10k-row default × 5 MB blobs = 50 GB).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Oracle comparison: Spark timestamps are session-TZ, DuckDB's are
        # UTC-naive — pin UTC so TIMESTAMP columns hash identically.
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MiB input splits — the default; stated explicitly because it
        # is the knob to shrink if executor memory per task is tight at
        # large SF.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The fixture parquet uses TIMESTAMP(NANOS), which Spark's reader
        # rejects; read as long and let the catalog cast to timestamp
        # (values are µs-aligned, so the cast is lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """A DataFrame over a few driver-side rows (a DDL string or a
    StructType ``schema``), built through a pyarrow Table, which Spark
    plans as a ``LocalRelation``: no job, ~35 ms, where
    ``createDataFrame(list)`` runs a Python-worker job (~0.4 s). Rows
    with TIMESTAMP columns keep the list path, whose naive-datetime
    round trip matches what ``collect()`` handed out."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if any(isinstance(f.dataType, TimestampType) for f in schema.fields):
        return spark.createDataFrame(rows, schema)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema=schema)


@dataclass
class Py4jCalls:
    """Round trips counted by :func:`count_py4j_calls`."""

    n: int = 0


@contextmanager
def count_py4j_calls(spark: SparkSession) -> Iterator[Py4jCalls]:
    """Count the py4j commands the driver sends to the JVM inside the
    block — the round trips a plan build costs. Memory commands are not
    counted: py4j sends its object releases from garbage collection, so
    their number varies between runs. ``gc`` is paused inside the block
    for the same reason. Counts every thread's commands."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = Py4jCalls()

    def counted(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.n += 1
        return send(command, *args, **kwargs)

    gc_was_enabled = gc.isenabled()
    gc.disable()
    client.send_command = counted
    try:
        yield calls
    finally:
        client.send_command = send
        if gc_was_enabled:
            gc.enable()
