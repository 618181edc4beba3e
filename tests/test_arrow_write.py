"""Local-filesystem detection and the driver read of partitioned index
tables (`sources/arrow_write.py`).

What must hold:
- a path with no scheme is local only when the session's Hadoop
  ``fs.defaultFS`` is ``file:``; ``file:`` URIs are local and any
  other scheme is not;
- ``read_partitions_arrow`` returns exactly the rows of the named
  partition directories, for tables from both writers, skipping the
  JVM writer's ``.crc`` and ``_SUCCESS`` files;
- every data type ``_DATA_TYPE_RE`` admits to the Arrow writer reads
  back equal to the input and to a JVM ``partitionBy`` write of the
  same frame, NULLs included, and a type outside that set takes the JVM
  writer.
"""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from approximatequeryengine_spark.sources.arrow_write import (
    _local_path,
    read_partitions_arrow,
    write_partitioned_parquet,
)


def test_local_path_honours_default_fs(spark):
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    saved = conf.get("fs.defaultFS")
    try:
        assert _local_path(spark, "/data/idx") == "/data/idx"
        assert _local_path(spark, "file:///data/idx") == "/data/idx"
        assert _local_path(spark, "hdfs://nn:8020/data/idx") is None
        conf.set("fs.defaultFS", "hdfs://nowhere:8020")
        assert _local_path(spark, "/data/idx") is None
        assert _local_path(spark, "relative/idx") is None
        assert _local_path(spark, "file:/data/idx") == "/data/idx"
        assert _local_path(spark, "s3a://bucket/idx") is None
    finally:
        if saved is None:
            conf.unset("fs.defaultFS")
        else:
            conf.set("fs.defaultFS", saved)
    assert _local_path(spark, "/data/idx") == "/data/idx"


def test_read_partitions_arrow_reads_only_named_directories(spark, tmp_path):
    df = spark.range(200).selectExpr("id AS k", "id * 3 AS v", "id % 7 AS part")
    jvm, arrow = str(tmp_path / "jvm"), str(tmp_path / "arrow")
    df.write.partitionBy("part").parquet(jvm)
    write_partitioned_parquet(df, arrow, "part")
    d = os.path.join(jvm, "part=2")
    assert any(f.endswith(".crc") for f in os.listdir(d))
    assert os.path.exists(os.path.join(jvm, "_SUCCESS"))
    want = sorted((k, 3 * k) for k in range(200) if k % 7 in (2, 5))
    for path in (jvm, arrow):
        tbl = read_partitions_arrow(path, "part", [2, 5], ["k", "v"])
        assert tbl.column_names == ["k", "v"]
        assert sorted(zip(*(tbl[c].to_pylist() for c in ("k", "v")))) == want


# One column per type the Arrow writer admits; row 2 holds a NULL in
# every data column, row 1 NULL array elements, row 3 a NULL partition.
_ROUNDTRIP_SCHEMA = (
    "id bigint, part int, ti tinyint, si smallint, i int, bi bigint, f float, "
    "d double, b boolean, s string, bin binary, dt date, ts timestamp, "
    "dec decimal(12,2), a_ti array<tinyint>, a_si array<smallint>, "
    "a_i array<int>, a_bi array<bigint>, a_f array<float>, a_d array<double>, "
    "a_b array<boolean>, a_s array<string>"
)
_ROUNDTRIP_ROWS = [
    (0, 1, -3, 300, -70000, 2**40, 1.5, -2.25, True, "x=y/%z", b"\x00\xff",
     datetime.date(1997, 1, 1), datetime.datetime(2024, 1, 8, 12, 30, 1, 250000),
     Decimal("1234.56"), [1, -2], [300], [70000], [2**40], [0.5], [1e-3],
     [True, False], ["a", ""]),
    (1, 1, 0, 0, 0, 0, 0.0, 0.0, False, "", b"", datetime.date(1970, 1, 1),
     datetime.datetime(1970, 1, 1), Decimal("0.00"), [None], [None], [None],
     [None], [None], [None], [None], [None]),
    (2, 2) + (None,) * 20,
    (3, None, 7, 7, 7, 7, 7.0, 7.0, True, "n", b"n", datetime.date(2001, 12, 31),
     datetime.datetime(2001, 12, 31, 23, 59, 59), Decimal("-0.01"), [], [], [], [],
     [], [], [], []),
]


def _written(spark, path, columns):
    return sorted(spark.read.parquet(path).select(*columns).collect())


@pytest.fixture
def jvm_writes(monkeypatch):
    """Paths handed to the JVM parquet writer while the test runs."""
    paths = []
    jvm_parquet = DataFrameWriter.parquet

    def _spy(self, path, *args, **kw):
        paths.append(path)
        return jvm_parquet(self, path, *args, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", _spy)
    return paths


def test_arrow_write_roundtrip(spark, tmp_path, jvm_writes):
    df = spark.createDataFrame(_ROUNDTRIP_ROWS, _ROUNDTRIP_SCHEMA)
    arrow, jvm = str(tmp_path / "arrow"), str(tmp_path / "jvm")
    write_partitioned_parquet(df, arrow, "part")
    assert jvm_writes == []  # every column passed the type gate
    df.write.partitionBy("part").parquet(jvm)
    want = sorted(df.collect())
    assert _written(spark, arrow, df.columns) == want
    assert _written(spark, jvm, df.columns) == want
    assert spark.read.parquet(arrow).dtypes == spark.read.parquet(jvm).dtypes


def test_arrow_write_unsupported_type_takes_jvm_writer(spark, tmp_path, jvm_writes):
    df = spark.createDataFrame(
        [(0, 1, {"a": 1}), (1, 2, None)], "id bigint, part int, m map<string,int>"
    )
    path = str(tmp_path / "m")
    write_partitioned_parquet(df, path, "part")
    assert jvm_writes == [path]
    assert _written(spark, path, ["id", "m"]) == [(0, {"a": 1}), (1, None)]
