"""Local-filesystem detection and the driver read of partitioned index
tables (`sources/arrow_write.py`).

What must hold:
- a path with no scheme is local only when the session's Hadoop
  ``fs.defaultFS`` is ``file:``; ``file:`` URIs are local and any
  other scheme is not;
- ``read_partitions_arrow`` returns exactly the rows of the named
  partition directories, for tables from both writers, skipping the
  JVM writer's ``.crc`` and ``_SUCCESS`` files.
"""

from __future__ import annotations

import os

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
