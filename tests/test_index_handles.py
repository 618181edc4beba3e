"""Index handles: each build returns the O(blocks) metadata its probes
need, the engine keeps it on the index's registration, and a probe of
a local index reads its block directories on the driver — no Spark
job and no read through Spark at all.

What must hold:
- an engine probe on an engine-built local aqpplus, blockbloom or
  zorder index runs 0 Spark jobs, counting the caller's ``collect()``,
  and calls no ``DataFrameReader.parquet``;
- the same probe forced onto the Spark branch (an index off the local
  filesystem) answers the same row, and an aqpplus probe there reads
  only the ≤ 2 boundary block directories;
- a rebuild at the same path with a different layout replaces the
  handle: the next probe matches the twin for the new layout;
- the direct module path (``*_point_sum(spark, path, ...)`` and the
  others) loads a handle equal to the build's and still matches its
  ``*_sql`` twin;
- the bloom table is sorted by word inside every file.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark import AQEngine
from approximatequeryengine_spark.plans.aqpplus import (
    aqpplus_build,
    aqpplus_load,
    aqpplus_range_sum,
    aqpplus_range_sum_sql,
)
from approximatequeryengine_spark.sources.blockbloom import (
    blockbloom_load,
    blockbloom_point_sum,
    blockbloom_point_sum_sql,
    blockbloom_write,
)
from approximatequeryengine_spark.sources.zonemap import zonemap_load, zonemap_write
from approximatequeryengine_spark.sources.zorder import (
    zorder_load,
    zorder_rect_sum,
    zorder_rect_sum_sql,
    zorder_write,
)
from tests.conftest import SF_DIR, assert_df_matches_sql

DAYS_SPARK = "datediff(o_orderdate, '1970-01-01')"
DAYS_DUCK = "date_diff('day', DATE '1970-01-01', o_orderdate)"
CENTS_SQL = "floor(o_totalprice * 100.0 + 0.5)"
RANGE = (8500, 10226)
RECT = (8800, 9900, 100, 900)
POINT = 44


def _cents():
    return F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")


def _twin(kind: str, layout: int) -> str:
    if kind == "aqpplus":
        return aqpplus_range_sum_sql(
            "orders", DAYS_DUCK, CENTS_SQL, "o_orderkey", *RANGE, n_blocks=layout
        )
    if kind == "blockbloom":
        return blockbloom_point_sum_sql(
            "orders", "o_orderkey", "o_custkey", CENTS_SQL, POINT, block_width=layout
        )
    return (
        "SELECT n_rows, sum_value, blocks_scanned, blocks_total FROM ("
        + zorder_rect_sum_sql(
            "orders", DAYS_DUCK, "o_custkey", "o_orderkey", CENTS_SQL, *RECT,
            n_blocks=layout,
        )
        + ") z"
    )


def _engine_build(eng: AQEngine, kind: str, path: str, layout: int) -> None:
    if kind == "aqpplus":
        eng.build_range_index("orders", DAYS_SPARK, "o_totalprice", n_blocks=layout, path=path)
    elif kind == "blockbloom":
        eng.build_point_index("orders", "o_custkey", "o_totalprice", block_width=layout, path=path)
    else:
        eng.build_zorder_index("orders", DAYS_SPARK, "o_custkey", "o_totalprice",
                               n_blocks=layout, path=path)


def _engine_probe(eng: AQEngine, kind: str, rng: tuple[int, int] = RANGE):
    if kind == "aqpplus":
        return eng.range_sum("orders", *rng)
    if kind == "blockbloom":
        return eng.point_sum("orders", POINT)
    return eng.rect_sum("orders", *RECT)


# (kind, first layout, rebuilt layout): n_blocks, block_width, n_blocks
KINDS = [("aqpplus", 64, 16), ("blockbloom", 256, 1024), ("zorder", 16, 4)]


@pytest.fixture(scope="module")
def eng(spark):
    return AQEngine(spark, SF_DIR)


@pytest.mark.parametrize("kind,layout,_", KINDS)
def test_engine_probe_runs_one_query(
    eng, duck, tmp_path, count_jobs, parquet_reads, kind, layout, _
):
    _engine_build(eng, kind, str(tmp_path / kind), layout)
    del parquet_reads[:]
    rows, jobs = count_jobs(lambda: _engine_probe(eng, kind).collect())
    assert jobs == 0, f"{kind} probe ran {jobs} Spark jobs"
    assert parquet_reads == []
    assert_df_matches_sql(_engine_probe(eng, kind), duck, _twin(kind, layout))
    assert rows


@pytest.mark.parametrize("kind,layout,_", KINDS)
def test_non_local_probe_matches_driver_probe(eng, tmp_path, monkeypatch, kind, layout, _):
    """An index off the local filesystem is probed with one Spark
    aggregate over the same block directories; its row is the driver
    read's. An aqpplus probe there reads only the boundary blocks."""
    from approximatequeryengine_spark.plans import aqpplus
    from approximatequeryengine_spark.sources import blockbloom, zorder

    _engine_build(eng, kind, str(tmp_path / kind), layout)
    ranges = [RANGE]
    if kind == "aqpplus":
        # two partial blocks around an interior, a range inside one
        # block, and a block-aligned range
        handle = eng._indexes["range", "orders"].handle
        mn, w = handle.mn, handle.width
        ranges = [(mn + 5 * w + 1, mn + 12 * w + w // 2), (mn + 5 * w + 1, mn + 6 * w - 2),
                  (mn + 10 * w, mn + 20 * w - 1)]
    driver = [_engine_probe(eng, kind, r).collect() for r in ranges]
    module = {"aqpplus": aqpplus, "blockbloom": blockbloom, "zorder": zorder}[kind]
    monkeypatch.setattr(module, "_local_path", lambda spark, path: None)
    read: list[tuple[list[int], set[str]]] = []
    real = module.read_partitions

    def spy(spark, path, partition_col, values, schema):
        df = real(spark, path, partition_col, values, schema)
        read.append((list(values), {f.rsplit("/", 2)[-2] for f in df.inputFiles()}))
        return df

    monkeypatch.setattr(module, "read_partitions", spy)
    assert [_engine_probe(eng, kind, r).collect() for r in ranges] == driver
    part = "block" if kind == "aqpplus" else "__block"
    assert read and all(dirs == {f"{part}={v}" for v in values} for values, dirs in read)
    if kind == "aqpplus":
        # the two partial blocks, one partial block, no boundary at all
        assert [len(values) for values, _ in read] == [2, 1]


@pytest.mark.parametrize("kind,layout,rebuilt", KINDS)
def test_rebuild_at_same_path_replaces_the_handle(eng, duck, tmp_path, kind, layout, rebuilt):
    path = str(tmp_path / kind)
    _engine_build(eng, kind, path, layout)
    assert_df_matches_sql(_engine_probe(eng, kind), duck, _twin(kind, layout))
    _engine_build(eng, kind, path, rebuilt)
    assert_df_matches_sql(_engine_probe(eng, kind), duck, _twin(kind, rebuilt))


def test_direct_module_path_matches_twins_and_build_handles(spark, eng, duck, tmp_path):
    """Callers that hold only the path load the handle the build
    returned, and answer as the twins do."""
    orders = eng.catalog.table("orders")
    days = F.expr(DAYS_SPARK).cast("long")
    okey = F.col("o_orderkey").cast("long")

    a_path = str(tmp_path / "a")
    built = aqpplus_build(spark, orders, a_path, days, _cents(), okey, n_blocks=64)
    assert aqpplus_load(spark, a_path) == built
    assert_df_matches_sql(
        aqpplus_range_sum(spark, a_path, *RANGE), duck, _twin("aqpplus", 64),
    )

    b_path = str(tmp_path / "b")
    built = blockbloom_write(spark, orders, b_path, ingest_key=okey,
                             lookup_key=F.col("o_custkey"), value_cents=_cents())
    assert blockbloom_load(spark, b_path) == built
    assert_df_matches_sql(
        blockbloom_point_sum(spark, b_path, POINT), duck, _twin("blockbloom", 256)
    )

    z_path = str(tmp_path / "z")
    built = zorder_write(spark, orders, z_path, x=days, y=F.col("o_custkey"),
                         rowid=okey, value_cents=_cents(), n_blocks=16)
    assert zorder_load(spark, z_path) == built
    assert_df_matches_sql(
        zorder_rect_sum(spark, z_path, *RECT), duck, _twin("zorder", 16)
    )

    s_path = str(tmp_path / "s")
    built = zonemap_write(spark, orders.select("o_orderkey", "o_totalprice", "o_orderdate"),
                          s_path, key=days, n_zones=16)
    assert zonemap_load(spark, s_path) == built


def test_bloom_table_sorted_by_word(spark, eng, tmp_path):
    """Sorted words let parquet row-group statistics skip every row
    group that holds none of a probe's words."""
    path = str(tmp_path / "b")
    eng.build_point_index("orders", "o_custkey", "o_totalprice", path=path)
    files = [f for f in os.listdir(f"{path}/bloom") if f.endswith(".parquet")]
    assert files
    for f in files:
        words = pq.read_table(f"{path}/bloom/{f}", columns=["word"]).column(0).to_pylist()
        assert words == sorted(words), f


def test_bloom_consult_spark_read_matches_driver_read(spark, eng, tmp_path, monkeypatch):
    """An index off the local filesystem is consulted with a filtered
    Spark read instead of pyarrow; both must keep the same blocks."""
    from approximatequeryengine_spark.sources import blockbloom

    handle = blockbloom_write(spark, eng.catalog.table("orders"), str(tmp_path / "b"),
                              ingest_key=F.col("o_orderkey"), lookup_key=F.col("o_custkey"),
                              value_cents=_cents())
    need = blockbloom.probe_masks(POINT, handle.m_bits)
    driver = blockbloom._surviving_blocks(spark, handle, need)
    monkeypatch.setattr(blockbloom, "_local_path", lambda spark, path: None)
    assert blockbloom._surviving_blocks(spark, handle, need) == driver
    assert 0 < len(driver) < handle.blocks_total
