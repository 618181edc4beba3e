"""Crash-safe staged swap (sources/swap.py): the shared retire→swap
ritual every persisted synopsis refresh now rides, plus recovery from
every crash point the protocol can leave behind."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.sources.swap import (
    recover_synopsis,
    staged_swap,
)


def _write(spark, path, values):
    spark.range(0, 0).sparkSession.createDataFrame(
        [(v,) for v in values], "x long"
    ).write.mode("overwrite").parquet(path)


def _read(spark, path):
    return sorted(r["x"] for r in spark.read.parquet(path).collect())


def test_staged_swap_replaces_and_cleans(spark, tmp_path):
    dest = str(tmp_path / "syn")
    _write(spark, dest, [1, 2])
    staged_swap(spark, dest, lambda p: _write(spark, p, [3, 4]))
    assert _read(spark, dest) == [3, 4]
    assert not os.path.exists(dest + "_staged")
    assert not os.path.exists(dest + "_old")


def test_staged_swap_fresh_build_no_live_table(spark, tmp_path):
    dest = str(tmp_path / "syn")
    staged_swap(spark, dest, lambda p: _write(spark, p, [7]))
    assert _read(spark, dest) == [7]


def test_staged_swap_may_read_its_own_dest(spark, tmp_path):
    # The read-modify-write cycle that motivated the protocol: the
    # staged write READS the live table it is replacing.
    dest = str(tmp_path / "syn")
    _write(spark, dest, [1, 2, 3])

    def refresh(p):
        spark.read.parquet(dest).withColumn(
            "x", F.col("x") * 10
        ).write.mode("overwrite").parquet(p)

    staged_swap(spark, dest, refresh)
    assert _read(spark, dest) == [10, 20, 30]


def test_recover_prefers_completed_staged(spark, tmp_path):
    # Crash between retire and swap: dest missing, _old = pre-refresh,
    # _staged = complete post-refresh (_SUCCESS present). Recovery must
    # install the NEWER complete copy.
    dest = str(tmp_path / "syn")
    _write(spark, dest, [1])
    _write(spark, dest + "_staged", [2])
    os.rename(dest, dest + "_old")
    assert recover_synopsis(spark, dest) == "from_staged"
    assert _read(spark, dest) == [2]
    assert not os.path.exists(dest + "_old")


def test_recover_falls_back_to_retired_copy(spark, tmp_path):
    # Crash with an INCOMPLETE staged write (no _SUCCESS): only the
    # retired copy is trustworthy.
    dest = str(tmp_path / "syn")
    _write(spark, dest, [5])
    os.rename(dest, dest + "_old")
    os.makedirs(dest + "_staged")  # torn write: directory, no _SUCCESS
    assert recover_synopsis(spark, dest) == "from_old"
    assert _read(spark, dest) == [5]
    assert not os.path.exists(dest + "_staged")


def test_recover_noop_when_live(spark, tmp_path):
    dest = str(tmp_path / "syn")
    _write(spark, dest, [9])
    _write(spark, dest + "_staged", [8])  # stale leftovers
    assert recover_synopsis(spark, dest) == "live"
    assert _read(spark, dest) == [9]
    assert not os.path.exists(dest + "_staged")


def test_recover_raises_with_no_complete_copy(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no complete copy"):
        recover_synopsis(spark, str(tmp_path / "absent"))


def test_staged_swap_refuses_to_destroy_evidence(spark, tmp_path):
    # dest missing + leftovers present = a prior swap crashed; a new
    # refresh must demand recovery instead of deleting the only copy.
    dest = str(tmp_path / "syn")
    _write(spark, dest + "_staged", [1])
    with pytest.raises(FileNotFoundError, match="recover_synopsis"):
        staged_swap(spark, dest, lambda p: _write(spark, p, [2]))
    assert recover_synopsis(spark, dest) == "from_staged"
    assert _read(spark, dest) == [1]


def test_read_synopsis_self_heals(spark, tmp_path):
    """read_synopsis: the happy path is a plain read; a crashed-swap
    state heals in place (no explicit recover call needed)."""
    from approximatequeryengine_spark.sources.swap import read_synopsis

    dest = str(tmp_path / "syn")
    _write(spark, dest, [1, 2])
    assert sorted(r["x"] for r in read_synopsis(spark, dest).collect()) == [1, 2]
    _write(spark, dest + "_staged", [3])
    os.rename(dest, dest + "_old")
    assert sorted(r["x"] for r in read_synopsis(spark, dest).collect()) == [3]
    assert os.path.exists(dest) and not os.path.exists(dest + "_old")


def test_blockbloom_reader_self_heals(spark, engine, tmp_path):
    """A point lookup against a crashed-mid-swap bloom index answers
    correctly WITHOUT a manual recovery step — the reader heals it."""
    from approximatequeryengine_spark.sources.blockbloom import (
        blockbloom_point_sum,
        blockbloom_write,
    )

    orders = engine.catalog.table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    idx = str(tmp_path / "idx")
    blockbloom_write(
        spark, orders, idx,
        ingest_key=F.col("o_orderkey"), lookup_key=F.col("o_custkey"),
        value_cents=F.floor(F.col("o_totalprice") * 100.0 + 0.5),
    )
    before = blockbloom_point_sum(spark, idx, 42).collect()[0]
    shutil.copytree(f"{idx}/bloom", f"{idx}/bloom_staged")
    os.rename(f"{idx}/bloom", f"{idx}/bloom_old")
    after = blockbloom_point_sum(spark, idx, 42).collect()[0]
    assert tuple(before) == tuple(after)
    assert os.path.exists(f"{idx}/bloom")


def test_blockbloom_crash_recovery_end_to_end(spark, engine, tmp_path):
    """Kill-between-retire-and-swap simulation for the bloom index: the
    documented recovery restores a queryable index (VERDICT r7 #5)."""
    from approximatequeryengine_spark.sources.blockbloom import (
        blockbloom_point_sum,
        blockbloom_write,
    )

    orders = engine.catalog.table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    idx = str(tmp_path / "idx")
    blockbloom_write(
        spark, orders, idx,
        ingest_key=F.col("o_orderkey"), lookup_key=F.col("o_custkey"),
        value_cents=F.floor(F.col("o_totalprice") * 100.0 + 0.5),
    )
    before = blockbloom_point_sum(spark, idx, 42).collect()[0]
    # Simulate the crash window: bloom retired aside, completed staged
    # copy present, live table gone.
    shutil.copytree(f"{idx}/bloom", f"{idx}/bloom_staged")
    os.rename(f"{idx}/bloom", f"{idx}/bloom_old")
    assert recover_synopsis(spark, f"{idx}/bloom") == "from_staged"
    after = blockbloom_point_sum(spark, idx, 42).collect()[0]
    assert tuple(before) == tuple(after)


def test_aqpplus_crash_recovery_end_to_end(spark, engine, tmp_path):
    """Same kill simulation for the AQP++ block table; the recovered
    index answers the range query identically."""
    from approximatequeryengine_spark.plans.aqpplus import (
        aqpplus_build,
        aqpplus_range_sum,
    )

    li = engine.catalog.table("lineitem")
    idx = str(tmp_path / "aqp")
    key = F.expr("l_orderkey * 8 + l_linenumber")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
    aqpplus_build(spark, li, idx, key=key, value_cents=cents, row_key=key)

    def ask():
        return tuple(aqpplus_range_sum(spark, idx, 100, 5000).collect()[0])

    before = ask()
    shutil.copytree(f"{idx}/blocks", f"{idx}/blocks_staged")
    os.rename(f"{idx}/blocks", f"{idx}/blocks_old")
    assert recover_synopsis(spark, f"{idx}/blocks") == "from_staged"
    assert ask() == before
