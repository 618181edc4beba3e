"""AMS F₂ (tug-of-war) sketch pins.

What must hold:
- the median-of-means estimate lands near exact F₂ = Σ fᵢ² on a real
  frequency distribution (deterministic salts → a fixed, pinned
  accuracy; the composed-hash sign is what makes this possible — one
  hash round measured 79–94% underestimates);
- counters are LINEAR: sketch(A) + sketch(B) == sketch(A ∪ B)
  bit-for-bit (shard-parallel / ingest-mergeable);
- F₂ separates skew: a repeated key scores far above a unique key on
  the same rows;
- the DuckDB oracle replays every counter and the estimate exactly
  (driver parity), NULL keys included.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.catalog import Catalog
from approximatequeryengine_spark.plans.ams import (
    _counters_sql,
    ams_f2_counters,
    ams_f2_estimate,
    ams_f2_estimate_sql,
)

from tests.conftest import SF_DIR_MED, _duck, duck_of


@pytest.fixture(scope="module")
def lineitem(spark):
    return Catalog(spark, SF_DIR_MED).table("lineitem")


def test_estimate_accuracy_and_oracle_parity(spark, lineitem):
    con = _duck(SF_DIR_MED)
    row = ams_f2_estimate(lineitem, F.col("l_orderkey")).collect()[0]
    exact = con.execute(
        "SELECT sum(c * c) FROM (SELECT count(*) AS c FROM lineitem "
        "GROUP BY l_orderkey)"
    ).fetchall()[0][0]
    assert abs(row["f2_estimate"] - exact) / exact < 0.35, (row, exact)
    sql = ams_f2_estimate_sql("lineitem", "l_orderkey")
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    oracle = dict(zip(names, res.fetchall()[0]))
    assert oracle["f2_estimate"] == row["f2_estimate"]
    assert oracle["n_rows"] == row["n_rows"]


def test_counters_are_mergeable(spark, lineitem):
    a = lineitem.filter(F.col("l_orderkey") % 2 == 0)
    b = lineitem.filter(F.col("l_orderkey") % 2 != 0)
    ca = ams_f2_counters(a, F.col("l_orderkey")).collect()[0].asDict()
    cb = ams_f2_counters(b, F.col("l_orderkey")).collect()[0].asDict()
    cu = ams_f2_counters(lineitem, F.col("l_orderkey")).collect()[0].asDict()
    for k in cu:
        assert ca[k] + cb[k] == cu[k], k


def test_f2_separates_skew(spark):
    # same 10k rows: one column constant (max skew, F2 = n²), one
    # unique (F2 = n) — the sketch must rank them correctly by orders
    # of magnitude.
    df = spark.range(10_000).select(
        F.lit(7).alias("const_key"), F.col("id").alias("uniq_key")
    )
    f2_const = ams_f2_estimate(df, F.col("const_key")).collect()[0]["f2_estimate"]
    f2_uniq = ams_f2_estimate(df, F.col("uniq_key")).collect()[0]["f2_estimate"]
    assert f2_const == 10_000.0 ** 2  # all signs equal → exact n²
    assert f2_uniq < f2_const / 1000


def _duck_row(con, sql: str) -> dict:
    res = con.execute(sql)
    return dict(zip([d[0] for d in res.description], res.fetchall()[0]))


def test_kernel_counters_match_duckdb_twin(spark, lineitem):
    con = _duck(SF_DIR_MED)
    got = ams_f2_counters(lineitem, F.col("l_orderkey")).collect()[0].asDict()
    assert got == _duck_row(con, _counters_sql("lineitem", "l_orderkey"))
    row = ams_f2_estimate(lineitem, F.col("l_orderkey")).collect()[0].asDict()
    assert row == _duck_row(con, ams_f2_estimate_sql("lineitem", "l_orderkey"))


def test_kernel_handles_null_keys_like_duckdb_twin(spark):
    df = spark.createDataFrame([(1,), (2,), (None,), (3,), (None,)], "k long")
    con = duck_of(t=df)
    got = ams_f2_counters(df, F.col("k")).collect()[0].asDict()
    assert got["n_rows"] == 5
    assert got == _duck_row(con, _counters_sql("t", "k"))
    row = ams_f2_estimate(df, F.col("k")).collect()[0].asDict()
    assert row == _duck_row(con, ams_f2_estimate_sql("t", "k"))
