"""Regression (auxiliary-total) SUM estimator (plans/regression.py)."""

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.estimators import AggSpec, approx_aggregate
from approximatequeryengine_spark.plans.regression import (
    regaux_sum_ci,
    regaux_sum_ci_sql,
)
from approximatequeryengine_spark.plans.sampling import SamplingSpec, apply_sampling

from .conftest import SF_DIR, _duck

_LKEY = "l_orderkey * 8 + l_linenumber"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


REVENUE = "l_extendedprice * (1 - l_discount)"


def test_ci_covers_and_tightens_vs_plain_ht(spark, lineitem):
    spec = SamplingSpec(design="uniform_hash", fraction=0.1, key=_LKEY)
    reg = regaux_sum_ci(lineitem, REVENUE, "l_extendedprice", spec).collect()[0]
    exact = lineitem.agg(F.sum(F.expr(REVENUE))).collect()[0][0]
    assert reg["method"] == "regression"
    assert reg["ci_lower"] <= exact <= reg["ci_upper"]
    ht = approx_aggregate(
        apply_sampling(lineitem, spec), AggSpec("sum", REVENUE)
    ).collect()[0]
    # revenue = price*(1-discount) is ~0.999-correlated with the book
    # price total, so the regression CI should collapse several-fold,
    # not marginally.
    reg_w = reg["ci_upper"] - reg["ci_lower"]
    ht_w = ht["ci_upper"] - ht["ci_lower"]
    assert reg_w < ht_w * 0.3
    # slope ~ (1 - avg discount) in (0.9, 1.0)
    assert 0.85 < reg["slope"] < 1.0


def test_constant_auxiliary_falls_back_to_expansion(spark):
    rows = [(k, float(10 + k % 7), 5.0) for k in range(200)]
    df = spark.createDataFrame(rows, "k long, y double, x double")
    spec = SamplingSpec(design="uniform_hash", fraction=0.3, key="k")
    row = regaux_sum_ci(df, "y", "x", spec).collect()[0]
    assert row["method"] == "expansion_fallback"
    assert row["slope"] == 0.0
    exact = sum(r[1] for r in rows)
    assert row["ci_lower"] <= exact <= row["ci_upper"]


def test_tiny_sample_falls_back(spark):
    rows = [(k, float(k), float(k)) for k in range(10)]
    df = spark.createDataFrame(rows, "k long, y double, x double")
    # systematic step 10 → exactly one sampled row
    spec = SamplingSpec(design="systematic", fraction=0.1, key="k", step=10)
    row = regaux_sum_ci(df, "y", "x", spec).collect()[0]
    assert row["n_samples"] == 1
    assert row["method"] == "expansion_fallback"


def test_oracle_matches_on_fixture(spark, lineitem):
    spec = SamplingSpec(design="uniform_hash", fraction=0.1, key=_LKEY)
    got = regaux_sum_ci(lineitem, REVENUE, "l_extendedprice", spec).collect()[0]
    con = _duck(SF_DIR)
    want = con.execute(
        regaux_sum_ci_sql("lineitem", REVENUE, "l_extendedprice", spec)
    ).fetchone()
    assert (
        got["estimate"], got["ci_lower"], got["ci_upper"],
        got["n_samples"], got["slope"], got["method"],
    ) == want


def test_empty_table_returns_zero_row(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(F.lit(False))
    spec = SamplingSpec(design="uniform_hash", fraction=0.1, key=_LKEY)
    row = regaux_sum_ci(df, REVENUE, "l_extendedprice", spec).collect()[0]
    assert row["n_samples"] == 0
    assert row["estimate"] == row["ci_lower"] == row["ci_upper"] == 0.0
    assert row["method"] == "expansion_fallback"


def test_grouped_regaux_matches_oracle_and_per_group_global(spark, lineitem, duck):
    """Grouped form: oracle parity, and each group's row must equal the
    global estimator run on that group's rows alone (separate slope,
    separate fallback decision per group)."""
    from .conftest import assert_df_matches_sql

    spec = SamplingSpec(design="uniform_hash", fraction=0.2, key=_LKEY)
    out = regaux_sum_ci(
        lineitem, REVENUE, "l_extendedprice", spec, group_by="l_returnflag"
    )
    assert_df_matches_sql(
        out,
        duck,
        regaux_sum_ci_sql(
            "lineitem", REVENUE, "l_extendedprice", spec, group_by="l_returnflag"
        ),
    )
    for row in out.collect():
        alone = regaux_sum_ci(
            lineitem.filter(F.col("l_returnflag") == row["l_returnflag"]),
            REVENUE,
            "l_extendedprice",
            spec,
        ).collect()[0]
        assert row["estimate"] == alone["estimate"]
        assert row["ci_lower"] == alone["ci_lower"]
        assert row["ci_upper"] == alone["ci_upper"]
        assert row["slope"] == alone["slope"]
        assert row["method"] == alone["method"]


def test_grouped_regaux_engine_sql_surface(engine):
    """method='regaux' + GROUP BY routes to the grouped estimator and
    still requires aux_column."""
    res = engine.run(
        "SELECT APPROX(SUM(l_extendedprice)) FROM lineitem "
        "GROUP BY l_returnflag",
        method="regaux",
        aux_column="l_quantity",
    )
    rows = res.df.collect()
    assert len(rows) == 3
    assert all(r["ci_lower"] <= r["ci_upper"] for r in rows)
    with pytest.raises(ValueError, match="aux_column"):
        engine.run(
            "SELECT APPROX(SUM(l_extendedprice)) FROM lineitem "
            "GROUP BY l_returnflag",
            method="regaux",
        )
