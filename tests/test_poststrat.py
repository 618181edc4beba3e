"""Post-stratified SUM estimator (plans/poststrat.py)."""

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.estimators import AggSpec, approx_aggregate
from approximatequeryengine_spark.plans.poststrat import (
    poststrat_sum_ci,
    poststrat_sum_ci_sql,
)
from approximatequeryengine_spark.plans.sampling import SamplingSpec, apply_sampling

from .conftest import SF_DIR, _duck

_LKEY = "l_orderkey * 8 + l_linenumber"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_ci_covers_exact_sum(spark, lineitem):
    spec = SamplingSpec(design="uniform_hash", fraction=0.2, key=_LKEY)
    row = poststrat_sum_ci(lineitem, "l_extendedprice", "l_returnflag", spec).collect()[0]
    exact = lineitem.agg(F.sum("l_extendedprice")).collect()[0][0]
    assert row["missing_strata"] == 0
    assert row["ci_lower"] <= exact <= row["ci_upper"]
    # Point estimate within 10% at a 20% sample of the tiny fixture.
    assert abs(row["estimate"] - exact) / exact < 0.10


def test_full_fraction_is_exact_with_zero_width_ci(spark, lineitem):
    spec = SamplingSpec(design="uniform_hash", fraction=1.0, key=_LKEY)
    row = poststrat_sum_ci(lineitem, "l_extendedprice", "l_returnflag", spec).collect()[0]
    exact_cents = lineitem.agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5))
    ).collect()[0][0]
    # fpc: N_g == n_g zeroes every variance term — the CI collapses.
    assert row["ci_lower"] == row["ci_upper"] == row["estimate"]
    assert row["estimate"] == pytest.approx(exact_cents / 100.0, abs=0.01)
    assert row["missing_strata"] == 0 and row["thin_strata"] == 0


def test_tightens_vs_plain_ht_uniform(spark, lineitem):
    """Post-stratification conditions on the realized per-stratum sample
    sizes, so its CI should not be wider than the plain HT estimator's
    at the same fraction (between-stratum + sample-size variance are
    both removed)."""
    spec = SamplingSpec(design="uniform_hash", fraction=0.1, key=_LKEY)
    ps = poststrat_sum_ci(lineitem, "l_extendedprice", "l_returnflag", spec).collect()[0]
    ht = approx_aggregate(
        apply_sampling(lineitem, spec), AggSpec("sum", "l_extendedprice")
    ).collect()[0]
    ps_width = ps["ci_upper"] - ps["ci_lower"]
    ht_width = ht["ci_upper"] - ht["ci_lower"]
    assert ps_width <= ht_width * 1.02  # 2% slack for grid rounding


def test_missing_and_thin_strata_semantics(spark):
    # systematic step 10 over hand-placed keys: stratum 'a' gets two
    # sampled rows, 'b' exactly one (thin), 'c' none (missing).
    rows = [
        ("a", 0, 100.0), ("a", 10, 200.0), ("a", 3, 999.0), ("a", 7, 999.0),
        ("b", 20, 50.0), ("b", 1, 999.0), ("b", 2, 999.0),
        ("c", 4, 999.0), ("c", 5, 999.0),
    ]
    df = spark.createDataFrame(rows, "g string, k long, x double")
    spec = SamplingSpec(design="systematic", fraction=0.1, key="k", step=10)
    row = poststrat_sum_ci(df, "x", "g", spec).collect()[0]
    assert row["n_strata"] == 3
    assert row["missing_strata"] == 1
    assert row["thin_strata"] == 1
    # 'a': 4·mean(100,200) = 600; 'b': 3·50 = 150; 'c' contributes 0.
    assert row["estimate"] == pytest.approx(750.0)
    # thin stratum contributes no variance term; only 'a' widens the CI.
    assert row["ci_upper"] > row["estimate"] > row["ci_lower"]


def test_oracle_matches_on_fixture(spark, lineitem):
    spec = SamplingSpec(design="uniform_hash", fraction=0.1, key=_LKEY)
    got = poststrat_sum_ci(lineitem, "l_extendedprice", "l_returnflag", spec).collect()[0]
    con = _duck(SF_DIR)
    want = con.execute(
        poststrat_sum_ci_sql("lineitem", "l_extendedprice", "l_returnflag", spec)
    ).fetchone()
    assert (
        got["estimate"], got["ci_lower"], got["ci_upper"], got["n_samples"],
        got["n_strata"], got["missing_strata"], got["thin_strata"],
    ) == want


def test_empty_input_returns_zero_row(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(F.lit(False))
    spec = SamplingSpec(design="uniform_hash", fraction=0.1, key=_LKEY)
    row = poststrat_sum_ci(df, "l_extendedprice", "l_returnflag", spec).collect()[0]
    assert row["n_samples"] == 0 and row["n_strata"] == 0
    assert row["estimate"] == row["ci_lower"] == row["ci_upper"] == 0.0
    assert row["missing_strata"] == 0 and row["thin_strata"] == 0


def test_null_stratum_is_a_real_stratum(spark):
    # NULL-stratum rows must keep their sampled moments (null-safe
    # join) and count as a stratum, not vanish into missing_strata.
    rows = [(k, "a" if k % 3 else None, 100.0) for k in range(300)]
    df = spark.createDataFrame(rows, "k long, g string, x double")
    spec = SamplingSpec(design="uniform_hash", fraction=0.5, key="k")
    row = poststrat_sum_ci(df, "x", "g", spec).collect()[0]
    assert row["n_strata"] == 2
    assert row["missing_strata"] == 0
    # constant measure -> the estimate is exact regardless of the draw
    assert row["estimate"] == pytest.approx(300 * 100.0)
    # parity with the DuckDB oracle on the NULL-stratum frame
    con = _duck(SF_DIR)
    con.execute(
        "CREATE VIEW t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({k}, {'NULL' if g is None else repr(g)}, {x})"
            for k, g, x in rows
        )
        + ") AS v(k, g, x)"
    )
    want = con.execute(poststrat_sum_ci_sql("t", "x", "g", spec)).fetchone()
    got = tuple(row)
    assert got == want


def test_grouped_poststrat_matches_oracle_and_sums_to_cells(spark, lineitem, duck):
    """Grouped form: oracle parity, and each group's estimate must equal
    the global estimator run on that group's rows alone (the grouped
    math IS the global math applied within each group)."""
    from .conftest import assert_df_matches_sql

    spec = SamplingSpec(design="uniform_hash", fraction=0.2, key=_LKEY)
    out = poststrat_sum_ci(
        lineitem, "l_extendedprice", "l_returnflag", spec, group_by="l_linestatus"
    )
    assert_df_matches_sql(
        out,
        duck,
        poststrat_sum_ci_sql(
            "lineitem", "l_extendedprice", "l_returnflag", spec, group_by="l_linestatus"
        ),
    )
    rows = {r["l_linestatus"]: r for r in out.collect()}
    for status, row in rows.items():
        alone = poststrat_sum_ci(
            lineitem.filter(F.col("l_linestatus") == status),
            "l_extendedprice",
            "l_returnflag",
            spec,
        ).collect()[0]
        assert row["estimate"] == alone["estimate"]
        assert row["ci_lower"] == alone["ci_lower"]
        assert row["ci_upper"] == alone["ci_upper"]
        assert row["n_samples"] == alone["n_samples"]


def test_grouped_poststrat_engine_sql_surface(engine):
    """method='poststrat' + GROUP BY routes to the grouped estimator;
    stratum == group raises; stratum still required."""
    res = engine.run(
        "SELECT APPROX(SUM(l_extendedprice)) FROM lineitem "
        "GROUP BY l_linestatus",
        method="poststrat",
        stratum_col="l_returnflag",
    )
    rows = res.df.collect()
    assert len(rows) >= 1
    assert all(r["ci_lower"] <= r["ci_upper"] for r in rows)
    with pytest.raises(ValueError, match="must differ"):
        engine.run(
            "SELECT APPROX(SUM(l_extendedprice)) FROM lineitem "
            "GROUP BY l_returnflag",
            method="poststrat",
            stratum_col="l_returnflag",
        )
    with pytest.raises(ValueError, match="stratum_col"):
        engine.run(
            "SELECT APPROX(SUM(l_extendedprice)) FROM lineitem "
            "GROUP BY l_linestatus",
            method="poststrat",
        )
