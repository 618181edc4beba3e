"""Outlier-indexed SUM estimation (plans/outlier.py)."""

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.catalog import Catalog
from approximatequeryengine_spark.plans.estimators import AggSpec, approx_aggregate
from approximatequeryengine_spark.plans.outlier import (
    outlier_sum_ci,
    outlier_sum_ci_sql,
)
from approximatequeryengine_spark.plans.sampling import SamplingSpec, apply_sampling
from tests.conftest import SF_DIR, assert_df_matches_sql, duck_of


def test_covers_exact_and_outliers_are_exact(spark, engine):
    orders = engine.catalog.table("orders")
    exact = orders.agg(
        F.sum(F.col("o_totalprice").cast("double")).alias("s")
    ).collect()[0]["s"]
    row = outlier_sum_ci(orders, "o_totalprice", "o_orderkey", 0.2).collect()[0]
    assert row["ci_lower"] <= exact <= row["ci_upper"]
    assert row["n_outliers"] <= 100
    # the outlier stratum is exact: it must equal the true sum of the
    # rows above the threshold, i.e. estimate - rest-estimate
    assert row["outlier_sum"] > 0
    assert row["estimate"] == pytest.approx(exact, rel=0.05)


def test_oracle_parity(spark, engine, duck):
    assert_df_matches_sql(
        outlier_sum_ci(engine.catalog.table("orders"), "o_totalprice", "o_orderkey", 0.2),
        duck,
        outlier_sum_ci_sql("orders", "o_totalprice", "o_orderkey", 0.2),
    )


def test_narrower_than_uniform_on_skew(spark):
    """On heavy-tailed data the outlier index must beat plain uniform
    sampling: average CI width over 8 salts strictly smaller, at the
    same sampling budget."""
    # ~1% giant rows worth ~100x the body
    df = spark.range(0, 20_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 97 == 0, 10_000.0 + (F.col("id") % 7) * 1000)
        .otherwise(10.0 + (F.col("id") % 13))
        .alias("v"),
    )
    exact = df.agg(F.sum("v")).collect()[0][0]
    widths_uni, widths_out, covers_out = [], [], 0
    for salt in range(8):
        spec = SamplingSpec(design="uniform_hash", fraction=0.1, key="k", salt=salt)
        uni = approx_aggregate(
            apply_sampling(df, spec), AggSpec("sum", "v")
        ).collect()[0]
        widths_uni.append(uni["ci_upper"] - uni["ci_lower"])
        out = outlier_sum_ci(
            df, "v", "k", 0.1, n_outliers=300, salt=salt
        ).collect()[0]
        widths_out.append(out["ci_upper"] - out["ci_lower"])
        if out["ci_lower"] <= exact <= out["ci_upper"]:
            covers_out += 1
    assert sum(widths_out) / len(widths_out) < 0.5 * sum(widths_uni) / len(widths_uni)
    assert covers_out >= 7


def test_empty_input_raises(spark):
    df = spark.range(0).select(F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="empty input"):
        outlier_sum_ci(df, "v", "k", 0.5)


def test_outlier_method_via_engine(engine):
    res = engine.run(
        "SELECT APPROX(SUM(o_totalprice)) FROM orders",
        sample_pct=20,
        method="outlier",
    )
    assert res.method == "outlier"
    exact = engine.run("SELECT SUM(o_totalprice) FROM orders")
    assert res.ci_lower <= exact.value <= res.ci_upper
    assert res.samples_used > 0
    import pytest

    with pytest.raises(ValueError, match="global SUM only"):
        engine.run(
            "SELECT APPROX(AVG(o_totalprice)) FROM orders", method="outlier"
        )


def test_fraction_one_degenerates_to_exact(spark, engine, duck):
    """At fraction 1.0 every remainder row is sampled with p=1: the HT
    estimate IS the plain sum and the variance moment vanishes, so the
    operator must return the exact SUM with a zero-width interval —
    in both engines."""
    orders = engine.catalog.table("orders")
    exact = orders.agg(
        F.round(F.sum(F.col("o_totalprice").cast("double")), 2).alias("s")
    ).collect()[0]["s"]
    row = outlier_sum_ci(orders, "o_totalprice", "o_orderkey", 1.0).collect()[0]
    assert row["estimate"] == exact
    assert row["ci_lower"] == row["estimate"] == row["ci_upper"]
    drow = duck.execute(
        outlier_sum_ci_sql("orders", "o_totalprice", "o_orderkey", 1.0)
    ).fetchone()
    assert drow[0] == row["estimate"] and drow[1] == drow[2] == drow[0]


def test_grouped_outlier_oracle_parity(spark, engine, duck):
    orders = engine.catalog.table("orders")
    assert_df_matches_sql(
        outlier_sum_ci(
            orders, "o_totalprice", "o_orderkey", 0.2, n_outliers=50,
            group_by="o_orderpriority",
        ),
        duck,
        outlier_sum_ci_sql(
            "orders", "o_totalprice", "o_orderkey", 0.2, n_outliers=50,
            group_by="o_orderpriority",
        ),
    )


def test_grouped_outlier_rows_equal_global_per_group(null_group_frame):
    """Each group's row of the grouped estimator, the NULL group
    included, equals the global estimator run on that group's rows
    alone, and the DuckDB twin returns the same rows. Integer values at
    fraction 0.5 keep every moment exact, so the rows match exactly."""
    df = null_group_frame
    out = outlier_sum_ci(df, "v", "k", 0.5, group_by="g")
    rows = out.collect()
    assert {r["g"] for r in rows} == {"0", "1", None}
    for row in rows:
        alone = outlier_sum_ci(
            df.filter(F.col("g").eqNullSafe(F.lit(row["g"]))), "v", "k", 0.5
        ).collect()[0]
        assert alone.asDict() == {k: row[k] for k in alone.asDict()}
    assert_df_matches_sql(
        out, duck_of(t=df), outlier_sum_ci_sql("t", "v", "k", 0.5, group_by="g")
    )


def test_grouped_outlier_narrower_than_uniform_per_group(spark):
    """Each group's outlier-indexed CI must beat the grouped uniform
    estimator's CI on heavy-tailed per-group data — the skew robustness
    is per group, not just in aggregate."""
    df = spark.range(0, 30_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        F.when(F.col("id") % 97 == 0, 10_000.0 + (F.col("id") % 7) * 1000)
        .otherwise(10.0 + (F.col("id") % 13))
        .alias("v"),
    )
    exact = {
        r["g"]: r["s"]
        for r in df.groupBy("g").agg(F.sum("v").alias("s")).collect()
    }
    width_uni = {g: [] for g in exact}
    width_out = {g: [] for g in exact}
    covers = 0
    n_checks = 0
    for salt in range(6):
        spec = SamplingSpec(design="uniform_hash", fraction=0.1, key="k", salt=salt)
        for r in approx_aggregate(
            apply_sampling(df, spec), AggSpec("sum", "v"), group_by=["g"]
        ).collect():
            width_uni[r["g"]].append(r["ci_upper"] - r["ci_lower"])
        for r in outlier_sum_ci(
            df, "v", "k", 0.1, n_outliers=200, salt=salt, group_by="g"
        ).collect():
            width_out[r["g"]].append(r["ci_upper"] - r["ci_lower"])
            n_checks += 1
            if r["ci_lower"] <= exact[r["g"]] <= r["ci_upper"]:
                covers += 1
    for g in exact:
        assert sum(width_out[g]) / len(width_out[g]) < 0.5 * sum(
            width_uni[g]
        ) / len(width_uni[g]), g
    assert covers >= n_checks - 2


def test_grouped_outlier_method_via_engine(engine):
    res = engine.run(
        "SELECT APPROX(SUM(o_totalprice)) FROM orders GROUP BY o_orderpriority",
        sample_pct=20,
        method="outlier",
    )
    assert res.method == "outlier"
    rows = res.df.collect()
    assert len(rows) == 5
    exact = {
        r["o_orderpriority"]: r["s"]
        for r in engine.catalog.table("orders")
        .groupBy("o_orderpriority")
        .agg(F.sum(F.col("o_totalprice").cast("double")).alias("s"))
        .collect()
    }
    covered = sum(
        1
        for r in rows
        if r["ci_lower"] <= exact[r["o_orderpriority"]] <= r["ci_upper"]
    )
    assert covered >= 4
