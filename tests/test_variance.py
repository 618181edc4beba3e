"""Sampled stddev estimator (plans/variance.py) + its dialect route."""

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.catalog import Catalog
from approximatequeryengine_spark.plans.sampling import SamplingSpec
from approximatequeryengine_spark.plans.variance import (
    approx_stddev_ci,
    approx_stddev_ci_sql,
)
from tests.conftest import SF_DIR, assert_df_matches_sql

SPEC = SamplingSpec(design="uniform_hash", fraction=0.2, key="l_orderkey * 8 + l_linenumber")


@pytest.fixture(scope="module")
def lineitem(spark):
    return Catalog(spark, SF_DIR).table("lineitem")


def test_ci_covers_exact_stddev(spark, lineitem):
    exact = lineitem.agg(
        F.stddev_samp(F.col("l_extendedprice").cast("double")).alias("s")
    ).collect()[0]["s"]
    row = approx_stddev_ci(lineitem, "l_extendedprice", SPEC).collect()[0]
    assert row["ci_lower"] <= exact <= row["ci_upper"]
    # the point estimate itself lands within a few percent at 20%
    assert row["stddev"] == pytest.approx(exact, rel=0.10)
    assert 0 < row["ci_lower"] < row["ci_upper"]


def test_coverage_over_salts(spark, lineitem):
    """~95% nominal: across 12 independent sample draws (salts), at
    most 2 intervals may miss the true stddev."""
    exact = lineitem.agg(
        F.stddev_samp(F.col("l_extendedprice").cast("double")).alias("s")
    ).collect()[0]["s"]
    misses = 0
    for salt in range(12):
        spec = SamplingSpec(
            design="uniform_hash", fraction=0.15,
            key=SPEC.key, salt=salt,
        )
        row = approx_stddev_ci(lineitem, "l_extendedprice", spec).collect()[0]
        if not row["ci_lower"] <= exact <= row["ci_upper"]:
            misses += 1
    assert misses <= 2


def test_oracle_parity(spark, lineitem, duck):
    assert_df_matches_sql(
        approx_stddev_ci(lineitem, "l_extendedprice", SPEC),
        duck,
        approx_stddev_ci_sql("lineitem", "l_extendedprice", SPEC),
    )


def test_empty_sample_raises(spark):
    df = spark.range(0).select(F.col("id").alias("x"))
    with pytest.raises(ValueError, match="at least 2 sampled"):
        approx_stddev_ci(df, "x", SamplingSpec(design="uniform_hash", fraction=0.5, key="x"))


def test_stddev_constant_column_degenerate_interval(spark, duck):
    """A constant column has sd = 0: the interval must be [0, 0] (not
    NaN/NULL), and the oracle must agree — including the greatest(…,0)
    guard that keeps DuckDB's sqrt off float-rounding negatives."""
    duck.execute("CREATE OR REPLACE VIEW const_t AS SELECT range AS k, 7.5 AS x FROM range(100)")
    df = spark.range(100).select(F.col("id").alias("k"), F.lit(7.5).alias("x"))
    spec = SamplingSpec(design="uniform_hash", fraction=0.9, key="k")
    sdf = approx_stddev_ci(df, "x", spec)
    row = sdf.collect()[0]
    assert row["stddev"] == 0.0
    assert row["ci_lower"] == 0.0 and row["ci_upper"] == 0.0
    assert_df_matches_sql(sdf, duck, approx_stddev_ci_sql("const_t", "x", spec))


def test_dialect_route(engine):
    res = engine.run("SELECT APPROX(STDDEV(l_extendedprice)) FROM lineitem", sample_pct=20)
    assert res.method == "moment"
    assert res.ci_lower <= res.value <= res.ci_upper
    exact = engine.run("SELECT STDDEV(l_extendedprice) FROM lineitem")
    assert exact.status.name == "EXACT"
    assert res.ci_lower <= exact.value <= res.ci_upper
    # grouped APPROX(STDDEV) routes to the per-group moment estimator
    grouped = engine.run(
        "SELECT APPROX(STDDEV(value)) FROM events GROUP BY event_type",
        sample_pct=50,
    )
    assert grouped.method == "moment" and grouped.df.count() == 5
    # still-unsupported aggregates keep raising the dialect error
    with pytest.raises(ValueError, match="APPROX dialect supports"):
        engine.run("SELECT APPROX(SKEWNESS(l_extendedprice)) FROM lineitem")


def test_corr_ci_covers_exact(spark, lineitem, duck):
    from approximatequeryengine_spark.plans.variance import (
        approx_corr_ci,
        approx_corr_ci_sql,
    )

    exact = lineitem.agg(
        F.corr(
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
        ).alias("r")
    ).collect()[0]["r"]
    row = approx_corr_ci(lineitem, "l_quantity", "l_extendedprice", SPEC).collect()[0]
    assert -1.0 <= row["ci_lower"] < row["ci_upper"] <= 1.0
    assert row["ci_lower"] <= exact <= row["ci_upper"]
    assert row["corr"] == pytest.approx(exact, abs=0.1)
    assert_df_matches_sql(
        approx_corr_ci(lineitem, "l_quantity", "l_extendedprice", SPEC),
        duck,
        approx_corr_ci_sql("lineitem", "l_quantity", "l_extendedprice", SPEC),
    )


def test_corr_dialect_route(engine):
    res = engine.run(
        "SELECT APPROX(CORR(l_quantity, l_extendedprice)) FROM lineitem",
        sample_pct=20,
    )
    assert res.method == "fisher_z"
    assert res.ci_lower <= res.value <= res.ci_upper
    exact = engine.run("SELECT CORR(l_quantity, l_extendedprice) FROM lineitem")
    assert exact.status.name == "EXACT"
    assert res.ci_lower <= exact.value <= res.ci_upper
    with pytest.raises(ValueError, match="CORR requires two columns"):
        engine.run("SELECT APPROX(CORR(l_quantity)) FROM lineitem")


def test_ab_diff_ci_covers_exact(spark, engine, duck):
    from approximatequeryengine_spark.plans.variance import (
        approx_ab_diff_ci,
        approx_ab_diff_ci_sql,
    )

    events = engine.catalog.table("events")
    spec = SamplingSpec(design="uniform_hash", fraction=0.5, key="event_id")
    exact = {
        r["event_type"]: r["m"]
        for r in events.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(F.avg(F.col("value").cast("double")).alias("m"))
        .collect()
    }
    true_diff = exact["purchase"] - exact["click"]
    row = approx_ab_diff_ci(
        events, "value", "event_type", "purchase", "click", spec
    ).collect()[0]
    assert row["ci_lower"] <= true_diff <= row["ci_upper"]
    assert row["ci_lower"] < row["diff"] < row["ci_upper"]
    assert row["n_a"] > 0 and row["n_b"] > 0
    # the arm means reconstruct from the shared center exactly
    assert row["diff"] == pytest.approx(row["mean_a"] - row["mean_b"], abs=1e-5)
    assert_df_matches_sql(
        approx_ab_diff_ci(events, "value", "event_type", "purchase", "click", spec),
        duck,
        approx_ab_diff_ci_sql(
            "events", "value", "event_type", "purchase", "click", spec
        ),
    )


def test_corr_degenerate_constant_arm_is_null(spark, duck):
    """corr over a constant x column: vx = 0 → NULL corr and CI in BOTH
    engines (no NaN, no DuckDB sqrt crash)."""
    from approximatequeryengine_spark.plans.variance import (
        approx_corr_ci,
        approx_corr_ci_sql,
    )

    duck.execute(
        "CREATE OR REPLACE VIEW constc_t AS "
        "SELECT range AS k, 3.0 AS x, range * 1.5 AS y FROM range(200)"
    )
    df = spark.range(200).select(
        F.col("id").alias("k"), F.lit(3.0).alias("x"), (F.col("id") * 1.5).alias("y")
    )
    spec = SamplingSpec(design="uniform_hash", fraction=0.5, key="k")
    sdf = approx_corr_ci(df, "x", "y", spec)
    row = sdf.collect()[0]
    assert row["corr"] is None and row["ci_lower"] is None
    assert_df_matches_sql(sdf, duck, approx_corr_ci_sql("constc_t", "x", "y", spec))


def test_corr_tiny_sample_raises(spark):
    from approximatequeryengine_spark.plans.variance import approx_corr_ci

    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2).cast("double").alias("y"),
    )
    with pytest.raises(ValueError, match="more than 3 sampled"):
        approx_corr_ci(df, "x", "y", SamplingSpec(design="none", key="k"))


def test_ab_diff_missing_arm_raises(spark, engine):
    from approximatequeryengine_spark.plans.variance import approx_ab_diff_ci

    events = engine.catalog.table("events")
    with pytest.raises(ValueError, match="fewer than 2 sampled"):
        approx_ab_diff_ci(
            events, "value", "event_type", "purchase", "no_such_arm",
            SamplingSpec(design="uniform_hash", fraction=0.5, key="event_id"),
        )


def test_plain_grouped_stddev_and_corr_pass_through(engine):
    """Plain (non-APPROX) grouped STDDEV/CORR must still run exact via
    spark.sql — the grammar widening must not regress passthrough."""
    res = engine.run("SELECT STDDEV(value) FROM events GROUP BY event_type")
    assert res.status.name == "EXACT" and res.method == "spark_sql"
    assert res.df.count() == 5
    res2 = engine.run(
        "SELECT CORR(value, user_id) FROM events GROUP BY event_type"
    )
    assert res2.status.name == "EXACT" and res2.method == "spark_sql"
    assert res2.df.count() == 5
    # exact STDDEV over an empty selection returns NULL, not a crash
    res3 = engine.run("SELECT STDDEV(value) FROM events WHERE value < -1e18")
    assert res3.value is None


def test_native_approx_percentile_passthrough_preserved(engine):
    """Spark's native lowercase approx_percentile(col, q, accuracy) must
    NOT be captured by the dialect's uppercase APPROX_PERCENTILE form —
    its third argument means accuracy, not a sample percentage."""
    res = engine.run(
        "SELECT approx_percentile(l_extendedprice, 0.9, 10000) AS p FROM lineitem"
    )
    assert res.method == "spark_sql"
    v = res.df.collect()[0]["p"]
    assert v is not None and v > 0


def test_grouped_stddev_covers_per_group(spark, lineitem, duck):

    spec = SamplingSpec(design="uniform_hash", fraction=0.3, key=SPEC.key)
    exact = {
        r["l_returnflag"]: r["s"]
        for r in lineitem.groupBy("l_returnflag")
        .agg(F.stddev_samp(F.col("l_extendedprice").cast("double")).alias("s"))
        .collect()
    }
    rows = approx_stddev_ci(lineitem, "l_extendedprice", spec, group_by="l_returnflag").collect()
    assert {r["l_returnflag"] for r in rows} == set(exact)
    covered = sum(
        1 for r in rows if r["ci_lower"] <= exact[r["l_returnflag"]] <= r["ci_upper"]
    )
    assert covered == len(rows)  # 30% sample: every group's CI covers
    assert_df_matches_sql(
        approx_stddev_ci(lineitem, "l_extendedprice", spec, group_by="l_returnflag"),
        duck,
        approx_stddev_ci_sql("lineitem", "l_extendedprice", spec, group_by="l_returnflag"),
    )


def test_grouped_stddev_rows_equal_global_per_group(lineitem):
    """Each group's row of the grouped STDDEV equals the global
    estimator run on that group's rows alone: a global query recentres
    its fourth moment exactly as each group does. l_discount sits about
    0.05 away from its integer centre 0 with a spread of about 0.03,
    so an unrecentred m4 widens the global interval several-fold."""
    spec = SamplingSpec(design="uniform_hash", fraction=0.2, key=SPEC.key)
    out = approx_stddev_ci(lineitem, "l_discount", spec, group_by="l_returnflag")
    rows = out.collect()
    assert len(rows) == 3
    for row in rows:
        alone = approx_stddev_ci(
            lineitem.filter(F.col("l_returnflag") == row["l_returnflag"]),
            "l_discount",
            spec,
        ).collect()[0]
        assert alone.asDict() == {k: row[k] for k in alone.asDict()}


def test_grouped_stddev_keeps_null_group(null_group_frame):
    """A NULL group is a group: the grouped STDDEV returns its row in
    Spark and in the DuckDB twin, and the two agree."""
    from tests.conftest import duck_of

    spec = SamplingSpec(design="uniform_hash", fraction=0.5, key="k")
    out = approx_stddev_ci(null_group_frame, "v", spec, group_by="g")
    assert {r["g"] for r in out.collect()} == {"0", "1", None}
    assert_df_matches_sql(
        out, duck_of(t=null_group_frame), approx_stddev_ci_sql("t", "v", spec, group_by="g")
    )


def test_stddev_route_interval_uses_central_fourth_moment(engine, duck):
    """APPROX(STDDEV(l_discount)) through the engine: the interval is
    the Kendall–Stuart one with m4 taken about the sample mean,
    recomputed here in float64 from the same 10% sample."""
    import math

    from approximatequeryengine_spark.plans.estimators import Z_95
    from approximatequeryengine_spark.plans.sampling import sampling_where_sql

    res = engine.run("SELECT APPROX(STDDEV(l_discount)) FROM lineitem")
    spec = SamplingSpec(
        design="uniform_hash", fraction=0.1, key=engine.catalog.unique_key("lineitem")
    )
    xs = [
        r[0]
        for r in duck.execute(
            "SELECT CAST(l_discount AS DOUBLE) FROM lineitem "
            f"WHERE ({sampling_where_sql(spec)}) AND l_discount IS NOT NULL"
        ).fetchall()
    ]
    n = len(xs)
    mean = sum(xs) / n
    s2 = sum((x - mean) ** 2 for x in xs) / (n - 1)
    m4 = sum((x - mean) ** 4 for x in xs) / n
    half = Z_95 * math.sqrt((m4 - s2 * s2 * (n - 3) / (n - 1)) / n) / (2 * math.sqrt(s2))
    assert res.samples_used == n
    assert res.value == pytest.approx(math.sqrt(s2), abs=1e-4)
    # bounds are rounded to 4 decimals; an unrecentred m4 gives ~5x the width
    assert res.ci_upper - res.ci_lower == pytest.approx(2 * half, abs=2e-4)


def test_grouped_stddev_dialect_route(engine):
    res = engine.run(
        "SELECT APPROX(STDDEV(l_extendedprice)) FROM lineitem GROUP BY l_returnflag",
        sample_pct=30,
    )
    assert res.method == "moment"
    rows = res.df.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["ci_lower"] <= r["stddev"] <= r["ci_upper"]


def test_grouped_corr_dialect_route(engine):
    """Regression (round-4 advisory): grouped APPROX(CORR(x, y)) routes
    to the grouped approx_corr_ci instead of raising."""
    res = engine.run(
        "SELECT APPROX(CORR(l_quantity, l_extendedprice)) FROM lineitem "
        "GROUP BY l_returnflag",
        sample_pct=30,
    )
    assert res.method == "fisher_z"
    rows = res.df.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["corr"] is None or (
            r["ci_lower"] <= r["corr"] <= r["ci_upper"]
        )


def test_grouped_corr_covers_and_handles_tiny_groups(spark, lineitem, duck):
    from approximatequeryengine_spark.plans.variance import (
        approx_corr_ci,
        approx_corr_ci_sql,
    )

    spec = SamplingSpec(design="uniform_hash", fraction=0.3, key=SPEC.key)
    exact = {
        r["l_returnflag"]: r["r"]
        for r in lineitem.groupBy("l_returnflag")
        .agg(
            F.corr(
                F.col("l_quantity").cast("double"),
                F.col("l_extendedprice").cast("double"),
            ).alias("r")
        )
        .collect()
    }
    rows = approx_corr_ci(
        lineitem, "l_quantity", "l_extendedprice", spec, group_by="l_returnflag"
    ).collect()
    assert {r["l_returnflag"] for r in rows} == set(exact)
    for r in rows:
        assert r["ci_lower"] <= exact[r["l_returnflag"]] <= r["ci_upper"]
    assert_df_matches_sql(
        approx_corr_ci(
            lineitem, "l_quantity", "l_extendedprice", spec, group_by="l_returnflag"
        ),
        duck,
        approx_corr_ci_sql(
            "lineitem", "l_quantity", "l_extendedprice", spec, group_by="l_returnflag"
        ),
    )
    # a 1-row group must yield NULL corr/CI, not a crash, in BOTH engines
    duck.execute(
        "CREATE OR REPLACE VIEW tiny_t AS "
        "SELECT range AS k, CASE WHEN range = 0 THEN 'solo' ELSE 'rest' END AS g, "
        "CAST(range AS DOUBLE) AS x, CAST(range * 2 AS DOUBLE) AS y FROM range(50)"
    )
    tiny = spark.range(50).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 0, "solo").otherwise("rest").alias("g"),
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2).cast("double").alias("y"),
    )
    tiny_spec = SamplingSpec(design="none", key="k")
    got = {
        r["g"]: r
        for r in approx_corr_ci(tiny, "x", "y", tiny_spec, group_by="g").collect()
    }
    assert got["solo"]["corr"] is None and got["solo"]["ci_lower"] is None
    # perfectly-correlated group: r = 1 exactly, where atanh diverges —
    # the |r| < 1 guard yields NULL interval bounds by design
    assert got["rest"]["corr"] == pytest.approx(1.0, abs=1e-6)
    assert got["rest"]["ci_lower"] is None
    # None-safe parity check (the conftest comparator's plain sort
    # can't order None against float; the driver's own hasher can)
    sdf = approx_corr_ci(tiny, "x", "y", tiny_spec, group_by="g")
    cols = sorted(sdf.columns)
    key = lambda row: tuple((v is None, str(v)) for v in row)
    srows = sorted((tuple(r[c] for c in cols) for r in sdf.collect()), key=key)
    res = duck.execute(approx_corr_ci_sql("tiny_t", "x", "y", tiny_spec, group_by="g"))
    dcols = [d[0] for d in res.description]
    idx = [dcols.index(c) for c in cols]
    drows = sorted((tuple(r[i] for i in idx) for r in res.fetchall()), key=key)
    assert srows == drows


def test_grouped_stddev_offset_groups_exact_m4_recenter(spark, duck):
    """Regression (round-4 advisory): with a global shared center, a
    group whose mean sits far from it must still get a TIGHT interval —
    the aggregate recenters m4 per group via the binomial identity, so
    the CI cannot inflate by ~6d²s² + d⁴ (previously: group means 0 vs
    100000 yielded a CI seven orders of magnitude too wide)."""
    n_per = 300
    offs = spark.sql(
        "SELECT CASE WHEN id < 300 THEN 'lo' ELSE 'hi' END AS g, "
        "CAST(CASE WHEN id < 300 THEN (id % 3) - 1.0 "
        "     ELSE 100000.0 + (id % 3) - 1.0 END AS DOUBLE) AS x, id AS k "
        "FROM range(600)"
    )
    duck.execute(
        "CREATE OR REPLACE VIEW offs_t AS "
        "SELECT CASE WHEN range < 300 THEN 'lo' ELSE 'hi' END AS g, "
        "CAST(CASE WHEN range < 300 THEN (range % 3) - 1.0 "
        "     ELSE 100000.0 + (range % 3) - 1.0 END AS DOUBLE) AS x, range AS k "
        "FROM range(600)"
    )

    spec = SamplingSpec(design="none", key="k")
    # each group is 100 copies each of {-1, 0, 1} about its own mean:
    # s = sqrt(sum d^2 / (n-1)) = sqrt(200 / 299)
    import math

    true_sd = math.sqrt(200.0 / (n_per - 1))
    rows = {
        r["g"]: r
        for r in approx_stddev_ci(offs, "x", spec, group_by="g").collect()
    }
    for g in ("lo", "hi"):
        r = rows[g]
        assert r["stddev"] == pytest.approx(true_sd, abs=1e-3)
        # design='none' covers the exact value with a tight interval:
        # half-width must be of order the stddev itself, not 1e6
        assert r["ci_upper"] - r["ci_lower"] < 1.0
        assert r["ci_lower"] <= true_sd <= r["ci_upper"] or (
            abs(r["stddev"] - true_sd) < 1e-3
        )
    assert_df_matches_sql(
        approx_stddev_ci(offs, "x", spec, group_by="g"),
        duck,
        approx_stddev_ci_sql("offs_t", "x", spec, group_by="g"),
    )
