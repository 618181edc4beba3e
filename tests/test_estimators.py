"""Estimator semantics: scaling rules, CI formulas vs the SQL oracle,
unbiasedness over independent hash functions, CI coverage."""

import pytest

from approximatequeryengine_spark.plans.estimators import AggSpec, approx_aggregate, moments_sql
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    sampling_p_sql,
    sampling_where_sql,
)
from tests.conftest import assert_df_matches_sql

KEY = "l_orderkey * 8 + l_linenumber"


def _estimate(engine, agg, spec, group_by=None, where=None):
    df = engine.catalog.table("lineitem")
    if where:
        df = df.filter(where)
    sampled = apply_sampling(df, spec)
    return approx_aggregate(sampled, agg, group_by=group_by)


@pytest.mark.parametrize("func", ["sum", "avg", "count"])
def test_ci_formulas_match_sql_oracle(engine, duck, func):
    """Same deterministic sample + same closed-form CI in DuckDB must
    reproduce value, ci_lower, ci_upper bit-for-bit (within fp noise)."""
    spec = SamplingSpec(fraction=0.1, key=KEY)
    agg = AggSpec(func=func, column=None if func == "count" else "l_extendedprice")
    sdf = _estimate(engine, agg, spec)
    oracle = moments_sql(
        table="lineitem",
        column="l_extendedprice" if func != "count" else "1",
        where=sampling_where_sql(spec),
        agg=func,
        p_sql=sampling_p_sql(spec),
        alias=agg.name(),
    )
    assert_df_matches_sql(sdf, duck, oracle, rel=1e-9, abs_tol=1e-4)


def test_grouped_ci_matches_sql_oracle(engine, duck):
    spec = SamplingSpec(fraction=0.2, key=KEY)
    agg = AggSpec(func="sum", column="l_extendedprice")
    sdf = _estimate(engine, agg, spec, group_by=["l_returnflag"])
    oracle = moments_sql(
        table="lineitem",
        column="l_extendedprice",
        where=sampling_where_sql(spec),
        agg="sum",
        p_sql=sampling_p_sql(spec),
        alias=agg.name(),
        group_by="l_returnflag",
    )
    assert_df_matches_sql(sdf, duck, oracle, rel=1e-9, abs_tol=1e-4)


def test_avg_is_unscaled(engine, duck):
    """Reference semantics: AVG is the plain sample mean
    (executor.cpp:50-53) — must be within a few % of the true mean, and
    exactly the mean of the sampled rows."""
    spec = SamplingSpec(fraction=0.1, key=KEY)
    row = _estimate(engine, AggSpec("avg", "l_extendedprice"), spec).collect()[0]
    where = sampling_where_sql(spec)
    truth = duck.execute(
        f"SELECT AVG(l_extendedprice) FROM lineitem WHERE {where}"
    ).fetchone()[0]
    assert row["avg_l_extendedprice"] == pytest.approx(truth, rel=1e-12)


def test_sum_unbiased_over_hash_functions(engine, duck):
    """Mean of HT estimates across independent hash salts ≈ exact sum."""
    exact = duck.execute("SELECT SUM(l_extendedprice) FROM lineitem").fetchone()[0]
    ests = []
    for salt in range(30):
        spec = SamplingSpec(fraction=0.3, key=KEY, salt=salt)
        row = _estimate(engine, AggSpec("sum", "l_extendedprice"), spec).collect()[0]
        ests.append(row["sum_l_extendedprice"])
    mean_est = sum(ests) / len(ests)
    assert mean_est == pytest.approx(exact, rel=0.02)


def test_ci_coverage(engine, duck):
    """~95% of CIs over independent hash functions should cover the truth
    (binomial slack: ≥ 80% of 40 draws)."""
    exact = duck.execute("SELECT AVG(l_extendedprice) FROM lineitem").fetchone()[0]
    hits = 0
    trials = 40
    for salt in range(trials):
        spec = SamplingSpec(fraction=0.1, key=KEY, salt=salt)
        row = _estimate(engine, AggSpec("avg", "l_extendedprice"), spec).collect()[0]
        if row["ci_lower"] <= exact <= row["ci_upper"]:
            hits += 1
    assert hits >= int(0.80 * trials), f"CI coverage too low: {hits}/{trials}"


def test_n_lt_2_fallback(engine):
    """A group with <2 sampled rows collapses its CI to the point
    estimate (executor.cpp:255-277)."""
    spec = SamplingSpec(fraction=1e-4, key=KEY)
    rows = _estimate(engine, AggSpec("sum", "l_extendedprice"), spec).collect()
    for r in rows:
        if r["n_samples"] < 2:
            assert r["ci_lower"] == r["ci_upper"] == r["sum_l_extendedprice"]


def test_sampled_minmax_ci_is_null(engine):
    """A sampled extremum is biased toward the interior — a zero-width
    CI around it would claim false certainty, so the bounds must be
    NULL over a real sample and exact (zero-width) only over the full
    data (ADVICE round 1)."""
    row = _estimate(
        engine, AggSpec("max", "l_extendedprice"), SamplingSpec(fraction=0.1, key=KEY)
    ).collect()[0]
    assert row["max_l_extendedprice"] is not None
    assert row["ci_lower"] is None and row["ci_upper"] is None
    full = _estimate(
        engine, AggSpec("min", "l_extendedprice"), SamplingSpec(design="none")
    ).collect()[0]
    assert full["ci_lower"] == full["ci_upper"] == full["min_l_extendedprice"]


def test_avg_margin_not_integer_floored(engine):
    """AVG margins are O(0.01–1); the SUM/COUNT integer-margin rounding
    must NOT apply (it forced every AVG CI to ≥ ±1 and made different z
    levels indistinguishable — ADVICE round 1). l_discount's mean is
    ~0.05, so a correct z·se margin is far below 1."""
    row = _estimate(
        engine, AggSpec("avg", "l_discount"), SamplingSpec(fraction=0.2, key=KEY)
    ).collect()[0]
    margin = (row["ci_upper"] - row["ci_lower"]) / 2.0
    assert 0.0 < margin < 0.1


def test_count_estimator(engine, duck):
    total = duck.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
    spec = SamplingSpec(fraction=0.2, key=KEY)
    row = _estimate(engine, AggSpec("count", None), spec).collect()[0]
    assert row["count_star"] == pytest.approx(total, rel=0.1)
    assert row["ci_lower"] <= total <= row["ci_upper"]


def test_quantile_ci_covers_true_median(engine, duck):
    from approximatequeryengine_spark.plans.quantiles import approx_quantile_ci

    truth = duck.execute(
        "SELECT quantile_cont(l_extendedprice, 0.5) FROM lineitem"
    ).fetchone()[0]
    row = approx_quantile_ci(
        engine.catalog.table("lineitem"),
        "l_extendedprice",
        0.5,
        SamplingSpec(fraction=0.2, key=KEY),
    ).collect()[0]
    assert row["ci_lower"] <= row["l_extendedprice_q"] <= row["ci_upper"]
    assert row["ci_lower"] <= truth <= row["ci_upper"], (
        f"median CI [{row['ci_lower']}, {row['ci_upper']}] misses {truth}"
    )
    with pytest.raises(ValueError, match="q must be"):
        approx_quantile_ci(
            engine.catalog.table("lineitem"), "l_extendedprice", 1.5,
            SamplingSpec(fraction=0.2, key=KEY),
        )


def test_head_sample_is_flagged_biased(engine):
    """R30 head sample: membership = key prefix, __p = realized
    fraction; the helper exists for parity, and its docstring marks the
    bias explicitly."""
    from approximatequeryengine_spark.plans.sampling import head_sample

    df = engine.catalog.table("orders")
    sampled = head_sample(df, "o_orderkey", 0.1)
    n, total = sampled.count(), df.count()
    p = sampled.select("__p").first()["__p"]
    assert p == pytest.approx(n / total)
    assert 0 < n < total
    assert "biased" in head_sample.__doc__


def test_stratified_ht_weights(engine, duck):
    """Unequal per-stratum fractions must still give an unbiased-scaled
    SUM via per-row 1/p weights."""
    spec = SamplingSpec(
        design="stratified",
        fraction=0.1,
        key=KEY,
        stratum_col="l_returnflag",
        strata_fractions={"N": 0.4, "A": 0.05},
    )
    exact = duck.execute("SELECT SUM(l_extendedprice) FROM lineitem").fetchone()[0]
    row = _estimate(engine, AggSpec("sum", "l_extendedprice"), spec).collect()[0]
    assert row["sum_l_extendedprice"] == pytest.approx(exact, rel=0.15)


def test_approx_join_ci_covers_exact(spark):
    """Sample-then-join HT estimation: the star join is key-preserving
    (no fan-out), so per-row inclusion probabilities survive the join
    and the 95% CI should cover the exact per-nation revenue for the
    overwhelming majority of groups (deterministic sample → stable)."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    est = {
        r["n_name"]: (r["revenue_est"], r["ci_lower"], r["ci_upper"])
        for r in QUERIES["approx_join_revenue_by_nation"](spark, sf).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    od = spark.read.parquet(f"{sf}/orders.parquet")
    cu = spark.read.parquet(f"{sf}/customer.parquet")
    na = spark.read.parquet(f"{sf}/nation.parquet")
    from pyspark.sql import functions as F

    exact = {
        r["n_name"]: r["rev"]
        for r in li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.expr("l_extendedprice * (1 - l_discount)")).alias("rev"))
        .collect()
    }
    assert set(est) == set(exact)
    covered = sum(
        1 for n, (_, lo, hi) in est.items() if lo <= exact[n] <= hi
    )
    assert covered >= 0.85 * len(est), f"{covered}/{len(est)} groups covered"


def test_blb_sum_width_tracks_full_bootstrap(engine, duck):
    """BLB: (a) the subsample-averaged estimate is unbiased for the
    exact sum within the expected subsample-selection error; (b) the
    margin — BLB's estimate of the FULL-SIZE resampling sd
    √(N·E[x²]) under Poisson(1/f) weights — lands within 2× of the
    analytically computed value; (c) only ~s·f of the corpus was
    scanned (the whole point of BLB at scale)."""
    import math

    from approximatequeryengine_spark.plans.bootstrap import blb_sum_ci

    df = engine.catalog.table("lineitem")
    row = blb_sum_ci(df, "l_extendedprice", KEY).collect()[0]
    exact, sum_sq, n = duck.execute(
        "SELECT SUM(l_extendedprice), SUM(l_extendedprice * l_extendedprice), "
        "count(*) FROM lineitem"
    ).fetchone()
    # subsample-selection rel. sd ≈ √((1-f)/(s·f·n)) · (√E[x²]/E[x])
    cv = math.sqrt(sum_sq / n) / (exact / n)
    sel_sd = exact * cv * math.sqrt(0.8 / (0.2 * n))
    assert abs(row["estimate"] - exact) < 5 * sel_sd
    margin = (row["ci_upper"] - row["ci_lower"]) / 2.0
    full_resample_sd = 1.959963984540054 * math.sqrt(sum_sq)
    assert 0.5 * full_resample_sd < margin < 2.0 * full_resample_sd
    assert row["n_rows_scanned"] < 0.35 * df.count()  # s·f = 20% nominal


def test_countmin_overestimates_within_bound(engine, duck):
    """Count-Min guarantees exact ≤ est ≤ exact + ε·total with
    ε = e/width (per row; min over depth rows tightens it) — assert the
    one-sided bias and the ε bound with slack."""
    import math

    from approximatequeryengine_spark.plans.countmin import (
        CM_WIDTH,
        countmin_topk_estimates,
    )

    docs = engine.catalog.table("documents")
    rows = countmin_topk_estimates(None, docs).collect()
    assert len(rows) == 20
    total = duck.execute(
        "SELECT count(*) FROM (SELECT unnest(string_split(lower(text), ' ')) AS t"
        " FROM documents) x WHERE t <> ''"
    ).fetchone()[0]
    eps = math.e / CM_WIDTH
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"]
        assert r["cms_est"] <= r["exact_cnt"] + 3 * eps * total


def test_countmin_arrow_matches_expression(spark, engine):
    """The NumPy partial-counter kernel must reproduce the sketch of the
    exploded ``_with_idx`` expression chain (the probes' spelling) bit
    for bit — same avalanche mix, same floor-index arithmetic — and the
    join-size estimate its DuckDB twin, on lineitem and on an edge frame
    with negative (abs path), NULL and disjoint keys."""
    from pyspark.sql import functions as F

    from approximatequeryengine_spark.functions.text import str_hash32_col
    from approximatequeryengine_spark.plans.countmin import (
        CM_DEPTH,
        CM_WIDTH,
        _tokens,
        _with_idx,
        cms_join_size,
        cms_join_size_sql,
        countmin_sketch,
    )
    from tests.conftest import assert_df_matches_sql, duck_of

    docs = engine.catalog.table("documents")
    got = sorted(map(tuple, countmin_sketch(docs).collect()))
    fan = _tokens(docs).select(
        str_hash32_col(F.col("token")).alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("row"),
    )
    ref = (
        _with_idx(fan, CM_WIDTH)
        .groupBy("row", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert got == sorted(map(tuple, ref.collect())) and got

    def twin(l_sql, r_sql):
        return cms_join_size_sql(l_sql, r_sql, "k")

    li = engine.catalog.table("lineitem").select(F.col("l_partkey").alias("k"))
    assert_df_matches_sql(
        cms_join_size(li, li, "k"), duck_of(li=li), twin("SELECT k FROM li", "SELECT k FROM li")
    )
    left = spark.createDataFrame(
        [(-3,), (3,), (5,), (None,), (-5,), (7,), (7,), (11,)], "k long"
    )
    right = spark.createDataFrame([(3,), (-7,), (7,), (None,), (13,)], "k long")
    con = duck_of(lt=left, rt=right)
    for a, b, sql in (
        (left, right, twin("SELECT k FROM lt", "SELECT k FROM rt")),
        (left, left, twin("SELECT k FROM lt", "SELECT k FROM lt")),
    ):
        got = cms_join_size(a, b, "k")
        assert got.collect()[0]["exact_join_size"] > 0
        assert_df_matches_sql(got, con, sql)


def test_hist_quantiles_within_bin_width(engine, duck):
    """Grid-histogram quantile error is bounded by one bin width
    (max−min)/bins; estimates must land within that of the true
    interpolated quantiles, and degenerate inputs must not crash."""
    from approximatequeryengine_spark.plans.histogram import HIST_BINS, hist_quantiles

    df = engine.catalog.table("lineitem")
    rows = {r["q"]: r["estimate"] for r in hist_quantiles(df, "l_extendedprice").collect()}
    mn, mx = duck.execute(
        "SELECT min(l_extendedprice), max(l_extendedprice) FROM lineitem"
    ).fetchone()
    bin_w = (mx - mn) / HIST_BINS
    for q in (0.5, 0.95, 0.99):
        truth = duck.execute(
            f"SELECT quantile_cont(l_extendedprice, {q}) FROM lineitem"
        ).fetchone()[0]
        assert abs(rows[q] - truth) <= bin_w, (q, rows[q], truth, bin_w)
    # constant column → all quantiles equal the constant
    const = df.selectExpr("CAST(7.5 AS DOUBLE) AS c")
    crows = {r["q"]: r["estimate"] for r in hist_quantiles(const, "c").collect()}
    assert set(crows.values()) == {7.5}
    # empty input → NULL estimates, 0 rows
    empty = df.filter("1=0")
    erows = hist_quantiles(empty, "l_extendedprice").collect()
    assert all(r["estimate"] is None and r["n_rows"] == 0 for r in erows)
