"""Adaptive CLT executor: termination, realized error, status fields."""

import pytest

from approximatequeryengine_spark.plans.adaptive import adaptive_aggregate, error_ladder
from approximatequeryengine_spark.plans.estimators import AggSpec
from approximatequeryengine_spark.plans.sampling import SamplingSpec
from approximatequeryengine_spark.result import ApproximationStatus

KEY = "l_orderkey * 8 + l_linenumber"


def test_error_ladder():
    # enhanced_aqe_cli.py:243-250
    assert error_ladder(0.5) == 0.20
    assert error_ladder(1.0) == 0.20
    assert error_ladder(2.0) == 0.15
    assert error_ladder(5.0) == 0.10
    assert error_ladder(10.0) == 0.05


def test_adaptive_converges_within_budget(engine_med, duck_med):
    df = engine_med.catalog.table("lineitem")
    res = adaptive_aggregate(
        df,
        AggSpec("avg", "l_extendedprice"),
        SamplingSpec(fraction=0.0, key=KEY),
        error_pct=2.0,
    )
    assert res.status == ApproximationStatus.STABLE
    assert res.relative_error_pct() <= 2.0
    exact = duck_med.execute("SELECT AVG(l_extendedprice) FROM lineitem").fetchone()[0]
    # Realized error should respect the CI (which the loop enforced).
    assert abs(res.value - exact) / exact * 100 <= 3 * 2.0
    assert res.iterations >= 1
    assert res.samples_used >= 50


def test_adaptive_escalates_on_tight_budget(engine):
    # sf0.001 (~6k rows) with a very tight budget → must escalate or hit
    # fraction=1.0.
    df = engine.catalog.table("lineitem")
    res = adaptive_aggregate(
        df,
        AggSpec("sum", "l_extendedprice"),
        SamplingSpec(fraction=0.0, key=KEY),
        error_pct=0.1,
    )
    assert res.iterations > 1 or res.fraction >= 1.0
    assert res.relative_error_pct() <= 0.1 or res.fraction == 1.0


def test_validators_and_status(engine_med):
    df = engine_med.catalog.table("lineitem")
    res = adaptive_aggregate(
        df,
        AggSpec("sum", "l_extendedprice"),
        SamplingSpec(fraction=0.0, key=KEY),
        error_pct=5.0,
        validators=3,
    )
    assert res.status in (ApproximationStatus.STABLE, ApproximationStatus.DRIFTING)
    assert 0.0 <= res.confidence_level <= 1.0


def test_insufficient_data(engine):
    df = engine.catalog.table("lineitem").filter("l_quantity < 0")  # empty
    res = adaptive_aggregate(
        df,
        AggSpec("avg", "l_extendedprice"),
        SamplingSpec(fraction=0.5, key=KEY),
        error_pct=5.0,
        max_iterations=2,
    )
    assert res.status == ApproximationStatus.INSUFFICIENT_DATA


def test_adaptive_grouped_worst_group_budget(engine_med, duck_med):
    """Grouped escalation: every group's realized relative margin meets
    the budget at the terminal rung, and the terminal frame matches the
    per-group ladder-re-derivation oracle exactly."""
    from approximatequeryengine_spark.workload import _adaptive_oracle, _round_cols
    from tests.conftest import assert_df_matches_sql

    df = engine_med.catalog.table("lineitem")
    res = adaptive_aggregate(
        df,
        AggSpec("sum", "l_extendedprice"),
        SamplingSpec(fraction=0.0, key=KEY),
        group_by=["l_returnflag"],
        error_pct=2.0,
    )
    rdf, fraction, iterations = res.df, res.fraction, res.iterations
    rows = rdf.collect()
    assert len(rows) == 3  # A/N/R
    if fraction < 1.0:
        # Converged before the full-scan rung: every group within budget.
        for r in rows:
            margin = (r["ci_upper"] - r["ci_lower"]) / 2.0
            assert 100.0 * margin / abs(r["sum_l_extendedprice"]) <= 2.0
            assert r["n_samples"] >= 50
    assert iterations >= 1
    out = _round_cols(
        rdf.orderBy("l_returnflag"),
        {"sum_l_extendedprice": 2, "ci_lower": 2, "ci_upper": 2},
    )
    assert_df_matches_sql(out, duck_med, _adaptive_oracle(group_by="l_returnflag"))


def test_adaptive_grouped_tight_budget_escalates(engine):
    """sf0.001 with a 0.5% budget: the loop must escalate past the
    first rung (or run out of ladder at fraction=1.0)."""
    df = engine.catalog.table("lineitem")
    res = adaptive_aggregate(
        df,
        AggSpec("sum", "l_extendedprice"),
        SamplingSpec(fraction=0.0, key=KEY),
        group_by=["l_returnflag"],
        error_pct=0.5,
    )
    assert res.iterations > 1
    assert res.fraction > error_ladder(0.5)
    assert res.df.count() == 3


def test_adaptive_grouped_result_is_not_rerun(engine, count_jobs):
    """The loop already collected the terminal rung; collecting the
    returned frame must not run that rung again."""
    res, loop_jobs = count_jobs(
        lambda: adaptive_aggregate(
            engine.catalog.table("lineitem"),
            AggSpec("sum", "l_extendedprice"),
            SamplingSpec(fraction=0.0, key=KEY),
            group_by=["l_returnflag"],
            error_pct=2.0,
        )
    )
    rows, collect_jobs = count_jobs(res.df.collect)
    assert loop_jobs >= res.iterations
    assert collect_jobs == 0
    assert len(rows) == 3 and all(r["n_samples"] > 0 for r in rows)


def test_adaptive_grouped_masked_parity_systematic(engine_med):
    """Round-5 fix: systematic/block/stratified grouped adaptives run
    their missed-group guard as a rung-job MASK (no standalone
    distinct-count scan), exactly like uniform_hash. The masked rung's
    estimates must equal the filtered-path estimates at the terminal
    fraction bit-for-bit (NULL-skipping aggregates see the same rows)."""
    from dataclasses import replace

    from approximatequeryengine_spark.plans.estimators import approx_aggregate
    from approximatequeryengine_spark.plans.sampling import SamplingSpec, apply_sampling

    df = engine_med.catalog.table("lineitem")
    spec = SamplingSpec(design="systematic", fraction=0.0, key=KEY)
    res = adaptive_aggregate(
        df, AggSpec("sum", "l_extendedprice"), spec, group_by=["l_returnflag"], error_pct=5.0
    )
    rdf = res.df
    filtered = approx_aggregate(
        apply_sampling(df, replace(spec, fraction=res.fraction)),
        AggSpec("sum", "l_extendedprice"),
        group_by=["l_returnflag"],
    )
    got = {r["l_returnflag"]: r.asDict() for r in rdf.collect()}
    want = {r["l_returnflag"]: r.asDict() for r in filtered.collect()}
    assert got == want


def test_adaptive_grouped_masked_parity_stratified(engine_med):
    """Same parity pin for the per-row-threshold (stratified) design."""
    from dataclasses import replace

    from approximatequeryengine_spark.plans.estimators import approx_aggregate
    from approximatequeryengine_spark.plans.sampling import SamplingSpec, apply_sampling

    df = engine_med.catalog.table("lineitem")
    spec = SamplingSpec(
        design="stratified",
        fraction=0.0,
        key=KEY,
        stratum_col="l_returnflag",
        strata_fractions={"A": 0.3, "N": 0.1, "R": 0.2},
    )
    res = adaptive_aggregate(
        df, AggSpec("sum", "l_extendedprice"), spec, group_by=["l_returnflag"], error_pct=5.0
    )
    rdf = res.df
    filtered = approx_aggregate(
        apply_sampling(df, replace(spec, fraction=res.fraction)),
        AggSpec("sum", "l_extendedprice"),
        group_by=["l_returnflag"],
    )
    got = {r["l_returnflag"]: r.asDict() for r in rdf.collect()}
    want = {r["l_returnflag"]: r.asDict() for r in filtered.collect()}
    assert got == want


def test_grouped_adaptive_minmax_escalates_to_exact(spark, engine):
    """Review regression: grouped adaptive MIN/MAX crashed on the NULL
    CI bounds sampled extrema carry; they must instead escalate to the
    full-scan rung, where the interval is exact and zero-width."""
    r = engine.run(
        "SELECT APPROX(MIN(l_extendedprice)) FROM lineitem GROUP BY l_returnflag",
        method="clt",
        error_pct=2.0,
    )
    rows = r.df.collect()
    assert len(rows) == 3 and r.fraction == 1.0
    for row in rows:
        assert row["ci_lower"] == row["min_l_extendedprice"] == row["ci_upper"]


def test_global_adaptive_minmax_escalates_to_exact(engine):
    """The global twin of the grouped MIN/MAX pin: a sampled extremum
    carries NULL CI bounds, so the loop escalates to the full-scan rung,
    where the interval is exact and zero-width."""
    r = engine.run(
        "SELECT APPROX(MAX(l_extendedprice)) FROM lineitem",
        method="clt",
        error_pct=5.0,
    )
    (row,) = r.df.collect()
    assert r.fraction == 1.0
    assert row["ci_lower"] == row["max_l_extendedprice"] == row["ci_upper"]
    assert r.value == r.ci_lower == r.ci_upper == row["max_l_extendedprice"]


def test_adaptive_result_is_not_rerun(engine, count_jobs):
    """The global twin of the grouped pin: collecting the returned frame
    runs no job, because the loop already collected the terminal rung."""
    res, loop_jobs = count_jobs(
        lambda: adaptive_aggregate(
            engine.catalog.table("lineitem"),
            AggSpec("sum", "l_extendedprice"),
            SamplingSpec(fraction=0.0, key=KEY),
            error_pct=2.0,
        )
    )
    rows, collect_jobs = count_jobs(res.df.collect)
    assert loop_jobs >= res.iterations
    assert collect_jobs == 0
    assert len(rows) == 1 and rows[0]["n_samples"] == res.samples_used > 0


def test_one_group_gives_the_global_answer(engine):
    """A grouped budget over a frame with exactly one group stops at the
    same rung as the global budget over that frame, with the same
    estimate, CI and sample count."""
    df = engine.catalog.table("lineitem").where("l_returnflag = 'R'")
    agg = AggSpec("sum", "l_extendedprice")
    spec = SamplingSpec(fraction=0.0, key=KEY)
    glob = adaptive_aggregate(df, agg, spec, error_pct=2.0)
    grp = adaptive_aggregate(df, agg, spec, group_by=["l_returnflag"], error_pct=2.0)
    (g_row,) = glob.df.collect()
    (k_row,) = grp.df.collect()
    assert (grp.fraction, grp.iterations) == (glob.fraction, glob.iterations)
    assert k_row["l_returnflag"] == "R"
    assert {c: k_row[c] for c in glob.df.columns} == g_row.asDict()
    assert glob.value == g_row["sum_l_extendedprice"]
    assert glob.samples_used == g_row["n_samples"]


@pytest.mark.parametrize("group_by", [None, "l_returnflag"], ids=["global", "grouped"])
@pytest.mark.parametrize("agg", ["sum", "avg", "count"])
def test_one_ladder_oracle_both_shapes(engine, duck, agg, group_by):
    """``workload._adaptive_oracle`` re-derives the loop's terminal rung
    for every aggregate it supports, global and grouped alike."""
    from approximatequeryengine_spark.workload import _adaptive_oracle, _round_cols
    from tests.conftest import assert_df_matches_sql

    spec = AggSpec(agg, None if agg == "count" else "l_extendedprice", alias="est")
    res = adaptive_aggregate(
        engine.catalog.table("lineitem"),
        spec,
        SamplingSpec(fraction=0.0, key=KEY),
        group_by=[group_by] if group_by else None,
        error_pct=2.0,
    )
    out = _round_cols(res.df, {"est": 2, "ci_lower": 2, "ci_upper": 2})
    oracle = _adaptive_oracle(
        "est", x_expr="*" if agg == "count" else "l_extendedprice", agg=agg,
        group_by=group_by,
    )
    assert_df_matches_sql(out, duck, oracle)


# Each error-budget route's result fields on the sf0.001 fixtures:
# (method, status, confidence_level, fraction, iterations, samples_used).
# A global answer caps the confidence by its sample size; a grouped one
# reports the requested level.
_SUM = "SELECT APPROX(SUM(l_extendedprice)) FROM lineitem"
_WITHIN = "SELECT APPROX(SUM(l_extendedprice)) AS t FROM lineitem"
BUDGET_ROUTES = {
    "error_pct": (_SUM, {"error_pct": 5}, ("clt", "STABLE", 0.95, 0.4, 3, 2362)),
    "error_pct_99": (
        _SUM, {"error_pct": 5, "confidence": 0.99}, ("clt", "STABLE", 0.95, 0.4, 3, 2362)
    ),
    "error_pct_grouped": (
        _SUM + " GROUP BY l_returnflag",
        {"error_pct": 5},
        ("clt", "STABLE", 0.95, 0.8, 4, 0),
    ),
    "error_pct_grouped_99": (
        _SUM + " GROUP BY l_returnflag",
        {"error_pct": 5, "confidence": 0.99},
        ("clt", "STABLE", 0.99, 0.8, 4, 0),
    ),
    "within": (
        _WITHIN + " WITHIN 2 PERCENT", {}, ("adaptive_sql", "STABLE", 0.95, 1.0, 4, 6000)
    ),
    "within_grouped": (
        "SELECT l_returnflag, APPROX(SUM(l_extendedprice)) AS t FROM lineitem "
        "GROUP BY l_returnflag WITHIN 2 PERCENT",
        {},
        ("adaptive_sql", "STABLE", 0.95, 1.0, 4, 0),
    ),
}


@pytest.mark.parametrize("shape", sorted(BUDGET_ROUTES))
def test_budget_route_result_fields(engine, shape):
    sql, kw, want = BUDGET_ROUTES[shape]
    r = engine.run(sql, **kw)
    got = (r.method, r.status.name, r.confidence_level, r.fraction, r.iterations,
           r.samples_used)
    assert got == want
