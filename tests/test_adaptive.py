"""Adaptive CLT executor: termination, realized error, status fields."""

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
    from approximatequeryengine_spark.plans.adaptive import adaptive_grouped_aggregate
    from approximatequeryengine_spark.workload import (
        _adaptive_grouped_oracle,
        _round_cols,
    )
    from tests.conftest import assert_df_matches_sql

    df = engine_med.catalog.table("lineitem")
    rdf, fraction, iterations = adaptive_grouped_aggregate(
        df,
        AggSpec("sum", "l_extendedprice"),
        ["l_returnflag"],
        SamplingSpec(fraction=0.0, key=KEY),
        error_pct=2.0,
    )
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
    assert_df_matches_sql(out, duck_med, _adaptive_grouped_oracle())


def test_adaptive_grouped_tight_budget_escalates(engine):
    """sf0.001 with a 0.5% budget: the loop must escalate past the
    first rung (or run out of ladder at fraction=1.0)."""
    from approximatequeryengine_spark.plans.adaptive import adaptive_grouped_aggregate

    df = engine.catalog.table("lineitem")
    rdf, fraction, iterations = adaptive_grouped_aggregate(
        df,
        AggSpec("sum", "l_extendedprice"),
        ["l_returnflag"],
        SamplingSpec(fraction=0.0, key=KEY),
        error_pct=0.5,
    )
    assert iterations > 1
    assert fraction > error_ladder(0.5)
    assert rdf.count() == 3


def test_adaptive_grouped_result_is_not_rerun(engine, count_jobs):
    """The loop already collected the terminal rung; collecting the
    returned frame must not run that rung again."""
    from approximatequeryengine_spark.plans.adaptive import adaptive_grouped_aggregate

    (rdf, _, iterations), loop_jobs = count_jobs(
        lambda: adaptive_grouped_aggregate(
            engine.catalog.table("lineitem"),
            AggSpec("sum", "l_extendedprice"),
            ["l_returnflag"],
            SamplingSpec(fraction=0.0, key=KEY),
            error_pct=2.0,
        )
    )
    rows, collect_jobs = count_jobs(rdf.collect)
    assert loop_jobs >= iterations
    assert collect_jobs == 0
    assert len(rows) == 3 and all(r["n_samples"] > 0 for r in rows)


def test_adaptive_grouped_masked_parity_systematic(engine_med):
    """Round-5 fix: systematic/block/stratified grouped adaptives run
    their missed-group guard as a rung-job MASK (no standalone
    distinct-count scan), exactly like uniform_hash. The masked rung's
    estimates must equal the filtered-path estimates at the terminal
    fraction bit-for-bit (NULL-skipping aggregates see the same rows)."""
    from dataclasses import replace

    from approximatequeryengine_spark.plans.adaptive import adaptive_grouped_aggregate
    from approximatequeryengine_spark.plans.estimators import approx_aggregate
    from approximatequeryengine_spark.plans.sampling import SamplingSpec, apply_sampling

    df = engine_med.catalog.table("lineitem")
    spec = SamplingSpec(design="systematic", fraction=0.0, key=KEY)
    rdf, fraction, _ = adaptive_grouped_aggregate(
        df,
        AggSpec("sum", "l_extendedprice"),
        ["l_returnflag"],
        spec,
        error_pct=5.0,
    )
    filtered = approx_aggregate(
        apply_sampling(df, replace(spec, fraction=fraction)),
        AggSpec("sum", "l_extendedprice"),
        group_by=["l_returnflag"],
    )
    got = {r["l_returnflag"]: r.asDict() for r in rdf.collect()}
    want = {r["l_returnflag"]: r.asDict() for r in filtered.collect()}
    assert got == want


def test_adaptive_grouped_masked_parity_stratified(engine_med):
    """Same parity pin for the per-row-threshold (stratified) design."""
    from dataclasses import replace

    from approximatequeryengine_spark.plans.adaptive import adaptive_grouped_aggregate
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
    rdf, fraction, _ = adaptive_grouped_aggregate(
        df,
        AggSpec("sum", "l_extendedprice"),
        ["l_returnflag"],
        spec,
        error_pct=5.0,
    )
    filtered = approx_aggregate(
        apply_sampling(df, replace(spec, fraction=fraction)),
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
