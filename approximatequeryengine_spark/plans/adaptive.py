"""Adaptive / CLT-stopped execution (reference R8-R10, V1-V7).

The reference spawns fast/slow sampling threads that stop when
``z·√(var/n)/|mean|·100 ≤ max_error%`` (``custom_bplus_db.cpp:953-961``)
and cross-validates the fast estimate against repeated slow 2% samples
(``scheduler.cpp:291-397``). Spark can't cheaply stop mid-job, so the
idiomatic translation (SURVEY.md §7 phase 4) is a driver loop that
escalates the sample *fraction* geometrically between jobs:

    fraction ← error-ladder(e)            (enhanced_aqe_cli.py:243-250)
    repeat:  one moments job → margin;  stop if rel. margin ≤ e
             else fraction ← min(1, 2·fraction)

Because the default ``uniform_hash`` design is *nested* in the fraction
(h(k) < f·2³²), every escalation step's sample is a superset of the
last — total rows ever scanned ≤ 2× the final sample, the same bounded
overshoot the reference gets from incremental growth. Each iteration is
one Spark job whose moments are masked by a cheap codegen'd sample
predicate; nothing is collected but the (few-row) moments result. A
global aggregate is the grouped one over no keys: one loop, one stop
rule.

Validation (V1-V5): k independent small samples via different hash
salts; confidence = max(0, 1 − cv) over their estimates, and the
fast-vs-validators drift check classifies STABLE / DRIFTING.
"""

from __future__ import annotations

import time
from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.estimators import Z_95, AggSpec, approx_aggregate
from approximatequeryengine_spark.plans.sampling import (
    P_COL,
    SamplingSpec,
    apply_sampling,
    sample_predicate_sql,
)
from approximatequeryengine_spark.result import (
    ApproximationStatus,
    ApproxResult,
    heuristic_confidence,
)
from approximatequeryengine_spark.session import local_frame


def error_ladder(error_pct: float) -> float:
    """Initial sampling fraction from the error budget
    (``enhanced_aqe_cli.py:243-250``)."""
    if error_pct <= 1.0:
        return 0.20
    if error_pct <= 2.0:
        return 0.15
    if error_pct <= 5.0:
        return 0.10
    return 0.05


def masked_rung(
    df: DataFrame, agg: AggSpec, group_by: list[str], spec: SamplingSpec, z: float = Z_95
) -> DataFrame:
    """One rung over the UNSAMPLED frame, with the sample as an
    aggregate mask: every group in ``df`` gets a row, the ones the
    sample missed with ``n_samples = 0``. ``spec`` must be a
    deterministic design."""
    mask, p = sample_predicate_sql(spec)
    full = df.withColumn(P_COL, F.expr(p))
    return approx_aggregate(full, agg, group_by=group_by, z=z, mask=mask)


def _rel_pct(row, name: str) -> float:
    """A rung row's relative CI half-width in percent; ``inf`` when the
    estimate is NULL or zero, or when a bound is NULL: a sampled extremum
    (MIN/MAX) carries no CLT CI, so the loop escalates to the full-scan
    rung, where the estimator emits the exact zero-width interval."""
    est, lo, hi = row[name], row["ci_lower"], row["ci_upper"]
    if not est or lo is None or hi is None:
        return float("inf")
    return 100.0 * (hi - lo) / 2.0 / abs(est)


def adaptive_grouped_aggregate(
    df: DataFrame,
    agg: AggSpec,
    group_by: list[str] | None,
    spec: SamplingSpec,
    error_pct: float = 2.0,
    max_iterations: int = 8,
    min_samples: int = 50,
    z: float = Z_95,
) -> tuple[DataFrame, float, int]:
    """The escalation loop (R8-R10): double the sampling fraction until
    every output row's relative CI half-width meets ``error_pct``. With
    no ``group_by`` keys that is the one global row; with keys it is the
    *worst group's* (beyond the reference, which runs grouped queries at
    a FIXED fraction, ``enhanced_aqe_cli.py:243-250``).

    One moments job per rung; the driver sees only ≤|groups| rows per
    iteration. Samples are nested in the fraction (``uniform_hash``:
    h(k) < f·2³²), so total rows scanned ≤ 2× the final rung. A row
    must have ``n ≥ min_samples`` and a nonzero estimate with non-NULL
    CI bounds to count as converged. The terminal rung is a pure
    function of the data — the DuckDB oracle re-derives it by evaluating
    every rung's moments and applying the identical stop rule
    (``workload._adaptive_oracle``).

    Returns ``(result_df, final_fraction, iterations)`` where
    ``result_df`` is the terminal rung's estimate + CI rows, as a local
    frame (collecting it runs no job).
    """
    keys = list(group_by or [])
    fraction = spec.fraction if spec.fraction else error_ladder(error_pct)
    fraction = max(min(fraction, 1.0), 1e-6)
    # The stop rule must see groups the sample MISSED, not just the ones
    # present at the current rung — a rare group whose keys all hash
    # outside the threshold would otherwise be silently dropped from a
    # "converged" result. For every DETERMINISTIC design the guard rides
    # the rung job itself: the moments run over the UNSAMPLED frame with
    # the sample predicate as an aggregate MASK (masked_rung), so every
    # group in the data appears — missed ones with n_samples = 0, which
    # fails the min_samples check. Identical estimates (NULL-skipping
    # aggregates), one scan per rung, and no standalone distinct-count
    # job. Only ``bernoulli`` — whose membership lives in Spark's
    # sampler state, not a row expression — filters, and a grouped
    # bernoulli loop keeps the up-front column-pruned distinct count.
    masked = spec.design != "bernoulli"
    n_groups = (
        df.select(*keys).distinct().count() if keys and not masked else None
    )
    iterations = 0
    while True:
        iterations += 1
        cur = replace(spec, fraction=fraction)
        if masked:
            rdf = masked_rung(df, agg, keys, cur, z)
        else:
            rdf = approx_aggregate(apply_sampling(df, cur), agg, group_by=keys, z=z)
        rows = rdf.collect()  # ≤ |groups| rows — bounded driver sync
        converged = (
            bool(rows)
            and (n_groups is None or len(rows) == n_groups)
            and all(
                r["n_samples"] >= min_samples and _rel_pct(r, agg.name()) <= error_pct
                for r in rows
            )
        )
        if converged or fraction >= 1.0 or iterations >= max_iterations:
            break
        fraction = min(1.0, fraction * 2.0)
    if keys:
        # Groups the terminal sample missed are stop-rule signal, not
        # result rows (output parity with the filtered path and the
        # DuckDB oracle). A global aggregate keeps its one row, as SQL
        # does over an empty input.
        rows = [r for r in rows if r["n_samples"] > 0]
    # The terminal rung is already collected: hand back its rows as a
    # local frame rather than a plan the caller's collect would re-run.
    return local_frame(df.sparkSession, rows, rdf.schema), fraction, iterations


def adaptive_aggregate(
    df: DataFrame,
    agg: AggSpec,
    spec: SamplingSpec,
    group_by: list[str] | None = None,
    error_pct: float = 2.0,
    confidence: float = 0.95,
    max_iterations: int = 8,
    min_samples: int = 50,
    validators: int = 0,
    validator_fraction: float = 0.02,
    z: float = Z_95,
) -> ApproxResult:
    """Escalate ``spec.fraction`` until the realized CI half-width is
    within ``error_pct`` percent of the estimate — of the one global row,
    or with ``group_by`` of every group (:func:`adaptive_grouped_aggregate`).
    A grouped answer reports the requested ``confidence``; a global one
    fills the scalar fields from its row, caps the confidence by the
    sample size and runs the ``validators``.
    """
    t0 = time.time()
    rdf, fraction, iterations = adaptive_grouped_aggregate(
        df, agg, group_by, spec, error_pct, max_iterations, min_samples, z
    )
    res = ApproxResult(
        df=rdf,
        confidence_level=confidence,
        fraction=fraction,
        method="adaptive_clt",
        iterations=iterations,
    )
    if group_by:
        res.computation_time = time.time() - t0
        return res

    row = rdf.collect()[0]  # a local frame: no job
    est, n = row[agg.name()], int(row["n_samples"])
    margin = float("nan")
    if row["ci_lower"] is not None and row["ci_upper"] is not None:
        margin = (row["ci_upper"] - row["ci_lower"]) / 2.0
        res.ci_lower, res.ci_upper = float(est - margin), float(est + margin)
    res.value = float(est) if est is not None else None
    res.error_margin = float(margin)
    res.samples_used = n
    res.confidence_level = min(confidence, heuristic_confidence(n))
    if n < min_samples:
        res.status = ApproximationStatus.INSUFFICIENT_DATA
    elif validators and est:
        # Cross-validation: independent small samples through different
        # hash functions (salts), the Spark analogue of the slow-pointer
        # validator's repeated 2% rowid-offset samples (V2).
        vals = []
        for i in range(validators):
            vspec = replace(spec, fraction=validator_fraction, salt=spec.salt + 17 + i)
            vrow = approx_aggregate(apply_sampling(df, vspec), agg, z=z).collect()[0]
            if vrow[agg.name()] is not None:
                vals.append(float(vrow[agg.name()]))
        if vals:
            vmean = sum(vals) / len(vals)
            if len(vals) > 1:
                vvar = sum((v - vmean) ** 2 for v in vals) / (len(vals) - 1)
                cv = (vvar**0.5) / abs(vmean) if vmean else float("inf")
                res.confidence_level = max(0.0, min(1.0, 1.0 - cv))  # V4
            drift = abs(est - vmean) / abs(est) if est else float("inf")
            if drift > error_pct / 100.0:  # V3
                res.status = ApproximationStatus.DRIFTING
    res.computation_time = time.time() - t0
    return res
