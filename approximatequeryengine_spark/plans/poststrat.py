"""Post-stratified SUM estimation (model-assisted survey sampling).

Stratified sampling (``SamplingSpec(design='stratified')``) must choose
per-stratum fractions BEFORE the scan. Post-stratification gets most of
the same variance reduction from a plain uniform sample AFTER the fact:
take a uniform hash sample, then re-weight each sampled row by its
stratum's true population share,

    T̂ = Σ_g  N_g · ȳ_g        (ȳ_g = sample mean inside stratum g)

with the standard conditional variance (Cochran 1977, §5A.9; fpc kept)

    V̂ = Σ_g  N_g · (N_g − n_g) · s²_g / n_g .

The exact N_g come from one grouped COUNT over the stratum column alone
— a column-pruned scan whose bytes are a tiny fraction of the measure
scan, and at 100 TB typically free because stratum counts live in
catalog/partition statistics anyway. The payoff over the plain HT
estimator: between-stratum variance is removed, and the estimator
self-corrects a sample that landed unevenly across strata (the
"unlucky draw" a fixed 1/p re-weighting cannot see).

Cross-engine determinism: per-stratum moments ride the integer cents
grid (floor(x·100 + 0.5)) in DECIMAL(38,0)/HUGEINT so every numerator
is exact in both engines; each quotient is a single IEEE double op; and
the across-strata folds of both T̂ and V̂ are ORDER-PINNED by a
cumulative window over the stratum value (double addition is not
associative — an unordered 3-term sum can flip a round(·, 3) display
digit between engines). The final cumulate is read with max_by, which
Spark ≥3.3 and DuckDB both provide.

Empty-stratum semantics: a stratum with no sampled rows contributes 0
to both T̂ and V̂ and increments ``missing_strata`` in the result — the
defect is surfaced, not papered over (n_g = 0 has no unbiased local
fix; the caller escalates the fraction or collapses strata). A stratum
with n_g = 1 contributes its point estimate with zero variance term,
counted in ``thin_strata``.

GROUP BY: a grouped query runs the same estimator within each output
group — exact counts per (group, stratum) cell, folds order-pinned
within each group — and every group present in the POPULATION appears
(a group the sample missed reads estimate 0 with all its strata
counted missing). A global query is the call with no ``group_by``.

Reference anchor: the reference has no post-stratification; this
extends its R15 stratified design (custom_bplus_db.cpp:1239-1324) with
the estimator-side twin the survey literature pairs it with.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.estimators import Z_95, cents_col, cents_sql
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    sampling_where_sql,
)

_DEC = "decimal(38,0)"


def poststrat_sum_ci(
    df: DataFrame,
    column: str,
    stratum_col: str,
    spec: SamplingSpec,
    z: float = Z_95,
    round_to: int = 3,
    group_by: str | None = None,
) -> DataFrame:
    """(estimate, ci_lower, ci_upper, n_samples, n_strata,
    missing_strata, thin_strata) — post-stratified SUM over a uniform
    sample, exact stratum counts, order-pinned folds; one row, or one
    row per ``group_by`` value led by that column.

    Scale shape: two scans (count-only + sampled moments), one shuffle
    each on (group, stratum), then |groups × strata| bounded rows
    through the window — never data-sized."""
    keys = [F.col(group_by)] if group_by else []
    # cast BEFORE the square: a long*long product wraps past ~3e9
    # cents/row; decimal(38,0)×decimal(38,0) stays exact.
    c = cents_col(F.col(column)).cast(_DEC)
    exact = df.groupBy(
        *[k.alias("q") for k in keys], F.col(stratum_col).alias("g")
    ).agg(F.count(F.lit(1)).alias("n_pop"))
    sample = (
        apply_sampling(df, spec)
        .groupBy(*[k.alias("q2") for k in keys], F.col(stratum_col).alias("g2"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(c).alias("sc"),
            F.sum(c * c).alias("sc2"),
        )
    )
    return poststrat_from_moments(exact, sample, z=z, round_to=round_to, group_by=group_by)


def poststrat_from_moments(
    exact: DataFrame,
    sample: DataFrame,
    z: float = Z_95,
    round_to: int = 3,
    group_by: str | None = None,
) -> DataFrame:
    """The estimator's finalization, factored so PRE-AGGREGATED moments
    can feed it — the streaming twin maintains per-stratum (n, Σc, Σc²)
    running state and finalizes here once the stream drains. ``exact``
    is (g, n_pop); ``sample`` is (g2, n, sc, sc2) with sc/sc2 on the
    integer cents grid (sc2 in DECIMAL(38,0)). With ``group_by``, both
    lead with the group as ``q`` / ``q2``."""
    qs = ["q"] if group_by else []
    # Null-safe join: a NULL group or stratum is a real group on both
    # sides (groupBy keeps it); a plain equi-join would silently drop
    # its sampled moments and misreport it as missing.
    on = reduce(
        lambda a, k: a & exact[k].eqNullSafe(sample[f"{k}2"]),
        qs,
        exact["g"].eqNullSafe(sample["g2"]),
    )
    per = (
        exact.join(sample, on, "left")
        .select(
            *qs,
            "g",
            "n_pop",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("sc"), F.lit(0).cast(_DEC)).alias("sc"),
            F.coalesce(F.col("sc2"), F.lit(0).cast(_DEC)).alias("sc2"),
        )
        .withColumn(
            "t",
            F.when(
                F.col("n") > 0,
                F.col("n_pop").cast("double")
                * F.col("sc").cast("double")
                / F.col("n"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            # s² numerator n·Σc² − (Σc)² stays exact in decimal; one
            # double division, then the N(N−n)/n scale factor.
            "v",
            F.when(
                F.col("n") > 1,
                F.col("n_pop").cast("double")
                * (F.col("n_pop") - F.col("n")).cast("double")
                * (
                    (
                        F.col("n").cast(_DEC) * F.col("sc2")
                        - F.col("sc") * F.col("sc")
                    ).cast("double")
                    / (
                        F.col("n").cast("double")
                        * (F.col("n") - F.lit(1)).cast("double")
                    )
                )
                / F.col("n"),
            ).otherwise(F.lit(0.0)),
        )
    )
    # Fold by a dense integer rank rather than the stratum value: the
    # rank is never NULL (a NULL stratum would make max_by skip its
    # row), and NULLS FIRST is pinned explicitly because Spark and
    # DuckDB default to opposite NULL placements in ASC order.
    ow = Window.partitionBy(*qs).orderBy(F.col("g").asc_nulls_first())
    w = ow.rowsBetween(Window.unboundedPreceding, 0)
    folded = per.select(
        *qs,
        "n",
        F.row_number().over(ow).alias("rid"),
        F.sum("t").over(w).alias("cum_t"),
        F.sum("v").over(w).alias("cum_v"),
    )
    agg = folded.groupBy(*qs).agg(
        F.max_by("cum_t", "rid").alias("tot_t"),
        F.max_by("cum_v", "rid").alias("tot_v"),
        F.sum("n").alias("n_samples"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0)).alias("missing_strata"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("thin_strata"),
    )
    # Empty-input degeneracy: the global aggregate over zero strata
    # returns one all-NULL row — coalesce to a zero estimate with a
    # zero-width CI so the engine's n_samples readout never sees NULL.
    tot_t = F.coalesce(F.col("tot_t"), F.lit(0.0))
    tot_v = F.coalesce(F.col("tot_v"), F.lit(0.0))
    est = tot_t / F.lit(100.0)
    margin = F.lit(z) * F.sqrt(F.greatest(tot_v, F.lit(0.0))) / F.lit(100.0)
    return agg.select(
        *[F.col(q).alias(group_by) for q in qs],
        F.round(est, round_to).alias("estimate"),
        F.round(est - margin, round_to).alias("ci_lower"),
        F.round(est + margin, round_to).alias("ci_upper"),
        F.coalesce(F.col("n_samples"), F.lit(0)).cast("long").alias("n_samples"),
        F.col("n_strata").cast("long").alias("n_strata"),
        F.coalesce(F.col("missing_strata"), F.lit(0))
        .cast("long")
        .alias("missing_strata"),
        F.coalesce(F.col("thin_strata"), F.lit(0)).cast("long").alias("thin_strata"),
    )


def poststrat_sum_ci_sql(
    table: str,
    column: str,
    stratum_col: str,
    spec: SamplingSpec,
    z: float = Z_95,
    round_to: int = 3,
    group_by: str | None = None,
) -> str:
    """DuckDB oracle: identical strata joins, integer moments, and
    order-pinned folds. DuckDB's integer sums widen to HUGEINT, which
    matches the Spark side's DECIMAL(38,0) exactly for these ranges;
    both engines cast the same exact integer to DOUBLE before the one
    rounding division."""
    where = sampling_where_sql(spec)
    c = cents_sql(column)
    qs = ["q"] if group_by else []
    q_src = "".join(f"{group_by} AS {q}, " for q in qs)
    q_cols = "".join(f"{q}, " for q in qs)
    q_part = "".join(f"PARTITION BY {q} " for q in qs)
    q_out = "".join(f"{q} AS {group_by}, " for q in qs)
    on = " AND ".join(f"e.{k} IS NOT DISTINCT FROM s.{k}" for k in (*qs, "g"))
    return f"""
WITH exact AS (
  SELECT {q_src}{stratum_col} AS g, count(*) AS n_pop
  FROM {table} GROUP BY ALL
),
sample AS (
  SELECT {q_src}{stratum_col} AS g,
         count(*) AS n,
         sum({c}) AS sc,
         sum(CAST({c} AS HUGEINT) * {c}) AS sc2
  FROM {table} WHERE {where} GROUP BY ALL
),
per AS (
  SELECT {"".join(f"e.{q}, " for q in qs)}e.g, e.n_pop,
         coalesce(s.n, 0) AS n,
         coalesce(s.sc, 0) AS sc,
         coalesce(s.sc2, 0) AS sc2
  FROM exact e LEFT JOIN sample s ON {on}
),
terms AS (
  SELECT {q_cols}g, n,
         CASE WHEN n > 0
              THEN CAST(n_pop AS DOUBLE) * CAST(sc AS DOUBLE) / n
              ELSE 0.0 END AS t,
         CASE WHEN n > 1
              THEN CAST(n_pop AS DOUBLE) * CAST(n_pop - n AS DOUBLE)
                   * (CAST(n * sc2 - sc * sc AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                   / n
              ELSE 0.0 END AS v
  FROM per
),
folded AS (
  SELECT {q_cols}n,
         row_number() OVER ({q_part}ORDER BY g NULLS FIRST) AS rid,
         sum(t) OVER ({q_part}ORDER BY g NULLS FIRST) AS cum_t,
         sum(v) OVER ({q_part}ORDER BY g NULLS FIRST) AS cum_v
  FROM terms
),
agg AS (
  SELECT {q_cols}coalesce(max_by(cum_t, rid), 0.0) AS tot_t,
         coalesce(max_by(cum_v, rid), 0.0) AS tot_v,
         CAST(coalesce(sum(n), 0) AS BIGINT) AS n_samples,
         CAST(count(*) AS BIGINT) AS n_strata,
         CAST(coalesce(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS missing_strata,
         CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS thin_strata
  FROM folded GROUP BY ALL
)
SELECT {q_out}round(tot_t / 100.0, {round_to}) AS estimate,
       round(tot_t / 100.0
             - {z!r} * sqrt(greatest(tot_v, 0.0)) / 100.0, {round_to}) AS ci_lower,
       round(tot_t / 100.0
             + {z!r} * sqrt(greatest(tot_v, 0.0)) / 100.0, {round_to}) AS ci_upper,
       n_samples, n_strata, missing_strata, thin_strata
FROM agg
"""
