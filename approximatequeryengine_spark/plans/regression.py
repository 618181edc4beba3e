"""Regression estimation of SUM(y) with a known auxiliary total.

The model-assisted sibling of post-stratification (``plans/poststrat``):
where post-stratification borrows exact per-GROUP counts, the
regression estimator borrows the exact TOTAL of a cheap correlated
auxiliary column x (Cochran 1977 ch. 7; Särndal et al. 1992 ch. 6),

    T̂_reg = N · ( ȳ + B̂ · (X̄ − x̄) ),      B̂ = S_xy / S_xx

(sample means ȳ, x̄; exact population mean X̄ = T_x/N). The sample's
draw-to-draw luck shows up in x̄ − X̄, which is observable because T_x
is known; the regression term subtracts the correlated share of that
luck from ȳ. Variance uses the residual mean square

    V̂ = N² · (1 − f) · s²_e / n,     s²_e = (S_yy − B̂·S_xy) / (n − 2)

so the CI shrinks by ≈ √(1 − r²) versus plain expansion — a strong
auxiliary cuts the interval several-fold AT THE SAME SAMPLE SIZE. The certified entry estimates
discounted revenue with the exact book total of l_extendedprice as the
auxiliary (r ≈ 0.999 by construction: revenue = price·(1−discount));
the general API takes any pair of SQL expressions.
At 100 TB the auxiliary total is a single-column scan (or free from
ingest-time statistics), which is the whole appeal: estimator quality
bought with metadata, not rows.

Cross-engine determinism: all five sample moments ride the integer
cents grid in DECIMAL(38,0)/HUGEINT (S_xy, S_xx, S_yy numerators are
n·Σxy − Σx·Σy etc. — exact integers in both engines); every subsequent
step is scalar double arithmetic on the SAME exact integers in the
SAME textual order, so results are bit-identical with no fold-order
hazard (nothing here sums a variable-length set in float).

Degenerate guards: n < 3 (s²_e needs n − 2) or S_xx = 0 (constant
auxiliary) fall back to the plain expansion estimator N·ȳ with the
SRS variance N²(1−f)s²_y/n — flagged in the ``method`` column
('regression' vs 'expansion_fallback') so the caller sees which
estimator actually answered.

GROUP BY: a grouped query fits a SEPARATE slope per group against that
group's exact auxiliary total, and each group falls back to plain
expansion on its own; every population group appears (a group the
sample missed reads a zero estimate with n_samples = 0). A global
query is the call with no ``group_by``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.estimators import Z_95, cents_col, cents_sql
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    sampling_where_sql,
)

_DEC = "decimal(38,0)"


def regaux_sum_ci(
    df: DataFrame,
    column: str,
    aux_column: str,
    spec: SamplingSpec,
    z: float = Z_95,
    round_to: int = 3,
    group_by: str | None = None,
) -> DataFrame:
    """(estimate, ci_lower, ci_upper, n_samples, slope, method) —
    regression-estimated SUM(column) using the exact total of
    ``aux_column``; one row, or one row per ``group_by`` value led by
    that column."""
    qs = ["q"] if group_by else []
    # cast BEFORE the product: long*long wraps past ~3e9 cents/row,
    # decimal(38,0) products stay exact (matching HUGEINT below).
    y = cents_col(F.expr(column)).cast(_DEC)
    x = cents_col(F.expr(aux_column)).cast(_DEC)
    pop = df.groupBy(*[F.col(group_by).alias(q) for q in qs]).agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.sum(x).alias("tx"),
    )
    smp = (
        apply_sampling(df, spec)
        .groupBy(*[F.col(group_by).alias(f"{q}2") for q in qs])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(y).alias("sy"),
            F.sum(x).alias("sx"),
            F.sum(y * x).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
        )
    )
    # A global aggregate is one row on each side; a grouped sample can
    # miss a population group, which then keeps its row with zeros.
    on = reduce(lambda a, k: a & pop[k].eqNullSafe(smp[f"{k}2"]), qs, F.lit(True))
    m = pop.join(smp, on, "left").select(
        *qs,
        "n_pop",
        "tx",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        *[
            F.coalesce(F.col(c), F.lit(0).cast(_DEC)).alias(c)
            for c in ("sy", "sx", "sxy", "sxx", "syy")
        ],
    )
    n = F.col("n").cast("double")
    npop = F.col("n_pop").cast("double")
    # Exact-integer covariance numerators (×n relative to the usual
    # S definitions — the shared factor cancels in B̂ and is divided
    # back out of the residual mean square below).
    sxy_n = (F.col("n").cast(_DEC) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    sxx_n = (F.col("n").cast(_DEC) * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    syy_n = (F.col("n").cast(_DEC) * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    ok = (F.col("n") >= 3) & (sxx_n > 0)
    b = F.when(ok, sxy_n / sxx_n).otherwise(F.lit(0.0))
    # Degenerate-input guards (n ∈ {0, 1}, empty table): every divisor
    # is gated so ANSI mode never raises; the result degrades to a
    # zero estimate with a zero-width CI and n_samples telling the
    # caller what happened.
    ybar = F.when(F.col("n") > 0, F.col("sy").cast("double") / n).otherwise(F.lit(0.0))
    xbar = F.when(F.col("n") > 0, F.col("sx").cast("double") / n).otherwise(F.lit(0.0))
    xbar_pop = F.when(
        F.col("n_pop") > 0, F.col("tx").cast("double") / npop
    ).otherwise(F.lit(0.0))
    t_hat = npop * (ybar + b * (xbar_pop - xbar))
    # Residual/variance mean squares from the same exact numerators:
    # s²_e = (S_yy − B̂·S_xy)/(n−2) with S_·· = ···_n / n.
    s2e = (
        F.when(ok, (syy_n / n - b * (sxy_n / n)) / (n - F.lit(2.0)))
        .when(F.col("n") >= 2, (syy_n / n) / (n - F.lit(1.0)))
        .otherwise(F.lit(0.0))
    )
    f_real = F.when(F.col("n_pop") > 0, n / npop).otherwise(F.lit(0.0))
    v = F.when(
        F.col("n") > 0,
        npop * npop * (F.lit(1.0) - f_real) * F.greatest(s2e, F.lit(0.0)) / n,
    ).otherwise(F.lit(0.0))
    est = t_hat / F.lit(100.0)
    margin = F.lit(z) * F.sqrt(v) / F.lit(100.0)
    return m.select(
        *[F.col(q).alias(group_by) for q in qs],
        F.round(est, round_to).alias("estimate"),
        F.round(est - margin, round_to).alias("ci_lower"),
        F.round(est + margin, round_to).alias("ci_upper"),
        F.col("n").cast("long").alias("n_samples"),
        F.round(b, 6).alias("slope"),
        F.when(ok, F.lit("regression"))
        .otherwise(F.lit("expansion_fallback"))
        .alias("method"),
    )


def regaux_sum_ci_sql(
    table: str,
    column: str,
    aux_column: str,
    spec: SamplingSpec,
    z: float = Z_95,
    round_to: int = 3,
    group_by: str | None = None,
) -> str:
    """DuckDB oracle: identical moments, numerators, and scalar chain."""
    where = sampling_where_sql(spec)
    y = cents_sql(column)
    x = cents_sql(aux_column)
    qs = ["q"] if group_by else []
    q_src = "".join(f"{group_by} AS {q}, " for q in qs)
    on = " AND ".join(f"p.{q} IS NOT DISTINCT FROM s.{q}" for q in qs) or "TRUE"
    return f"""
WITH pop AS (
  SELECT {q_src}count(*) AS n_pop, sum({x}) AS tx
  FROM {table} GROUP BY ALL
),
smp AS (
  SELECT {q_src}count(*) AS n,
         sum({y}) AS sy, sum({x}) AS sx,
         sum(CAST({y} AS HUGEINT) * {x}) AS sxy,
         sum(CAST({x} AS HUGEINT) * {x}) AS sxx,
         sum(CAST({y} AS HUGEINT) * {y}) AS syy
  FROM {table} WHERE {where} GROUP BY ALL
),
m AS (
  SELECT {"".join(f"p.{q}, " for q in qs)}p.n_pop, p.tx,
         coalesce(s.n, 0) AS n,
         coalesce(s.sy, 0) AS sy, coalesce(s.sx, 0) AS sx,
         coalesce(s.sxy, 0) AS sxy, coalesce(s.sxx, 0) AS sxx,
         coalesce(s.syy, 0) AS syy
  FROM pop p LEFT JOIN smp s ON {on}
),
calc AS (
  SELECT {"".join(f"{q}, " for q in qs)}n, n_pop,
         CAST(n * sxy - sx * sy AS DOUBLE) AS sxy_n,
         CAST(n * sxx - sx * sx AS DOUBLE) AS sxx_n,
         CAST(n * syy - sy * sy AS DOUBLE) AS syy_n,
         CASE WHEN n > 0 THEN CAST(sy AS DOUBLE) / n ELSE 0.0 END AS ybar,
         CASE WHEN n > 0 THEN CAST(sx AS DOUBLE) / n ELSE 0.0 END AS xbar,
         CASE WHEN n_pop > 0 THEN CAST(tx AS DOUBLE) / n_pop ELSE 0.0 END AS xbar_pop,
         (n >= 3 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0) AS ok
  FROM m
),
est AS (
  SELECT {"".join(f"{q}, " for q in qs)}n, ok,
         CASE WHEN ok THEN sxy_n / sxx_n ELSE 0.0 END AS b,
         CAST(n_pop AS DOUBLE)
           * (ybar + (CASE WHEN ok THEN sxy_n / sxx_n ELSE 0.0 END)
              * (xbar_pop - xbar)) AS t_hat,
         CASE WHEN ok
              THEN (syy_n / n
                    - (sxy_n / sxx_n) * (sxy_n / n)) / (n - 2.0)
              WHEN n >= 2 THEN (syy_n / n) / (n - 1.0)
              ELSE 0.0 END AS s2e,
         CASE WHEN n_pop > 0 THEN CAST(n AS DOUBLE) / n_pop ELSE 0.0 END AS f_real,
         CAST(n_pop AS DOUBLE) AS npop
  FROM calc
)
SELECT {"".join(f"{q} AS {group_by}, " for q in qs)}round(t_hat / 100.0, {round_to}) AS estimate,
       round(t_hat / 100.0
             - {z!r} * (CASE WHEN n > 0
                             THEN sqrt(npop * npop * (1.0 - f_real)
                                       * greatest(s2e, 0.0) / n)
                             ELSE 0.0 END) / 100.0,
             {round_to}) AS ci_lower,
       round(t_hat / 100.0
             + {z!r} * (CASE WHEN n > 0
                             THEN sqrt(npop * npop * (1.0 - f_real)
                                       * greatest(s2e, 0.0) / n)
                             ELSE 0.0 END) / 100.0,
             {round_to}) AS ci_upper,
       CAST(n AS BIGINT) AS n_samples,
       round(b, 6) AS slope,
       CASE WHEN ok THEN 'regression' ELSE 'expansion_fallback' END AS method
FROM est
"""
