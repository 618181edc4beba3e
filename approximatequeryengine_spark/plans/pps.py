"""Probability-proportional-to-size (PPS) sampling for skewed SUMs.

Uniform sampling spends its budget evenly, so a few huge rows dominate
the estimator's variance. PPS includes row i with probability

    p_i = min(1, f·N·x_i / Σx)

(expected sample size f·N, like uniform-f), making each sampled row's
HT contribution x_i/p_i ≈ Σx/(f·N) — near-constant — which drives the
HT variance Σ x²(1−p)/p² toward zero as skew grows. Rows with
p_i = 1 (the heavy tail) are ALWAYS included and contribute zero
variance: the estimator degrades gracefully into "exact over the heads,
sampled over the tails". Requires a strictly positive measure column
(x ≤ 0 would get p = 0 and silently drop its true contribution — the
Spark path fails fast on such input, reference semantics: Hájek 1971).

Inclusion is deterministic: u_i from the salted avalanche hash
(selection must be independent of the *uniform-design* hash and of the
value column; the avalanche mix provides both), so the DuckDB oracle
reproduces sample, estimate, and CI bit-for-bit.

Plan shape: pass 1 computes (N, Σx) — map-side-combined scan to one
row, broadcast back; pass 2 scans with the p_i predicate inside
codegen and reduces the moments. Two scans total at any scale, no
driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    HASH_SPACE,
    avalanche_hash_sql_steps,
    with_avalanche_u,
)
from approximatequeryengine_spark.plans.estimators import Z_95

PPS_SALT = 13


def pps_sum_ci(
    df: DataFrame,
    column: str,
    key: str,
    fraction: float,
    z: float = Z_95,
    round_to: int = 3,
) -> DataFrame:
    """1-row DataFrame: (estimate, ci_lower, ci_upper, n_samples,
    n_certain) — HT-scaled SUM under PPS with the HT-variance CI.
    ``n_certain`` counts p=1 rows (included exactly, zero variance)."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    x = F.col(column).cast("double")
    base = df.select(x.alias("x"), F.expr(key).cast("long").alias("k"))
    n_bad = base.filter(F.col("x") <= 0).limit(1).count()
    if n_bad:
        raise ValueError(
            f"PPS requires a strictly positive measure column; {column!r} "
            "has non-positive values (their p would be 0 and their true "
            "contribution silently dropped)"
        )
    tot = base.agg(
        F.count(F.lit(1)).alias("N"), F.sum("x").alias("sx")
    )
    hashed = with_avalanche_u(base, F.col("k"), F.lit(PPS_SALT), u_col="__u")
    withp = hashed.crossJoin(F.broadcast(tot)).withColumn(
        "pi",
        F.least(F.lit(1.0), F.lit(fraction) * F.col("N") * F.col("x") / F.col("sx")),
    )
    s = withp.filter(F.col("__u") < F.col("pi"))
    agg = s.agg(
        F.sum(F.col("x") / F.col("pi")).alias("ht"),
        F.sum(
            F.col("x") * F.col("x") * (F.lit(1.0) - F.col("pi"))
            / (F.col("pi") * F.col("pi"))
        ).alias("vht"),
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.when(F.col("pi") >= 1.0, 1).otherwise(0)).alias("n_certain"),
    )
    # Integer margin — boundary-noise rationale in estimators._ci_columns.
    margin = F.round(F.lit(z) * F.sqrt(F.greatest(F.col("vht"), F.lit(0.0))), 0)
    return agg.select(
        F.round(F.col("ht"), round_to).alias("estimate"),
        F.round(F.col("ht") - margin, round_to).alias("ci_lower"),
        F.round(F.col("ht") + margin, round_to).alias("ci_upper"),
        F.col("n_samples"),
        F.col("n_certain"),
    )


def pps_sum_ci_sql(
    table: str,
    column: str,
    key: str,
    fraction: float,
    z: float = Z_95,
    round_to: int = 3,
) -> str:
    """DuckDB oracle: same two passes, hash, p_i, and CI arithmetic."""
    x = f"CAST({column} AS DOUBLE)"
    k = f"CAST({key} AS BIGINT)"
    hash_steps, h_final = avalanche_hash_sql_steps("k", PPS_SALT)
    u = f"(CAST({h_final} AS DOUBLE) / {float(HASH_SPACE)!r})"
    return f"""
WITH base AS (SELECT {x} AS x, {k} AS k FROM {table}),
tot AS (SELECT count(*) AS N, sum(x) AS sx FROM base),
hashed AS (SELECT base.*, {hash_steps} FROM base),
withp AS (SELECT x, {u} AS u,
                 least(1.0, {fraction!r} * (SELECT N FROM tot) * x / (SELECT sx FROM tot)) AS pi
          FROM hashed),
s AS (SELECT x, pi FROM withp WHERE u < pi),
agg AS (SELECT sum(x / pi) AS ht,
               sum(x * x * (1.0 - pi) / (pi * pi)) AS vht,
               count(*) AS n_samples,
               CAST(sum(CASE WHEN pi >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_certain
        FROM s)
SELECT round(ht, {round_to}) AS estimate,
       round(ht - round({z!r} * sqrt(greatest(vht, 0.0)), 0), {round_to}) AS ci_lower,
       round(ht + round({z!r} * sqrt(greatest(vht, 0.0)), 0), {round_to}) AS ci_upper,
       n_samples, n_certain
FROM agg
"""
