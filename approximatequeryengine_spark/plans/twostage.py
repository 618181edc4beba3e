"""Two-stage cluster sampling — the design a 100 TB scan actually
runs: stage 1 Bernoulli-samples key BLOCKS (the stand-in for files /
row groups — at scale this prunes whole inputs before any row is
read), stage 2 Bernoulli-samples rows WITHIN the surviving blocks.
Both stages use the engine's deterministic portable hash, so sample
membership is a pure scan predicate (no state, reproducible in any
engine) and the two inclusion events are independent by construction
(different salts).

Estimator (τ = total of an integer-cents measure), with f₁ = P(block
sampled), f₂ = P(row sampled | block sampled):

    τ̂  = Σ_{sampled rows} x / (f₁·f₂)

    V̂  = (1/f₁²)·[ (1−f₁)·Σᵢ t̂ᵢ²  +  f₁·Σᵢ V̂ᵢ ]
         t̂ᵢ = (Σ rows in block i) / f₂          (estimated block total)
         V̂ᵢ = ((1−f₂)/f₂²)·Σ rows in block i x²  (within-block HT var)

which reduces to the single-stage Poisson HT estimator at f₂ = 1
(block-only sampling) and at f₁ = 1 (row-only sampling) — the
standard "ultimate cluster" decomposition for Poisson sampling at
both stages.

Determinism contract: f₁ = 1/4 and f₂ = 1/2 are reciprocals of powers
of two, so every term is EXACT integer arithmetic — t̂ᵢ = 2·sᵢ,
t̂ᵢ² = 4·sᵢ², V̂ᵢ = 2·qᵢ, and

    τ̂_cents   = 8·Σ sᵢ                       (BIGINT)
    V̂_cents²  = 48·Σ sᵢ²  +  8·Σ qᵢ          (DECIMAL(38,0), exact)

with sᵢ = Σ cents and qᵢ = Σ cents² per block (cents² accumulates in
DECIMAL(38,0) — the Gini/wander convention — because a BIGINT Σx²
wraps silently in Spark past ~9.2e18 while DuckDB widens). The only
floating-point steps are one DECIMAL→DOUBLE cast and one sqrt on
identical operands, absorbed by the engine's integer-rounded SUM
margin (`ht_integer_margin`).

Scale shape: one scan with BOTH hash predicates fused into the read
(at 100 TB the stage-1 predicate prunes at file granularity when the
layout blocks align with files), one (block) groupBy, one 5-column
final aggregate. Nothing leaves the executors but O(sampled blocks)
partials.

GROUP BY (domain estimation under the SAME design): a block is still
the PSU, and a group's per-block partial sums only that group's rows
in the block; the ultimate-cluster variance applies per domain over
its block partials. Every accumulated term stays exact integer
arithmetic, so the per-group folds need no order-pinning window. A
group the sample missed entirely still appears — one count-only
grouped scan of the population, left-joined — and reads 0 with a
zero-width CI and n_psus = 0. A global query is the call with no
``group_by``; its aggregate always returns its row, so it scans the
population only once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    fraction_threshold,
    portable_hash_col,
    portable_hash_sql,
)
from approximatequeryengine_spark.plans.estimators import Z_95, ht_integer_margin
from approximatequeryengine_spark.plans.sampling import sql_double

TS_F1 = 0.25  # stage-1 block inclusion probability (1/f1 = 4, exact)
TS_F2 = 0.5  # stage-2 row inclusion probability (1/f2 = 2, exact)
TS_BLOCK = 64  # rows per key block (the "file" stand-in)
TS_PSU_SALT = 17
TS_ROW_SALT = 23
# Exact integer coefficients for the (f1, f2) above — see module doc.
_EST_MULT = 8  # 1 / (f1·f2)
_V_SS2 = 48  # (1−f1)/f1² · (1/f2)²
_V_QQ = 8  # (1/f1) · (1−f2)/f2²
# the HT variance in dollars², over the aggregated ss2/qq moments
_VHT_D = f"CAST(ss2 * {_V_SS2} + qq * {_V_QQ} AS DOUBLE) / {sql_double(10000.0)}"


def twostage_sum_ci(
    df: DataFrame,
    key: str,
    value_cents: Column,
    z: float = Z_95,
    psu_salt: int = TS_PSU_SALT,
    row_salt: int = TS_ROW_SALT,
    group_by: str | None = None,
) -> DataFrame:
    """(sum_value, ci_lower, ci_upper, n_psus, n_rows) for the
    two-stage design over an integer-cents measure; one row, or one row
    per ``group_by`` value led by that column. ``key`` is a SQL
    expression for a unique integer row key; blocks are
    ``floor(key / TS_BLOCK)``."""
    qs = ["q"] if group_by else []
    k = F.expr(key).cast("long")
    b = F.floor(k / F.lit(TS_BLOCK)).cast("long")
    sampled = df.where(
        (portable_hash_col(b, psu_salt) < F.lit(fraction_threshold(TS_F1)))
        & (portable_hash_col(k, row_salt) < F.lit(fraction_threshold(TS_F2)))
    ).select(
        *[F.col(group_by).alias(q) for q in qs],
        b.alias("b"),
        value_cents.cast("long").alias("x"),
    )
    xd = F.col("x").cast("decimal(19,0)")
    per_psu = sampled.groupBy(*qs, "b").agg(
        F.sum("x").cast("long").alias("s"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("qv"),
        F.count(F.lit(1)).cast("long").alias("nr"),
    )
    sd = F.col("s").cast("decimal(19,0)")
    tot = per_psu.groupBy(*qs).agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("nr").cast("long").alias("n_rows"),
        F.sum("s").cast("long").alias("ss"),
        F.sum(sd * sd).cast("decimal(38,0)").alias("ss2"),
        F.sum("qv").cast("decimal(38,0)").alias("qq"),
    )
    if group_by:
        # A global aggregate always returns its row; a group the sample
        # missed gets its row from a count-only scan of the population.
        pop = df.select(F.col(group_by).alias("q")).distinct()
        tot = pop.join(
            tot.withColumnRenamed("q", "q2"), F.col("q").eqNullSafe(F.col("q2")), "left"
        )
    # Zero sampled blocks leave the sums NULL: read them as 0.
    tot = tot.select(
        *qs,
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("m", "n_rows", "ss")],
        *[
            F.coalesce(F.col(c), F.lit(0).cast("decimal(38,0)")).alias(c)
            for c in ("ss2", "qq")
        ],
    )
    est_d = (F.col("ss") * F.lit(_EST_MULT)).cast("double") / F.lit(100.0)
    margin = ht_integer_margin("m", _VHT_D, z)
    return tot.select(
        *[F.col(q).alias(group_by) for q in qs],
        F.round(est_d, 2).alias("sum_value"),
        F.round(est_d - margin, 2).alias("ci_lower"),
        F.round(est_d + margin, 2).alias("ci_upper"),
        F.col("m").cast("long").alias("n_psus"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def twostage_sum_ci_sql(
    table: str,
    key_sql: str,
    value_cents_sql: str,
    z: float = Z_95,
    psu_salt: int = TS_PSU_SALT,
    row_salt: int = TS_ROW_SALT,
    group_by: str | None = None,
) -> str:
    """DuckDB oracle — identical hashes, blocks, integer coefficients
    and margin chain (and, grouped, the population left join)."""
    b_sql = f"CAST(floor(({key_sql}) / {TS_BLOCK}.0) AS BIGINT)"
    h_psu = portable_hash_sql(b_sql, psu_salt)
    h_row = portable_hash_sql(f"({key_sql})", row_salt)
    qs = ["q"] if group_by else []
    q_cols = "".join(f"{q}, " for q in qs)
    src = "tot"
    if group_by:
        # A global aggregate always returns its row; a group the sample
        # missed gets its row from the population.
        src = f"""(SELECT p.q, t.m, t.n_rows, t.ss, t.ss2, t.qq
        FROM (SELECT DISTINCT {group_by} AS q FROM {table}) p
        LEFT JOIN tot t ON p.q IS NOT DISTINCT FROM t.q)"""
    return f"""
WITH base AS (
  SELECT {"".join(f"{group_by} AS {q}, " for q in qs)}{b_sql} AS b,
         CAST({value_cents_sql} AS BIGINT) AS x
  FROM {table}
  WHERE {h_psu} < {fraction_threshold(TS_F1)}
    AND {h_row} < {fraction_threshold(TS_F2)}
),
per_psu AS (
  SELECT {q_cols}b, CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS qv,
         CAST(count(*) AS BIGINT) AS nr
  FROM base GROUP BY ALL
),
tot AS (
  SELECT {q_cols}CAST(count(*) AS BIGINT) AS m,
         CAST(sum(nr) AS BIGINT) AS n_rows,
         CAST(sum(s) AS BIGINT) AS ss,
         CAST(sum(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ss2,
         CAST(sum(qv) AS DECIMAL(38,0)) AS qq
  FROM per_psu GROUP BY ALL
),
calc AS (
  SELECT {q_cols}coalesce(m, 0) AS m, coalesce(n_rows, 0) AS n_rows,
         CAST(coalesce(ss, 0) * {_EST_MULT} AS DOUBLE) / 100.0 AS est_d,
         CASE WHEN coalesce(m, 0) >= 2
              THEN {z!r} * sqrt(greatest(
                     CAST(coalesce(ss2, 0) * {_V_SS2} + coalesce(qq, 0) * {_V_QQ}
                          AS DOUBLE) / 10000.0,
                     0.0))
              ELSE 0.0 END AS m0
  FROM {src}
)
SELECT {"".join(f"{q} AS {group_by}, " for q in qs)}round(est_d, 2) AS sum_value,
       round(est_d - (CASE WHEN m0 > 0
                           THEN greatest(round(m0, 0), 1.0)
                           ELSE 0.0 END), 2) AS ci_lower,
       round(est_d + (CASE WHEN m0 > 0
                           THEN greatest(round(m0, 0), 1.0)
                           ELSE 0.0 END), 2) AS ci_upper,
       CAST(m AS BIGINT) AS n_psus, CAST(n_rows AS BIGINT) AS n_rows
FROM calc
"""
