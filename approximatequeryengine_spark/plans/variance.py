"""Sampled standard-deviation estimation with a CLT confidence interval
— extends the estimator family (A5–A11) beyond the reference's
SUM/AVG/COUNT/MIN/MAX surface with a second-moment target.

Statistics: for a (Bernoulli/uniform-hash) sample of size ``n``, the
sample variance ``s²`` estimates the population variance, and its own
sampling variance is the classic fourth-moment form

    Var(s²) ≈ ( m₄ − s⁴·(n−3)/(n−1) ) / n      [Kendall & Stuart §10.9]

with ``m₄`` the fourth central moment. The reported estimate is the
standard deviation ``s`` with a delta-method interval:
``se(s) = se(s²) / (2s)``.

Numerics (the part that makes the DuckDB oracle land on the same
values): moments are computed about an *integer* center ``c =
floor(mean + 0.5)`` fixed by a first pass — centering kills the
catastrophic cancellation of raw-moment algebra (x⁴ sums need ~2×
the mantissa the data magnitude leaves), while the integer quantization
makes ``c`` itself reproducible across engines (the float mean's last
bit is summation-order-dependent; its rounding to the integer grid is
not, noise ~1e-12 vs a unit grid). ``s²`` then uses the exact algebra
``(Σd² − n·d̄²)/(n−1)`` with ``d = x − c``. The fourth moment is NOT
centre-invariant, so ``m₄`` about ``c`` is recentred exactly on the
sample mean,

    m₄ᶜ = m₄ − 4·d̄·m₃ + 6·d̄²·m₂ − 3·d̄⁴ ,

which with ``|d̄| ≤ 0.5`` is both algebraically exact and numerically
stable (unrecentred, a measure whose spread is a few units of the grid
— a discount in [0, 0.1] — gets an interval several times too wide).
Final values are rounded to 4 decimals on both sides, the
quotient-family convention of ``estimators._ci_columns``.

GROUP BY: a grouped STDDEV runs the same estimator within each group —
an integer centre per group (a group whose mean sits far from a shared
centre would see its raw m₄ inflated by ~6d̄²s² + d̄⁴) and the same
recentring. A grouped CORR keeps one shared centre: its second-moment
algebra is exact for any constant centre. A global query is the call
with no ``group_by``.

Plan shape: two jobs — a 1-row centre collect (a global STDDEV, and
CORR) or a group-sized broadcast join of per-group centres (a grouped
STDDEV), then ONE map-side-combined aggregate producing every moment;
nothing data-sized is ever collected.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.estimators import Z_95, finite_col, finite_sql
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    sampling_where_sql,
)


def _int_center(v: float) -> float:
    """The engine-portable integer quantization of a float mean — the
    same floor(v + 0.5) both oracles spell (Python round() is banker's
    rounding, which DuckDB's floor(x + 0.5) is not)."""
    return float(math.floor(v + 0.5))


def approx_stddev_ci(
    df: DataFrame,
    column: str,
    spec: SamplingSpec,
    z: float = Z_95,
    group_by: str | None = None,
) -> DataFrame:
    """(n_samples, stddev, ci_lower, ci_upper): the sampled standard
    deviation with the fourth-moment CLT interval; one row, or one row
    per ``group_by`` value led by that column. Groups with n ≤ 3 get a
    degenerate [sd, sd] interval."""
    keys = [group_by] if group_by else []
    # NULLs are excluded up front: a count(*)/null-skipping-sum mismatch
    # would silently deflate every moment on a nullable column.
    sampled = (
        apply_sampling(df, spec)
        .select(*keys, F.col(column).cast("double").alias("x"))
        .filter(F.col("x").isNotNull())
    )
    if group_by:
        centres = sampled.groupBy(F.col(group_by).alias("__g")).agg(
            F.floor(F.avg("x") + F.lit(0.5)).cast("double").alias("c")
        )
        # Null-safe, so a NULL group keeps its centre.
        sampled = sampled.join(
            F.broadcast(centres), F.col(group_by).eqNullSafe(F.col("__g"))
        )
    else:
        # A global query always answers one row: its centre is collected
        # first, and a sample too small to have a spread is rejected.
        first = sampled.agg(F.avg("x").alias("mu"), F.count("x").alias("n")).collect()[0]
        if first["mu"] is None or first["n"] < 2:
            raise ValueError(
                "stddev needs at least 2 sampled non-null rows; increase the fraction"
            )
        sampled = sampled.withColumn("c", F.lit(_int_center(first["mu"])))
    d = F.col("x") - F.col("c")
    m = sampled.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(d).alias("d1"),
        F.sum(d * d).alias("sd2"),
        F.avg(d * d * d).alias("m3"),
        F.avg(d * d * d * d).alias("m4"),
    )
    n = F.col("n")
    # greatest(…, 0): mathematically non-negative, but float rounding of
    # sd2 − n·d̄² can dip a hair below zero on constant columns — and
    # DuckDB's sqrt RAISES on negatives where Spark returns NaN.
    s2 = F.when(
        n >= 2,
        F.greatest(F.col("sd2") - n * F.col("d1") * F.col("d1"), F.lit(0.0)) / (n - 1),
    ).otherwise(F.lit(0.0))
    d1 = F.col("d1")
    m2 = F.col("sd2") / n
    m4c = (
        F.col("m4")
        - F.lit(4.0) * d1 * F.col("m3")
        + F.lit(6.0) * d1 * d1 * m2
        - F.lit(3.0) * d1 * d1 * d1 * d1
    )
    var_s2 = F.greatest(m4c - s2 * s2 * (n - 3) / (n - 1), F.lit(0.0)) / n
    sd = F.sqrt(s2)
    # Constant column: sd = 0 with zero spread — a degenerate [sd, sd]
    # interval, not a 0/0 NaN.
    half = F.when(
        (sd > 0) & (n > 3), F.lit(z) * F.sqrt(var_s2) / (F.lit(2.0) * sd)
    ).otherwise(F.lit(0.0))
    return m.select(
        *keys,
        n.cast("long").alias("n_samples"),
        F.round(sd, 4).alias("stddev"),
        F.round(F.greatest(sd - half, F.lit(0.0)), 4).alias("ci_lower"),
        F.round(sd + half, 4).alias("ci_upper"),
    )


def approx_stddev_ci_sql(
    table: str,
    column: str,
    spec: SamplingSpec,
    z: float = Z_95,
    group_by: str | None = None,
) -> str:
    """DuckDB oracle for :func:`approx_stddev_ci` — the same integer
    centres (per group when grouped) and the exact m₄ recentring."""
    where = sampling_where_sql(spec)
    gs = ["g"] if group_by else []
    g_src = "".join(f"{group_by} AS {g}, " for g in gs)
    g_cols = "".join(f"{g}, " for g in gs)
    on = " AND ".join(f"s.{g} IS NOT DISTINCT FROM c.{g}" for g in gs) or "TRUE"
    return f"""
WITH s AS (SELECT {g_src}CAST({column} AS DOUBLE) AS x
           FROM {table}
           WHERE ({where}) AND {column} IS NOT NULL),
c AS (SELECT {g_cols}floor(avg(x) + 0.5) AS c FROM s GROUP BY ALL),
m AS (
  SELECT {"".join(f"s.{g} AS {g}, " for g in gs)}count(*) AS n,
         avg(x - c.c) AS d1,
         sum((x - c.c) * (x - c.c)) AS sd2,
         avg((x - c.c) * (x - c.c) * (x - c.c)) AS m3,
         avg((x - c.c) * (x - c.c) * (x - c.c) * (x - c.c)) AS m4
  FROM s JOIN c ON {on} GROUP BY ALL
),
v AS (
  SELECT {g_cols}n,
         CASE WHEN n >= 2
              THEN greatest(sd2 - n * d1 * d1, 0.0) / (n - 1)
              ELSE 0.0 END AS s2,
         m4 - 4.0 * d1 * m3 + 6.0 * d1 * d1 * (sd2 / n)
            - 3.0 * d1 * d1 * d1 * d1 AS m4c
  FROM m
),
h AS (
  SELECT {g_cols}n, sqrt(s2) AS sd,
         CASE WHEN sqrt(s2) > 0 AND n > 3
              THEN {z!r} * sqrt(greatest(m4c - s2 * s2 * (n - 3) / (n - 1), 0.0) / n)
                   / (2.0 * sqrt(s2))
              ELSE 0.0 END AS half
  FROM v
)
SELECT {"".join(f"{g} AS {group_by}, " for g in gs)}CAST(n AS BIGINT) AS n_samples,
       round(sd, 4) AS stddev,
       round(greatest(sd - half, 0.0), 4) AS ci_lower,
       round(sd + half, 4) AS ci_upper
FROM h
"""


def approx_corr_ci(
    df: DataFrame,
    col_x: str,
    col_y: str,
    spec: SamplingSpec,
    z: float = Z_95,
    group_by: str | None = None,
) -> DataFrame:
    """Sampled Pearson correlation with the Fisher-z interval:
    ``atanh(r) ± z/√(n−3)``, mapped back through tanh — the standard
    normalizing transform (Fisher 1921), far better calibrated than a
    naive CLT on ``r`` near ±1.

    Same numeric discipline as :func:`approx_stddev_ci`: both columns
    center on integer-quantized means from a first pass (one shared
    pair of centres even when grouped — cross/self moment algebra is
    exact for any constant centres), cross/self second moments come
    from ONE aggregate, and atanh/tanh are spelled as log/exp
    identities because DuckDB lacks the hyperbolic inverses — identical
    formula text on both engines. (n_samples, corr, ci_lower,
    ci_upper): one row, or one row per ``group_by`` value led by that
    column; groups with n ≤ 3 or a degenerate arm report NULL interval
    columns."""
    keys = [group_by] if group_by else []
    sampled = (
        apply_sampling(df, spec)
        .select(
            *keys,
            F.col(col_x).cast("double").alias("x"),
            F.col(col_y).cast("double").alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    mrow = sampled.agg(
        F.avg("x").alias("mx"), F.avg("y").alias("my"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    # A global answer is one Fisher-z interval, which needs n > 3; a
    # grouped one reports NULL for its small groups.
    if mrow["n"] <= (0 if group_by else 3):
        raise ValueError(
            "corr needs more than 3 sampled rows for the Fisher-z "
            "interval; increase the fraction"
        )
    dx = F.col("x") - F.lit(_int_center(mrow["mx"]))
    dy = F.col("y") - F.lit(_int_center(mrow["my"]))
    m = sampled.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(dx).alias("dx1"),
        F.avg(dy).alias("dy1"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
        F.sum(dx * dy).alias("sxy"),
    )
    n = F.col("n")
    cov = (F.col("sxy") - n * F.col("dx1") * F.col("dy1")) / (n - 1)
    vx = (F.col("sxx") - n * F.col("dx1") * F.col("dx1")) / (n - 1)
    vy = (F.col("syy") - n * F.col("dy1") * F.col("dy1")) / (n - 1)
    # Degenerate inputs (a constant column → vx/vy ≤ 0, or |r| = 1 where
    # atanh diverges, or n ≤ 3) yield NULL, not NaN/crash — the
    # identical CASE conditions in the oracle produce the same NULLs
    # (DuckDB's sqrt raises on negatives where Spark yields NaN).
    r = F.when((n > 1) & (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    # atanh/tanh via log/exp so the oracle's text is identical
    zr = F.when((n > 3) & (F.abs(r) < 1), F.lit(0.5) * F.log((1 + r) / (1 - r)))
    half = F.when(n > 3, F.lit(z) / F.sqrt(n - 3))
    lo_e = F.exp(F.lit(2.0) * (zr - half))
    hi_e = F.exp(F.lit(2.0) * (zr + half))
    return m.select(
        *keys,
        n.cast("long").alias("n_samples"),
        F.round(r, 6).alias("corr"),
        F.round((lo_e - 1) / (lo_e + 1), 6).alias("ci_lower"),
        F.round((hi_e - 1) / (hi_e + 1), 6).alias("ci_upper"),
    )


def approx_corr_ci_sql(
    table: str,
    col_x: str,
    col_y: str,
    spec: SamplingSpec,
    z: float = Z_95,
    group_by: str | None = None,
) -> str:
    """DuckDB oracle for :func:`approx_corr_ci` — identical two-pass
    centered-moment algebra and log/exp hyperbolic identities."""
    where = sampling_where_sql(spec)
    gs = ["g"] if group_by else []
    g_cols = "".join(f"{g}, " for g in gs)
    return f"""
WITH s AS (SELECT {"".join(f"{group_by} AS {g}, " for g in gs)}CAST({col_x} AS DOUBLE) AS x,
                  CAST({col_y} AS DOUBLE) AS y
           FROM {table}
           WHERE ({where}) AND {col_x} IS NOT NULL AND {col_y} IS NOT NULL),
c AS (SELECT floor(avg(x) + 0.5) AS cx, floor(avg(y) + 0.5) AS cy FROM s),
m AS (
  SELECT {g_cols}count(*) AS n,
         avg(x - (SELECT cx FROM c)) AS dx1,
         avg(y - (SELECT cy FROM c)) AS dy1,
         sum((x - (SELECT cx FROM c)) * (x - (SELECT cx FROM c))) AS sxx,
         sum((y - (SELECT cy FROM c)) * (y - (SELECT cy FROM c))) AS syy,
         sum((x - (SELECT cx FROM c)) * (y - (SELECT cy FROM c))) AS sxy
  FROM s GROUP BY ALL
),
v AS (
  SELECT {g_cols}n,
         (sxy - n * dx1 * dy1) / (n - 1) AS cov,
         (sxx - n * dx1 * dx1) / (n - 1) AS vx,
         (syy - n * dy1 * dy1) / (n - 1) AS vy
  FROM m
),
f AS (
  SELECT {g_cols}n,
         CASE WHEN n > 1 AND vx > 0 AND vy > 0 THEN cov / sqrt(vx * vy) END AS r,
         CASE WHEN n > 3 THEN {z!r} / sqrt(n - 3) END AS half
  FROM v
),
gg AS (
  SELECT {g_cols}n, r, half,
         CASE WHEN n > 3 AND abs(r) < 1
              THEN 0.5 * ln((1 + r) / (1 - r)) END AS zr
  FROM f
)
SELECT {"".join(f"{g} AS {group_by}, " for g in gs)}CAST(n AS BIGINT) AS n_samples,
       round(r, 6) AS corr,
       round((exp(2.0 * (zr - half)) - 1) / (exp(2.0 * (zr - half)) + 1), 6)
           AS ci_lower,
       round((exp(2.0 * (zr + half)) - 1) / (exp(2.0 * (zr + half)) + 1), 6)
           AS ci_upper
FROM gg
"""


def approx_ab_diff_ci(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    spec: SamplingSpec,
    z: float = Z_95,
) -> DataFrame:
    """Sampled A/B mean difference with the Welch (unequal-variance)
    interval — the experiment-readout shape: ``mean(A) − mean(B) ±
    z·√(s²_A/n_A + s²_B/n_B)``.

    One shared integer center (from a ≤2-row first pass over both arms,
    which doubles as the arm-existence validation) keeps the per-arm
    moment algebra cancellation-free and engine-reproducible; the
    second pass is ONE grouped aggregate over the sample. Three jobs
    total per readout — the first-pass collect, the moments pass, and
    the final 1-row assembly the caller triggers — every driver sync
    ≤ 2 rows, so the shape holds at any scale. 1-row DataFrame:
    (n_a, n_b, mean_a, mean_b, diff, ci_lower, ci_upper)."""
    x = F.col(value_col).cast("double")
    g = F.col(group_col)
    sampled = (
        apply_sampling(df, spec)
        .filter(g.isin(group_a, group_b))
        # finite_col: a NaN measurement would otherwise poison avg()
        # into NaN and crash the integer shared-center derivation
        .select(g.alias("g"), finite_col(x).alias("x"))
        .filter(F.col("x").isNotNull())
    )
    arms = {
        r["g"]: r
        for r in sampled.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("x").alias("m"))
        .collect()
    }
    for arm in (group_a, group_b):
        if arm not in arms or arms[arm]["n"] < 2:
            raise ValueError(
                f"arm {arm!r} has fewer than 2 sampled rows; increase the fraction"
            )
    # Combined mean from the per-arm stats (mathematically the pooled
    # mean; the integer quantization below absorbs the float-association
    # difference vs the oracle's direct avg).
    n_tot = sum(arms[a]["n"] for a in (group_a, group_b))
    mu = sum(arms[a]["n"] * arms[a]["m"] for a in (group_a, group_b)) / n_tot
    c = _int_center(mu)
    d = F.col("x") - F.lit(c)
    per = sampled.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(d).alias("d1"),
        F.sum(d * d).alias("sd2"),
    )
    a = per.filter(F.col("g") == group_a).select(
        F.col("n").alias("na"), F.col("d1").alias("da"), F.col("sd2").alias("sa")
    )
    b = per.filter(F.col("g") == group_b).select(
        F.col("n").alias("nb"), F.col("d1").alias("db"), F.col("sd2").alias("sb")
    )
    j = a.crossJoin(b)
    var_a = (F.col("sa") - F.col("na") * F.col("da") * F.col("da")) / (F.col("na") - 1)
    var_b = (F.col("sb") - F.col("nb") * F.col("db") * F.col("db")) / (F.col("nb") - 1)
    diff = F.col("da") - F.col("db")
    se = F.sqrt(var_a / F.col("na") + var_b / F.col("nb"))
    return j.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.lit(c) + F.col("da"), 6).alias("mean_a"),
        F.round(F.lit(c) + F.col("db"), 6).alias("mean_b"),
        F.round(diff, 6).alias("diff"),
        F.round(diff - F.lit(z) * se, 6).alias("ci_lower"),
        F.round(diff + F.lit(z) * se, 6).alias("ci_upper"),
    )


def approx_ab_diff_ci_sql(
    table: str,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    spec: SamplingSpec,
    z: float = Z_95,
) -> str:
    """DuckDB oracle for :func:`approx_ab_diff_ci` — identical shared
    center and Welch algebra."""
    where = sampling_where_sql(spec)
    va = "((sa - na * da * da) / (na - 1))"
    vb = "((sb - nb * db * db) / (nb - 1))"
    return f"""
WITH s AS (
  SELECT {group_col} AS g,
         {finite_sql(f"CAST({value_col} AS DOUBLE)")} AS x
  FROM {table}
  WHERE ({where}) AND {group_col} IN ('{group_a}', '{group_b}')
    AND {finite_sql(f"CAST({value_col} AS DOUBLE)")} IS NOT NULL
),
c AS (SELECT floor(avg(x) + 0.5) AS c FROM s),
per AS (
  SELECT g, count(*) AS n,
         avg(x - (SELECT c FROM c)) AS d1,
         sum((x - (SELECT c FROM c)) * (x - (SELECT c FROM c))) AS sd2
  FROM s GROUP BY g
),
j AS (
  SELECT a.n AS na, a.d1 AS da, a.sd2 AS sa,
         b.n AS nb, b.d1 AS db, b.sd2 AS sb
  FROM (SELECT * FROM per WHERE g = '{group_a}') a,
       (SELECT * FROM per WHERE g = '{group_b}') b
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round((SELECT c FROM c) + da, 6) AS mean_a,
       round((SELECT c FROM c) + db, 6) AS mean_b,
       round(da - db, 6) AS diff,
       round((da - db) - {z!r} * sqrt({va} / na + {vb} / nb), 6) AS ci_lower,
       round((da - db) + {z!r} * sqrt({va} / na + {vb} / nb), 6) AS ci_upper
FROM j
"""
