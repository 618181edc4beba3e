"""Outlier-indexed SUM estimation — the classic skew weapon of AQP
systems (Chaudhuri, Das, Datar, Motwani, Narasayya, "Overcoming
Limitations of Sampling for Aggregation Queries", ICDE 2001): keep the
``B`` largest values EXACTLY (the "outlier index"), sample only the
well-behaved remainder.

Why it wins: a plain uniform sample's SUM variance is dominated by
whether the handful of giant rows landed in the sample; removing them
from the sampled population removes that variance term entirely, so
the same sampling budget buys a far narrower interval on skewed data
(pinned by ``test_narrower_than_uniform_on_skew``). PPS attacks the
same problem probabilistically; the outlier index is the deterministic
complement — the estimator stays unbiased because the outlier stratum
is enumerated, not sampled.

Determinism/oracle contract: the threshold ``t`` is the ``B``-th
largest VALUE (an element of the data, not derived arithmetic), the
outlier stratum is ``x > t`` strictly (ties at ``t`` fall to the
sampled side, so membership never depends on tie order), and the
remainder uses the portable-hash sample with the standard HT moments
and the ``_ci_columns`` integer-margin convention — the DuckDB oracle
re-derives all three pieces.

Plan shape at scale: TakeOrdered(B) for the threshold (distributed
heap, B rows to the driver), then ONE conditional aggregate computes
the exact outlier stratum AND the sampled remainder's HT moments in
the same pass — two scans total and O(B) driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.estimators import (
    D0,
    Z_95,
    ht_integer_margin_sql,
)
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    sample_predicate_sql,
    sampling_where_sql,
    sql_double,
)

N_OUTLIERS = 100


def _moments_sql(x: str, t: str, key: str, fraction: float, salt: int) -> list[str]:
    """The one conditional aggregate over rows with a non-NULL ``x``:
    the exact outlier stratum (``x > t``) and the HT moments of the
    hash-sampled remainder, as Spark SQL text."""
    in_sample, _ = sample_predicate_sql(
        SamplingSpec(design="uniform_hash", fraction=fraction, key=key, salt=salt)
    )
    is_out = f"({x} > {t})"
    is_rest = f"(NOT {is_out} AND {in_sample})"
    p = float(fraction)
    return [
        f"coalesce(sum(CASE WHEN {is_out} THEN {x} END), {D0}) AS outlier_sum",
        f"sum(CAST({is_out} AS BIGINT)) AS n_outliers",
        f"sum(CAST({is_rest} AS BIGINT)) AS n",
        f"sum(CASE WHEN {is_rest} THEN {x} / {sql_double(p)} END) AS ht_sum",
        f"sum(CASE WHEN {is_rest} THEN {x} * {x} * {sql_double((1.0 - p) / (p * p))} END)"
        " AS vht",
    ]


def _estimate_sql(z: float) -> list[str]:
    """Exact outlier stratum + HT remainder with the integer-margin
    convention of ``_ci_columns``."""
    rest = f"coalesce(ht_sum, {D0})"
    margin = ht_integer_margin_sql("n", "vht", z)
    return [
        f"round(outlier_sum + {rest}, 2) AS estimate",
        f"round(outlier_sum + ({rest} - {margin}), 2) AS ci_lower",
        f"round(outlier_sum + ({rest} + {margin}), 2) AS ci_upper",
        "CAST(n AS BIGINT) AS n_samples",
        "n_outliers",
        "round(outlier_sum, 2) AS outlier_sum",
    ]


def outlier_sum_ci(
    df: DataFrame,
    column: str,
    key: str,
    fraction: float,
    n_outliers: int = N_OUTLIERS,
    z: float = Z_95,
    salt: int = 0,
) -> DataFrame:
    """1-row DataFrame: (estimate, ci_lower, ci_upper, n_samples,
    n_outliers, outlier_sum) for SUM(column) = exact outlier stratum +
    HT-estimated remainder; the CI reflects only the sampled part's
    uncertainty (the outlier stratum is exact). ``column`` and ``key``
    are Spark SQL text; the plan is built from text (one parse call per
    step, not a py4j round trip per Column node)."""
    x = f"CAST(({column}) AS DOUBLE)"
    base = df.filter(f"{x} IS NOT NULL")
    trow = (
        base.selectExpr(f"{x} AS x")
        .orderBy(F.desc("x"))
        .limit(n_outliers)
        .selectExpr("min(x) AS t")
        .collect()[0]
    )
    if trow["t"] is None:
        raise ValueError("empty input; nothing to estimate")
    t = sql_double(trow["t"])
    return base.selectExpr(*_moments_sql(x, t, key, fraction, salt)).selectExpr(
        *_estimate_sql(z)
    )


def outlier_sum_ci_sql(
    table: str,
    column: str,
    key: str,
    fraction: float,
    n_outliers: int = N_OUTLIERS,
    z: float = Z_95,
) -> str:
    """DuckDB oracle: re-derives the threshold, then the same single
    conditional aggregate — outlier stratum + HT moments + the
    integer-margin convention of ``moments_sql``/``_ci_columns``."""
    spec = SamplingSpec(design="uniform_hash", fraction=fraction, key=key)
    x = f"CAST({column} AS DOUBLE)"
    p = float(fraction)
    rest = f"(NOT ({x} > (SELECT t FROM thr))) AND ({sampling_where_sql(spec)})"
    margin = f"{z!r} * sqrt(greatest(vht, 0.0))"
    margin = f"CASE WHEN n >= 2 THEN {margin} ELSE 0.0 END"
    margin = (
        f"CASE WHEN ({margin}) > 0 THEN greatest(round({margin}, 0), 1.0) "
        f"ELSE 0.0 END"
    )
    return f"""
WITH thr AS (
  SELECT min(x) AS t
  FROM (SELECT {x} AS x FROM {table} WHERE {x} IS NOT NULL
        ORDER BY x DESC LIMIT {n_outliers})
),
m AS (
  SELECT coalesce(sum(CASE WHEN {x} > (SELECT t FROM thr) THEN {x} END), 0.0)
             AS outlier_sum,
         CAST(sum(CASE WHEN {x} > (SELECT t FROM thr) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_outliers,
         CAST(sum(CASE WHEN {rest} THEN 1 ELSE 0 END) AS BIGINT) AS n,
         coalesce(sum(CASE WHEN {rest} THEN {x} / {p!r} END), 0.0) AS rest_sum,
         sum(CASE WHEN {rest} THEN {x} * {x} * {(1.0 - p) / (p * p)!r} END)
             AS vht
  FROM {table} WHERE {x} IS NOT NULL
)
SELECT round(outlier_sum + rest_sum, 2) AS estimate,
       round(outlier_sum + (rest_sum - ({margin})), 2) AS ci_lower,
       round(outlier_sum + (rest_sum + ({margin})), 2) AS ci_upper,
       n AS n_samples,
       n_outliers,
       round(outlier_sum, 2) AS outlier_sum
FROM m
"""

def outlier_grouped_sum_ci(
    df: DataFrame,
    column: str,
    group_col: str,
    key: str,
    fraction: float,
    n_outliers: int = N_OUTLIERS,
    z: float = Z_95,
    salt: int = 0,
) -> DataFrame:
    """Per-group outlier-indexed SUM — the skew-robust grouped shape a
    revenue-by-customer query on heavy-tailed data actually needs: each
    group keeps its own top-``n_outliers`` values exactly and samples
    its remainder. One row per group: (group, estimate, ci_lower,
    ci_upper, n_samples, n_outliers, outlier_sum).

    The per-group threshold is the group's ``B``-th largest VALUE via a
    ``row_number`` window over (group, value desc); ties at the
    threshold fall to the sampled side (strict ``>``), so membership
    never depends on tie order — same determinism contract as the
    global estimator, now per group.

    Plan shape at scale: the window shuffles only the slim
    (group, value) projection on the group key; the resulting
    |groups|-row threshold frame broadcast-joins back onto the base
    scan, and ONE grouped conditional aggregate computes every group's
    exact outlier stratum AND sampled-remainder HT moments in the same
    pass. Two scans, one slim shuffle, O(|groups|) driver-free state —
    no per-group TakeOrdered fan-out."""
    x = f"CAST(({column}) AS DOUBLE)"
    base = df.filter(f"{x} IS NOT NULL")
    from pyspark.sql.window import Window

    thr = (
        base.selectExpr(f"{group_col} AS __og", f"{x} AS __ox")
        .withColumn("__orn", F.row_number().over(
            Window.partitionBy("__og").orderBy(F.desc("__ox"))
        ))
        .filter(F.col("__orn") <= F.lit(n_outliers))
        .groupBy("__og")
        .agg(F.min("__ox").alias("__ot"))
    )
    joined = base.join(
        F.broadcast(thr), base[group_col] == thr["__og"], "inner"
    )
    m = joined.groupBy(F.col("__og").alias("g")).agg(
        *[F.expr(e) for e in _moments_sql(x, "__ot", key, fraction, salt)]
    )
    return m.selectExpr(f"g AS `{group_col}`", *_estimate_sql(z)).orderBy(group_col)


def outlier_grouped_sum_ci_sql(
    table: str,
    column: str,
    group_col: str,
    key: str,
    fraction: float,
    n_outliers: int = N_OUTLIERS,
    z: float = Z_95,
) -> str:
    """DuckDB oracle for :func:`outlier_grouped_sum_ci` — the same
    per-group row_number threshold, strict-> stratum split, HT moments,
    and integer-margin convention."""
    spec = SamplingSpec(design="uniform_hash", fraction=fraction, key=key)
    x = f"CAST({column} AS DOUBLE)"
    p = float(fraction)
    rest = f"(NOT (s.x > thr.t)) AND s.ins"
    margin = f"{z!r} * sqrt(greatest(vht, 0.0))"
    margin = f"CASE WHEN n >= 2 THEN {margin} ELSE 0.0 END"
    margin = (
        f"CASE WHEN ({margin}) > 0 THEN greatest(round({margin}, 0), 1.0) "
        f"ELSE 0.0 END"
    )
    return f"""
WITH s AS (
  SELECT {group_col} AS g, {x} AS x,
         ({sampling_where_sql(spec)}) AS ins
  FROM {table} WHERE {x} IS NOT NULL
),
thr AS (
  SELECT g, min(x) AS t FROM (
    SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x DESC) AS rn
    FROM s
  ) WHERE rn <= {n_outliers} GROUP BY g
),
m AS (
  SELECT s.g AS g,
         coalesce(sum(CASE WHEN s.x > thr.t THEN s.x END), 0.0) AS outlier_sum,
         CAST(sum(CASE WHEN s.x > thr.t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
         CAST(sum(CASE WHEN {rest} THEN 1 ELSE 0 END) AS BIGINT) AS n,
         coalesce(sum(CASE WHEN {rest} THEN s.x / {p!r} END), 0.0) AS rest_sum,
         sum(CASE WHEN {rest} THEN s.x * s.x * {(1.0 - p) / (p * p)!r} END)
             AS vht
  FROM s JOIN thr ON s.g = thr.g GROUP BY s.g
)
SELECT g AS {group_col},
       round(outlier_sum + rest_sum, 2) AS estimate,
       round(outlier_sum + (rest_sum - ({margin})), 2) AS ci_lower,
       round(outlier_sum + (rest_sum + ({margin})), 2) AS ci_upper,
       n AS n_samples,
       n_outliers,
       round(outlier_sum, 2) AS outlier_sum
FROM m ORDER BY g
"""
