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

GROUP BY: a grouped query runs the same estimator within each group —
each group keeps its own top-``B`` values exactly and samples its
remainder. A global query is the call with no ``group_by``.

Plan shape at scale: a global threshold is a TakeOrdered(B)
(distributed heap, B rows to the driver) collected into a literal; a
grouped one is a ``row_number`` window over the slim (group, value)
projection, whose |groups|-row result broadcast-joins back null-safely
(a NULL group keeps its threshold). Then ONE conditional aggregate
computes the exact outlier stratum AND the sampled remainder's HT
moments in the same pass — two scans total and O(B) driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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
    group_by: str | None = None,
) -> DataFrame:
    """(estimate, ci_lower, ci_upper, n_samples, n_outliers,
    outlier_sum) for SUM(column) = exact outlier stratum + HT-estimated
    remainder: one row, or one row per ``group_by`` value led by that
    column. The CI reflects only the sampled part's uncertainty (the
    outlier stratum is exact). ``column`` and ``key`` are Spark SQL
    text; the plan is built from text (one parse call per step, not a
    py4j round trip per Column node)."""
    x = f"CAST(({column}) AS DOUBLE)"
    base = df.filter(f"{x} IS NOT NULL")
    if group_by:
        thr = (
            base.selectExpr(f"{group_by} AS __og", f"{x} AS __ox")
            .withColumn("__orn", F.row_number().over(
                Window.partitionBy("__og").orderBy(F.desc("__ox"))
            ))
            .filter(F.col("__orn") <= F.lit(n_outliers))
            .groupBy("__og")
            .agg(F.min("__ox").alias("__ot"))
        )
        base = base.join(F.broadcast(thr), F.col(group_by).eqNullSafe(F.col("__og")))
        t = "__ot"
    else:
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
    # One SQL text (GROUP BY ALL is a global aggregate when no key is
    # selected): a Column tree would cost a py4j round trip per node.
    cols = f"`{group_by}`, " if group_by else ""
    moments = ", ".join(_moments_sql(x, t, key, fraction, salt))
    text = (
        f"SELECT {cols}{', '.join(_estimate_sql(z))} "
        f"FROM (SELECT {cols}{moments} FROM __base GROUP BY ALL)"
    )
    text = text.replace("{", "{{").replace("}", "}}").replace("__base", "{base}")
    return df.sparkSession.sql(text, base=base)


def outlier_sum_ci_sql(
    table: str,
    column: str,
    key: str,
    fraction: float,
    n_outliers: int = N_OUTLIERS,
    z: float = Z_95,
    group_by: str | None = None,
) -> str:
    """DuckDB oracle: re-derives the threshold (per group when grouped),
    then the same single conditional aggregate — outlier stratum + HT
    moments + the integer-margin convention of
    ``moments_sql``/``_ci_columns``."""
    spec = SamplingSpec(design="uniform_hash", fraction=fraction, key=key)
    gs = ["g"] if group_by else []
    g_cols = "".join(f"{g}, " for g in gs)
    x = f"CAST({column} AS DOUBLE)"
    p = float(fraction)
    rest = "(NOT (s.x > thr.t)) AND s.ins"
    margin = f"{z!r} * sqrt(greatest(vht, 0.0))"
    margin = f"CASE WHEN n >= 2 THEN {margin} ELSE 0.0 END"
    margin = (
        f"CASE WHEN ({margin}) > 0 THEN greatest(round({margin}, 0), 1.0) "
        f"ELSE 0.0 END"
    )
    return f"""
WITH s AS (
  SELECT {"".join(f"{group_by} AS {g}, " for g in gs)}{x} AS x,
         ({sampling_where_sql(spec)}) AS ins
  FROM {table} WHERE {x} IS NOT NULL
),
thr AS (
  SELECT {g_cols}min(x) AS t FROM (
    SELECT {g_cols}x,
           row_number() OVER ({"".join(f"PARTITION BY {g} " for g in gs)}ORDER BY x DESC) AS rn
    FROM s
  ) WHERE rn <= {n_outliers} GROUP BY ALL
),
m AS (
  SELECT {"".join(f"s.{g} AS {g}, " for g in gs)}coalesce(sum(CASE WHEN s.x > thr.t THEN s.x END), 0.0)
             AS outlier_sum,
         CAST(sum(CASE WHEN s.x > thr.t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
         CAST(sum(CASE WHEN {rest} THEN 1 ELSE 0 END) AS BIGINT) AS n,
         coalesce(sum(CASE WHEN {rest} THEN s.x / {p!r} END), 0.0) AS rest_sum,
         sum(CASE WHEN {rest} THEN s.x * s.x * {(1.0 - p) / (p * p)!r} END)
             AS vht
  FROM s JOIN thr ON {" AND ".join(f"s.{g} IS NOT DISTINCT FROM thr.{g}" for g in gs) or "TRUE"}
  GROUP BY ALL
)
SELECT {"".join(f"{g} AS {group_by}, " for g in gs)}round(outlier_sum + rest_sum, 2) AS estimate,
       round(outlier_sum + (rest_sum - ({margin})), 2) AS ci_lower,
       round(outlier_sum + (rest_sum + ({margin})), 2) AS ci_upper,
       n AS n_samples,
       n_outliers,
       round(outlier_sum, 2) AS outlier_sum
FROM m
"""
