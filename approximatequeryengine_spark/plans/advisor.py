"""Data-driven sampling-method advisor — the BlinkDB error-latency-
profile idea (EuroSys'13 §5) applied to this engine's method registry.

The reference's method auto-selection (F3, `enhanced_aqe_cli.py:
116-131`, mirrored in `frontend/dialect.py::select_method`) looks only
at the ROW COUNT. But the right estimator depends on the VALUE
distribution: a heavy-tailed column wants the outlier-index or PPS
design (the top handful of rows carry the variance), a well-behaved one
wants plain CLT escalation. This module profiles a column in one
bounded pass and recommends from measured statistics:

- ``cv2``      — squared coefficient of variation, from exact integer
                 second moments about the integer center (the A10/A11
                 convention — no float-fold summation; DECIMAL(38,0)
                 sums, since Σ(x−c)² outgrows BIGINT at sf0.1);
- ``top_share``— fraction of total mass in the top-B values
                 (TakeOrdered(B) + integer sums): the direct measure of
                 tail concentration, the same quantity the
                 outlier-index estimator (`plans/outlier.py`) exploits;
- ``pred_rel_ci_uniform10`` — the CLT-predicted relative 95% CI
                 half-width of a 10% uniform sample, z·cv/√(0.1·n):
                 what the user would GET from the default method, so
                 the recommendation is an error-latency trade made
                 explicit, not a black box.

Decision rule (deterministic, documented, test-pinned):

    top_share > 0.20           → 'outlier'   (tail mass ⇒ index the tail)
    cv2 > 4                    → 'pps'       (weight-proportional draws)
    n > 100_000                → 'revolutionary' (stride scan, F3 parity)
    otherwise                  → 'clt'

Scale shape: one full-scan aggregate (n, Σx, Σx²) and one
TakeOrdered(B) — both map-side combined; nothing
proportional to N leaves the executors. The DuckDB oracle re-derives
every statistic and the rule itself, so the driver row certifies the
RECOMMENDATION, not just the numbers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.session import local_frame

Z_95 = 1.959963984540054
TOP_B = 100
TOP_SHARE_THRESHOLD = 0.20
CV2_THRESHOLD = 4.0
BIG_N_THRESHOLD = 100_000

# Quantile-family thresholds (calibrated by the certified
# sketch_quantile_bakeoff / sampling_design_bakeoff entries — the
# measured evidence behind each branch):
QUANTILE_EXACT_N = 200_000  # below this, percentile()'s sort buffer is cheap
QUANTILE_REL_TOLERANCE = 0.01  # matches the DDSketch α guarantee
QUANTILE_SAMPLE_FRACTION = 0.10


def advise_method_evidence(
    df: DataFrame, value_cents: "F.Column", b: int = TOP_B
) -> dict:
    """The advisor's evidence for a positive integer-cents measure
    Column as a dict: ``n, cv2, top_share, pred_rel_ci_uniform10,
    recommended_method``.

    Two Spark queries: one aggregate for n, Σx and Σx² — as
    DECIMAL(38,0), so no sum overflows — and one TakeOrdered(B). The
    centered second moment Σ(x−c)² = Σx² − 2cΣx + nc² is then the same
    integer, derived with Python ints: at sf0.1 it already reaches
    3.1e19 on ``o_totalprice``, past BIGINT."""
    base = df.select(value_cents.cast("long").alias("x")).filter(
        F.col("x").isNotNull()
    )
    xd = F.col("x").cast("decimal(38,0)")
    n, sx, sxx = base.agg(
        F.count(F.lit(1)).cast("long"), F.sum(xd), F.sum(xd * xd)
    ).collect()[0]
    if not n:
        raise ValueError("advise_method: no non-null values")
    sx, sxx = int(sx), int(sxx)
    c = (2 * sx + n) // (2 * n)
    m2c = sxx - 2 * c * sx + n * c * c
    topsum = sum(r["x"] for r in base.orderBy(F.desc("x")).limit(b).collect())
    d = (sx - n * c) / n
    var = (m2c - n * d * d) / (n - 1) if n >= 2 else 0.0
    mean = sx / n
    cv2 = round(var / (mean * mean), 4) if mean else float("inf")
    top_share = round(topsum / sx, 4) if sx else 0.0
    pred = round(Z_95 * (cv2 ** 0.5) / ((0.1 * n) ** 0.5), 4)
    if top_share > TOP_SHARE_THRESHOLD:
        method = "outlier"
    elif cv2 > CV2_THRESHOLD:
        method = "pps"
    elif n > BIG_N_THRESHOLD:
        method = "revolutionary"
    else:
        method = "clt"
    return {
        "n": int(n),
        "cv2": float(cv2),
        "top_share": float(top_share),
        "pred_rel_ci_uniform10": float(pred),
        "recommended_method": method,
    }


def advise_method(df: DataFrame, value_cents: "F.Column", b: int = TOP_B) -> DataFrame:
    """One-row readout
    (n, cv2, top_share, pred_rel_ci_uniform10, recommended_method)
    for a positive integer-cents measure Column — the DataFrame
    rendering of :func:`advise_method_evidence`."""
    ev = advise_method_evidence(df, value_cents, b)
    return local_frame(
        df.sparkSession,
        [tuple(ev.values())],
        "n long, cv2 double, top_share double, pred_rel_ci_uniform10 double, "
        "recommended_method string",
    )


def advise_quantile_evidence(
    df: DataFrame,
    column: str,
    q: float,
    spec,
    tolerance: float = QUANTILE_REL_TOLERANCE,
    n_exact: int = QUANTILE_EXACT_N,
    dd_alpha: float = 0.01,
    z: float = Z_95,
) -> tuple[dict, DataFrame | None, object | None]:
    """Quantile-family advisor — the bakeoff evidence
    (``sketch_quantile_bakeoff``: exact vs DDSketch vs sampled order
    statistic on the same target) turned into a per-query rule.
    Returns ``(evidence_dict, sampled_ci_frame, sampled_ci_row)`` —
    frame AND collected row of the 1-row ``approx_quantile_ci``
    result the evidence was measured from (both None when the pass
    was short-circuited), handed back so a caller choosing 'quantile'
    can REUSE the measurement instead of re-running the identical
    sampled job.

    Measured evidence:

    - ``n``             — non-null row count (measured FIRST; a small
      table short-circuits to 'exact' without paying the sampled pass,
      which also cannot then crash on an empty tiny-table sample);
    - ``sample_rel_ci`` — the REALIZED relative half-width of the
      distribution-free order-statistic CI at ``spec.fraction``
      (None when the pass was short-circuited);
    - ``positive_only`` — whether every value is > 0 (same aggregate
      pass as n): DDSketch's domain — it must never be recommended for
      data with zeros/negatives, where the sketch would silently
      answer over the positive subset only;
    - ``dd_alpha``      — DDSketch's a-priori relative-error bound.

    Rule (deterministic, test-pinned):

        n <= n_exact               → 'exact'    (full percentile is cheap)
        sample_rel_ci <= tolerance → 'quantile' (sampled scan suffices —
                                      reads fraction·n rows, cheapest)
        positive_only              → 'ddsketch' (full scan, α guarantee,
                                      domain verified)
        otherwise                  → 'exact'    (full-data order
                                      statistic — the only member
                                      correct at any sign; cost
                                      documented in SCALING.md)

    Scale shape: one (count, min) aggregate + at most one sampled
    order-statistic pass — the BlinkDB-style profiling cost paid once
    per (table, column), amortized across queries.
    """
    from approximatequeryengine_spark.plans.quantiles import approx_quantile_ci

    base = df.filter(F.col(column).isNotNull())
    n, mn = base.agg(
        F.count(F.lit(1)).cast("long"), F.min(F.col(column).cast("double"))
    ).collect()[0]
    if not n:
        raise ValueError("advise_quantile_method: no non-null values")
    positive_only = bool(mn is not None and float(mn) > 0.0)
    rel: float | None = None
    ci_df: DataFrame | None = None
    r = None
    if n <= n_exact:
        method = "exact"
    else:
        ci_df = approx_quantile_ci(base, column, q, spec, z=z)
        r = ci_df.collect()[0]
        est = r[f"{column}_q"]
        rel = (
            (float(r["ci_upper"]) - float(r["ci_lower"])) / 2.0 / abs(float(est))
            if est
            else float("inf")
        )
        if rel <= tolerance:
            method = "quantile"
        elif positive_only:
            method = "ddsketch"
        else:
            method = "exact"
    evidence = {
        "n": int(n),
        "q": float(q),
        "fraction": float(spec.fraction or 0.0),
        "sample_rel_ci": round(rel, 6) if rel is not None else None,
        "positive_only": positive_only,
        "dd_alpha": float(dd_alpha),
        "tolerance": float(tolerance),
        "recommended_method": method,
    }
    return evidence, ci_df, r


def advise_quantile_method(
    df: DataFrame,
    column: str,
    q: float,
    spec,
    tolerance: float = QUANTILE_REL_TOLERANCE,
    n_exact: int = QUANTILE_EXACT_N,
    dd_alpha: float = 0.01,
) -> DataFrame:
    """1-row DataFrame rendering of :func:`advise_quantile_evidence`
    (the public profiling surface, mirroring :func:`advise_method`)."""
    ev, _, _ = advise_quantile_evidence(
        df, column, q, spec, tolerance=tolerance, n_exact=n_exact,
        dd_alpha=dd_alpha,
    )
    return local_frame(
        df.sparkSession,
        [
            (
                ev["n"],
                ev["q"],
                ev["fraction"],
                ev["sample_rel_ci"],
                ev["positive_only"],
                ev["dd_alpha"],
                ev["tolerance"],
                ev["recommended_method"],
            )
        ],
        "n long, q double, fraction double, sample_rel_ci double, "
        "positive_only boolean, dd_alpha double, tolerance double, "
        "recommended_method string",
    )


def advise_method_sql(table: str, value_cents_sql: str, b: int = TOP_B) -> str:
    """DuckDB oracle — identical statistics and the identical rule."""
    return f"""
WITH base AS (
  SELECT CAST({value_cents_sql} AS BIGINT) AS x FROM {table}
  WHERE {value_cents_sql} IS NOT NULL
),
a1 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM base),
a1c AS (SELECT n, sx, (2 * sx + n) // (2 * n) AS c FROM a1),
m2 AS (
  -- HUGEINT: the centered sum of squares outgrows BIGINT at sf0.1
  SELECT sum(CAST(b.x - a.c AS HUGEINT) * (b.x - a.c)) AS m2c
  FROM base b, a1c a
),
tp AS (SELECT CAST(sum(x) AS BIGINT) AS topsum
       FROM (SELECT x FROM base ORDER BY x DESC LIMIT {b})),
st AS (
  SELECT a.n, a.sx,
         round((CAST(m2.m2c AS DOUBLE)
                - a.n * (CAST(a.sx - a.n * a.c AS DOUBLE) / a.n)
                      * (CAST(a.sx - a.n * a.c AS DOUBLE) / a.n))
               / (a.n - 1)
               / ((CAST(a.sx AS DOUBLE) / a.n) * (CAST(a.sx AS DOUBLE) / a.n)),
               4) AS cv2,
         round(CAST(tp.topsum AS DOUBLE) / a.sx, 4) AS top_share
  FROM a1c a, m2, tp
)
SELECT n, cv2, top_share,
       round({Z_95!r} * sqrt(greatest(cv2, 0.0)) / sqrt(0.1 * n), 4)
         AS pred_rel_ci_uniform10,
       CASE WHEN top_share > {TOP_SHARE_THRESHOLD!r} THEN 'outlier'
            WHEN cv2 > {CV2_THRESHOLD!r} THEN 'pps'
            WHEN n > {BIG_N_THRESHOLD} THEN 'revolutionary'
            ELSE 'clt' END AS recommended_method
FROM st
"""
