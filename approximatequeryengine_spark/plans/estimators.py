"""Estimator layer: one single-pass aggregate job with closed-form CIs.

The reference computes ``COUNT(x), SUM(x), SUM(x*x)`` in one query and
derives mean, variance ``(Σx² − (Σx)²/n)/(n−1)``, ``se = √(var/n)`` and
``margin = z·se`` (``executor.cpp:130-200`` global, ``202-321``
grouped). We build the same moments as Spark aggregate *expressions* —
map-side partial aggregation gives the parallel combine the reference
hand-rolled with atomics (``custom_bplus_db.cpp:2032-2035``) for free —
and derive:

- ``AVG``:   sample mean, unscaled (``executor.cpp:50-53``); CI ±z·se.
- ``SUM``:   Horvitz-Thompson ``Σ(x/p)``; CI ``± z·√(Σ x²(1−p)/p²)`` —
  the exact HT variance estimator for independent per-row inclusion
  (Poisson/Bernoulli designs). The reference's ``N̂·z·s/√n`` conditions
  on a fixed sample size and ignores the variance of n itself, which
  makes it anti-conservative: measured coverage ≈64% instead of 95%
  (tests/test_statistical.py). Deliberate deviation, documented as
  quirk Q8 in SURVEY.md §4.4; the point estimate still fixes Q4
  (scaled sum, not scaled mean).
- ``COUNT``: ``Σ(1/p)``; CI from the same HT variance with x≡1:
  ``√(n(1−p))/p`` (the reference had no principled COUNT CI — quirk Q3).

GROUP BY runs as ONE ``groupBy().agg()`` job with per-group moments and
the per-group ``n<2`` fallback (``executor.cpp:255-277``) — replacing
the reference's 1 + |groups| full scans (§3.3) with a single shuffle.
At 100 TB this is the difference between one pass and thousands.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.sampling import P_COL, sql_double

Z_95 = 1.959963984540054  # two-sided 95% normal quantile


def cents_col(col: Column) -> Column:
    """The repo-wide integer cents grid: floor(x·100 + 0.5), i.e.
    round-half-up — the ONE rounding rule every estimator and every
    DuckDB oracle must share (the SQL spelling is
    ``floor(CAST(x AS DOUBLE) * 100.0 + 0.5)``). Centralized so the
    grid cannot drift per-module; cross-engine CI parity depends on
    both engines snapping measures to the identical integers."""
    return F.floor(col.cast("double") * 100.0 + 0.5).cast("long")


def cents_sql(expr: str) -> str:
    """SQL twin of :func:`cents_col`."""
    return f"CAST(floor(CAST({expr} AS DOUBLE) * 100.0 + 0.5) AS BIGINT)"


def finite_col(col: Column) -> Column:
    """Telemetry hygiene, one copy: a non-finite measurement (NaN/±Inf
    — sensor glitches, div-by-zero upstream) is NO measurement and maps
    to NULL before any grid conversion. Without the gate, the integer
    cents cast raises in BOTH engines (Spark ANSI ARITHMETIC_OVERFLOW,
    DuckDB ConversionException) — one bad row kills a 100 TB job."""
    d = col.cast("double")  # isnan raises on non-floating inputs
    return F.when(~F.isnan(d) & (F.abs(d) != F.lit(float("inf"))), col)


def finite_sql(expr: str) -> str:
    """SQL twin of :func:`finite_col`. Spelled with isnan + an Infinity
    comparison (NOT DuckDB's isfinite) so the same text parses in Spark
    SQL too when an oracle string is shared."""
    return (
        f"(CASE WHEN NOT isnan(CAST({expr} AS DOUBLE)) "
        f"AND abs(CAST({expr} AS DOUBLE)) <> CAST('Infinity' AS DOUBLE) "
        f"THEN {expr} END)"
    )


D0 = sql_double(0.0)
D1 = sql_double(1.0)


def _gated_margin_sql(n: str, margin: str, integer: bool = True) -> str:
    """``_ci_columns``' margin chain as Spark SQL: 0 for n < 2, and for
    SUM/COUNT rounded to a whole unit with a floor of 1 when positive."""
    m = f"(CASE WHEN {n} >= 2 THEN {margin} ELSE {D0} END)"
    if integer:
        m = f"(CASE WHEN {m} > 0 THEN greatest(round({m}, 0), {D1}) ELSE {D0} END)"
    return m


def ht_integer_margin_sql(n: str, vht: str, z: float = Z_95) -> str:
    """The engine's SUM-margin convention as one shared Spark SQL
    expression over the SQL texts ``n`` and ``vht``: ``z·√vht`` in the
    OUTPUT's units, gated to 0 for n < 2, and rounded to a whole unit
    with a floor of 1 when positive (see ``_ci_columns`` for the
    boundary-noise rationale). Used by every cents-grid HT estimator
    (AQP++, Sample+Seek, wander join, two-stage, outlier index) so the
    ritual cannot drift per copy — each caller's DuckDB oracle renders
    the identical CASE/round/greatest chain on its own."""
    return _gated_margin_sql(n, f"({sql_double(z)} * sqrt(greatest({vht}, {D0})))")


def ht_integer_margin(n: str, vht: str, z: float = Z_95) -> Column:
    """:func:`ht_integer_margin_sql` as a Column."""
    return F.expr(ht_integer_margin_sql(n, vht, z))


@dataclass
class AggSpec:
    func: str  # sum | avg | count | min | max
    column: str | None = None  # None → count(*)
    alias: str | None = None

    def name(self) -> str:
        if self.alias:
            return self.alias
        col = self.column or "star"
        return f"{self.func}_{col}"


def _ci_columns(
    est: Column,
    margin: Column,
    n: Column,
    name: str,
    min_n: int = 2,
    integer_margin: bool = True,
) -> list[Column]:
    """est / ci_lower / ci_upper with the reference's n<2 fallback: too
    few sampled rows → CI collapses to the point estimate
    (``executor.cpp:255-277``).

    For SUM/COUNT the margin is rounded to an INTEGER before forming
    the bounds (both engines, see ``moments_sql``): ``z·sd`` carries
    engine-dependent float-summation noise (~1e-4 absolute at sf0.1),
    and ``est − z·sd`` is not on any decimal grid, so rounding the
    *bound* to k decimals lands within noise of an x.5 boundary with
    probability ~noise/10⁻ᵏ — a real oracle mismatch observed at sf0.1.
    An integer margin keeps the bounds on est's decimal grid
    (boundary-safe) and widens/narrows the CI by <1 unit against
    margins of ~10⁶⁺. AVG margins are O(0.01–1), where an integer
    floor would force every CI to at least ±1 (10×+ wider than z·se)
    and make different z levels indistinguishable — and an AVG
    estimate is a *quotient*, never on a decimal grid, so bound
    rounding is boundary-safe without any margin rounding (the same
    argument ``ratio_estimate_ci`` documents). Callers pass
    ``integer_margin=False`` for AVG-class measures."""
    ok = n >= F.lit(min_n)
    margin = F.when(ok, margin).otherwise(F.lit(0.0))
    if integer_margin:
        # Floor at 1 so a sub-0.5 margin can't round to a collapsed CI.
        margin = F.when(
            margin > 0, F.greatest(F.round(margin, 0), F.lit(1.0))
        ).otherwise(F.lit(0.0))
    return [
        est.alias(name),
        (est - margin).alias("ci_lower"),
        (est + margin).alias("ci_upper"),
    ]


def _sql_approx_aggregate(
    sampled: DataFrame,
    agg: AggSpec,
    group_by: list[str],
    z: float,
    with_ci: bool,
    mask: str | None = None,
) -> DataFrame:
    """The sum/avg/count estimator — HT moments, estimate and margin —
    rendered as Spark SQL text. Built as Column trees it cost ~200 py4j
    round trips per query build (measured ~0.15-0.25 s of driver wall
    per approximate entry); as text it is ~15. Every constant is
    written ``CAST(v AS DOUBLE)`` (``F.lit(float)`` typing), so no
    decimal-literal typing can creep in. With ``mask``, every moment's
    argument is wrapped in ``CASE WHEN mask THEN … END``."""

    def m(e: str) -> str:
        return f"(CASE WHEN {mask} THEN {e} END)" if mask else e

    x = f"CAST(({agg.column}) AS DOUBLE)" if agg.column else D1
    p = P_COL
    moments = [
        f"COUNT({m(x)}) AS __n",
        f"SUM({m(x)}) AS __s1",
        f"SUM({m(f'{x} * {x}')}) AS __s2",
        f"SUM({m(f'{x} * ({D1} / {p})')}) AS __ht_sum",
        f"SUM({m(f'{D1} / {p}')}) AS __ht_n",
        f"SUM({m(f'(({x} * {x}) * ({D1} - {p})) / ({p} * {p})')}) AS __vht",
        f"AVG({m(p)}) AS __p_avg",
    ]
    mo = sampled.groupBy(*group_by).agg(*[F.expr(e) for e in moments])

    var = (
        "CASE WHEN __n >= 2 THEN greatest((__s2 - __s1 * __s1 / __n) "
        f"/ (__n - {D1}), {D0}) ELSE {D0} END"
    )
    zs = sql_double(z)
    func = agg.func.lower()
    if func == "avg":
        est = "(__ht_sum / __ht_n)"
        margin = f"({zs} * sqrt(({var}) / __n))"
    elif func == "sum":
        est = "__ht_sum"
        margin = f"({zs} * sqrt(greatest(__vht, {D0})))"
    else:  # count
        est = "__ht_n"
        margin = f"(({zs} * sqrt(__n * ({D1} - __p_avg))) / __p_avg)"
    # n<2 gate + integer margin for SUM/COUNT — _ci_columns' exact chain.
    margin = _gated_margin_sql("__n", margin, integer=func != "avg")
    sel = list(group_by)
    if with_ci:
        sel += [
            f"{est} AS `{agg.name()}`",
            f"({est} - {margin}) AS ci_lower",
            f"({est} + {margin}) AS ci_upper",
        ]
    else:
        sel.append(f"{est} AS `{agg.name()}`")
    sel.append("CAST(__n AS BIGINT) AS n_samples")
    return mo.selectExpr(*sel)


def approx_aggregate(
    sampled: DataFrame,
    agg: AggSpec,
    group_by: list[str] | None = None,
    z: float = Z_95,
    with_ci: bool = True,
    mask: str | None = None,
) -> DataFrame:
    """Aggregate a sampled DataFrame (must carry ``__p`` from
    ``apply_sampling``) into estimates with confidence intervals.

    Output columns: ``[*group_by, <alias>, ci_lower, ci_upper,
    n_samples]`` (CI columns only when ``with_ci``).

    ``mask``: when given, ``sampled`` is the UNSAMPLED frame (plus
    ``__p``) and the boolean SQL predicate selects the in-sample rows
    — every moment wraps its argument in ``CASE WHEN mask`` (NULLs are
    skipped by all aggregate functions, so values match the filtered
    path exactly), while grouping still sees EVERY group in the data.
    Groups the sample missed surface with ``n_samples = 0`` instead of
    silently vanishing — the grouped adaptive loop's stop rule relies
    on this to fold its missed-group guard into the rung job itself.
    """
    group_by = group_by or []
    if agg.func.lower() in ("sum", "avg", "count"):
        return _sql_approx_aggregate(sampled, agg, group_by, z, with_ci, mask)
    func = agg.func.lower()
    if func not in ("min", "max"):
        raise ValueError(f"unsupported aggregate {agg.func!r}")
    # A sampled extremum is biased toward the interior; no CLT CI exists
    # for it. Over the FULL data (design 'none', every __p == 1) the
    # value is exact → zero-width CI is honest; over a real sample emit
    # NULL bounds instead of false certainty (mirrors
    # approx_multi_aggregate's rejection).
    # F.expr: the measure may be an expression (e.g. price * discount),
    # not just a column name.
    x = F.expr(agg.column).cast("double") if agg.column else F.lit(1.0)
    p = F.col(P_COL)
    if mask is not None:
        in_sample = F.expr(mask)
        x = F.when(in_sample, x)
        p = F.when(in_sample, p)
    extremum = F.min(x) if func == "min" else F.max(x)
    m = sampled.groupBy(*[F.col(c) for c in group_by]).agg(
        F.count(x).alias("__n"), F.min(p).alias("__p_min"), extremum.alias("__ext")
    )
    est = F.col("__ext")
    exact = F.col("__p_min") >= F.lit(1.0)
    cols: list[Column] = [F.col(c) for c in group_by]
    if with_ci:
        cols += [
            est.alias(agg.name()),
            F.when(exact, est).otherwise(F.lit(None)).alias("ci_lower"),
            F.when(exact, est).otherwise(F.lit(None)).alias("ci_upper"),
        ]
    else:
        cols.append(est.alias(agg.name()))
    cols.append(F.col("__n").cast("long").alias("n_samples"))
    return m.select(*cols)


def moments_sql(
    table: str,
    column: str,
    where: str,
    agg: str,
    p_sql: str,
    alias: str,
    group_by: str | None = None,
    z: float = Z_95,
    with_ci: bool = True,
    round_to: int | None = None,
) -> str:
    """DuckDB oracle SQL computing the *same* estimate + CI formulas over
    the same deterministic sample (``sampling_where_sql``). ``p_sql`` is
    the per-row inclusion probability expression
    (``sampling_p_sql``) — mirrors the ``__p`` column on the Spark side.
    """
    x = f"CAST({column} AS DOUBLE)"
    base = (
        f"SELECT {group_by + ', ' if group_by else ''}"
        f"COUNT({x}) AS n, SUM({x}) AS s1, SUM({x}*{x}) AS s2, "
        f"SUM({x} / {p_sql}) AS htsum, SUM(1.0 / {p_sql}) AS htn, "
        f"SUM({x}*{x} * (1.0 - {p_sql}) / ({p_sql} * {p_sql})) AS vht, "
        f"AVG({p_sql}) AS pavg "
        f"FROM {table} WHERE {where}"
        f"{' GROUP BY ' + group_by if group_by else ''}"
    )
    var = f"CASE WHEN n >= 2 THEN greatest((s2 - s1*s1/n) / (n - 1.0), 0.0) ELSE 0.0 END"
    se = f"sqrt(({var}) / n)"
    a = agg.lower()
    if a == "avg":
        est = "htsum / htn"
        margin = f"{z} * {se}"
    elif a == "sum":
        est = "htsum"
        margin = f"{z} * sqrt(greatest(vht, 0.0))"
    elif a == "count":
        est = "htn"
        margin = f"{z} * sqrt(n * (1.0 - pavg)) / pavg"
    else:
        raise ValueError(f"unsupported oracle aggregate {agg!r}")
    # Integer margin for SUM/COUNT; AVG margins stay unrounded — see
    # _ci_columns for the boundary-noise rationale.
    margin = f"CASE WHEN n >= 2 THEN {margin} ELSE 0.0 END"
    if a != "avg":
        margin = f"CASE WHEN ({margin}) > 0 THEN greatest(round({margin}, 0), 1.0) ELSE 0.0 END"

    def r(expr: str) -> str:
        return f"round({expr}, {round_to})" if round_to is not None else expr

    sel = [f"{r(est)} AS {alias}"]
    if with_ci:
        sel += [
            f"{r(f'({est}) - ({margin})')} AS ci_lower",
            f"{r(f'({est}) + ({margin})')} AS ci_upper",
        ]
    sel.append("CAST(n AS BIGINT) AS n_samples")
    head = f"{group_by + ', ' if group_by else ''}{', '.join(sel)}"
    return f"SELECT {head} FROM ({base}) __m"


def ratio_estimate_ci(
    sampled: DataFrame,
    numerator: str,
    denominator: str,
    group_by: list[str] | None = None,
    z: float = Z_95,
    round_to: int = 6,
) -> DataFrame:
    """Ratio estimation R = Σa/Σb from one sampled pass, with the
    delta-method CI — the estimator for "rates" (revenue per unit,
    discount rate, average order size) that neither AVG (single column)
    nor SUM (no ratio) covers.

    Under per-row inclusion with probability p, R̂ = Σ(a/p)/Σ(b/p) and

        Var(R̂) ≈ (Var_a + R̂²·Var_b − 2·R̂·Cov_ab) / (Σb/p)²

    with the HT moments Var_a = Σa²(1−p)/p², Var_b = Σb²(1−p)/p²,
    Cov_ab = Σab(1−p)/p² — all computed in the same single aggregate.
    The CI margin is NOT integer-rounded (ratios are O(1)); a ratio is
    never on a decimal grid, so bound rounding is boundary-safe as-is.
    """
    group_by = group_by or []
    a = F.col(numerator).cast("double")
    b = F.col(denominator).cast("double")
    p = F.col(P_COL)
    inv2 = (F.lit(1.0) - p) / (p * p)
    m = sampled.groupBy(*[F.col(c) for c in group_by]).agg(
        F.sum(a / p).alias("__ha"),
        F.sum(b / p).alias("__hb"),
        F.sum(a * a * inv2).alias("__va"),
        F.sum(b * b * inv2).alias("__vb"),
        F.sum(a * b * inv2).alias("__cab"),
        F.count(F.lit(1)).alias("__n"),
    )
    r = F.col("__ha") / F.col("__hb")
    var = (
        F.col("__va") + r * r * F.col("__vb") - F.lit(2.0) * r * F.col("__cab")
    ) / (F.col("__hb") * F.col("__hb"))
    margin = F.when(
        F.col("__n") >= 2, F.lit(z) * F.sqrt(F.greatest(var, F.lit(0.0)))
    ).otherwise(F.lit(0.0))
    cols = [F.col(c) for c in group_by]
    cols += [
        F.round(r, round_to).alias("ratio_est"),
        F.round(r - margin, round_to).alias("ci_lower"),
        F.round(r + margin, round_to).alias("ci_upper"),
        F.col("__n").cast("long").alias("n_samples"),
    ]
    out = m.select(*cols)
    return out.orderBy(*group_by) if group_by else out


def ratio_estimate_ci_sql(
    table: str,
    numerator: str,
    denominator: str,
    where: str,
    p_sql: str,
    group_by: str | None = None,
    z: float = Z_95,
    round_to: int = 6,
) -> str:
    """DuckDB oracle for ``ratio_estimate_ci`` (same moments, same
    delta-method arithmetic)."""
    a = f"CAST({numerator} AS DOUBLE)"
    b = f"CAST({denominator} AS DOUBLE)"
    inv2 = f"((1.0 - {p_sql}) / ({p_sql} * {p_sql}))"
    g_sel = f"{group_by}, " if group_by else ""
    base = (
        f"SELECT {g_sel}"
        f"SUM({a} / {p_sql}) AS ha, SUM({b} / {p_sql}) AS hb, "
        f"SUM({a}*{a}*{inv2}) AS va, SUM({b}*{b}*{inv2}) AS vb, "
        f"SUM({a}*{b}*{inv2}) AS cab, COUNT(*) AS n "
        f"FROM {table} WHERE {where}"
        f"{' GROUP BY ' + group_by if group_by else ''}"
    )
    r = "(ha / hb)"
    var = f"((va + {r}*{r}*vb - 2.0*{r}*cab) / (hb * hb))"
    margin = f"CASE WHEN n >= 2 THEN {z!r} * sqrt(greatest({var}, 0.0)) ELSE 0.0 END"
    head = (
        f"{g_sel}"
        f"round({r}, {round_to}) AS ratio_est, "
        f"round({r} - ({margin}), {round_to}) AS ci_lower, "
        f"round({r} + ({margin}), {round_to}) AS ci_upper, "
        "CAST(n AS BIGINT) AS n_samples"
    )
    tail = f" ORDER BY {group_by}" if group_by else ""
    return f"SELECT {head} FROM ({base}) __m{tail}"


def approx_multi_aggregate(
    sampled: DataFrame,
    aggs: list[AggSpec],
    group_by: list[str] | None = None,
    z: float = Z_95,
) -> DataFrame:
    """Several estimates + CIs from ONE sampled pass — the whole
    TPC-H-Q1-style aggregate block at sample cost. Each measure gets its
    own HT moments inside the same HashAggregate (map-side combined
    once); output columns per measure m: ``m, m_lo, m_hi``.

    Supports sum/avg/count measures (the CI-bearing kinds); min/max are
    order statistics a sample can't bound and are rejected."""
    group_by = group_by or []
    p = F.col(P_COL)
    moments: list = [F.count(F.lit(1)).alias("__n")]
    for i, a in enumerate(aggs):
        if a.func.lower() not in ("sum", "avg", "count"):
            raise ValueError(f"unsupported multi-aggregate {a.func!r}")
        x = F.expr(a.column).cast("double") if a.column else F.lit(1.0)
        moments += [
            F.sum(x).alias(f"__s1_{i}"),
            F.sum(x * x).alias(f"__s2_{i}"),
            F.sum(x / p).alias(f"__ht_{i}"),
            F.sum(F.lit(1.0) / p).alias(f"__htn_{i}"),
            F.sum(x * x * (F.lit(1.0) - p) / (p * p)).alias(f"__vht_{i}"),
            F.avg(p).alias(f"__pavg_{i}"),
        ]
    m = sampled.groupBy(*[F.col(c) for c in group_by]).agg(*moments)
    n = F.col("__n")
    cols: list = [F.col(c) for c in group_by]
    for i, a in enumerate(aggs):
        s1, s2 = F.col(f"__s1_{i}"), F.col(f"__s2_{i}")
        var = F.when(n >= 2, (s2 - s1 * s1 / n) / (n - F.lit(1.0))).otherwise(F.lit(0.0))
        var = F.greatest(var, F.lit(0.0))
        f = a.func.lower()
        if f == "avg":
            est = F.col(f"__ht_{i}") / F.col(f"__htn_{i}")
            margin = F.lit(z) * F.sqrt(var / n)
        elif f == "sum":
            est = F.col(f"__ht_{i}")
            margin = F.lit(z) * F.sqrt(F.greatest(F.col(f"__vht_{i}"), F.lit(0.0)))
        else:  # count
            est = F.col(f"__htn_{i}")
            pb = F.col(f"__pavg_{i}")
            margin = F.lit(z) * F.sqrt(n * (F.lit(1.0) - pb)) / pb
        cols += _ci_columns(est, margin, n, a.name(), integer_margin=f != "avg")
        # _ci_columns names bounds ci_lower/ci_upper; rename per-measure.
        lo, hi = cols[-2], cols[-1]
        cols[-2] = lo.alias(f"{a.name()}_lo")
        cols[-1] = hi.alias(f"{a.name()}_hi")
    cols.append(n.cast("long").alias("n_samples"))
    out = m.select(*cols)
    return out.orderBy(*group_by) if group_by else out


def multi_moments_sql(
    table: str,
    aggs: list[AggSpec],
    where: str,
    p_sql: str,
    group_by: str | None = None,
    z: float = Z_95,
    round_spec: dict[str, int] | None = None,
) -> str:
    """DuckDB oracle for ``approx_multi_aggregate`` (same per-measure
    moments, estimates, integer-rounded margins). ``round_spec`` maps
    measure alias → decimals (bounds inherit the same rounding)."""
    round_spec = round_spec or {}
    g_sel = f"{group_by}, " if group_by else ""
    parts = ["COUNT(*) AS n"]
    for i, a in enumerate(aggs):
        x = f"CAST({a.column} AS DOUBLE)" if a.column else "1.0"
        parts += [
            f"SUM({x}) AS s1_{i}", f"SUM({x}*{x}) AS s2_{i}",
            f"SUM({x} / {p_sql}) AS ht_{i}", f"SUM(1.0 / {p_sql}) AS htn_{i}",
            f"SUM({x}*{x} * (1.0 - {p_sql}) / ({p_sql} * {p_sql})) AS vht_{i}",
            f"AVG({p_sql}) AS pavg_{i}",
        ]
    base = (
        f"SELECT {g_sel}{', '.join(parts)} FROM {table} WHERE {where}"
        f"{' GROUP BY ' + group_by if group_by else ''}"
    )
    sel = [g_sel.rstrip(", ")] if group_by else []
    for i, a in enumerate(aggs):
        var = (
            f"CASE WHEN n >= 2 THEN greatest((s2_{i} - s1_{i}*s1_{i}/n) / (n - 1.0), 0.0) "
            f"ELSE 0.0 END"
        )
        f_ = a.func.lower()
        if f_ == "avg":
            est, margin = f"(ht_{i} / htn_{i})", f"{z!r} * sqrt(({var}) / n)"
        elif f_ == "sum":
            est, margin = f"ht_{i}", f"{z!r} * sqrt(greatest(vht_{i}, 0.0))"
        else:
            est, margin = f"htn_{i}", f"{z!r} * sqrt(n * (1.0 - pavg_{i})) / pavg_{i}"
        margin = f"CASE WHEN n >= 2 THEN {margin} ELSE 0.0 END"
        if f_ != "avg":
            margin = f"CASE WHEN ({margin}) > 0 THEN greatest(round({margin}, 0), 1.0) ELSE 0.0 END"
        name = a.name()
        r = round_spec.get(name)
        def rr(e, r=r):
            return f"round({e}, {r})" if r is not None else e
        sel += [
            f"{rr(est)} AS {name}",
            f"{rr(f'({est}) - ({margin})')} AS {name}_lo",
            f"{rr(f'({est}) + ({margin})')} AS {name}_hi",
        ]
    sel.append("CAST(n AS BIGINT) AS n_samples")
    tail = f" ORDER BY {group_by}" if group_by else ""
    return f"SELECT {', '.join(sel)} FROM ({base}) __m{tail}"
