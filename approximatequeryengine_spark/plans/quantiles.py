"""Sampled quantile estimation with distribution-free confidence
intervals — an AQP capability beyond the reference's SUM/AVG/COUNT.

Point estimate: the q-th order statistic of a deterministic sample.
CI: the classic binomial (distribution-free) interval — the true
quantile lies between sample order statistics at ranks

    lo = ⌊n·q − z·√(n·q(1−q))⌋ ,  hi = ⌈n·q + z·√(n·q(1−q))⌉

with ≈95% coverage for z=1.96, no assumptions on the value
distribution.

Scale design (round 9 — replaces the single-partition window sort):
the three order statistics are selected PARTITION-PARALLEL in three
bounded aggregate passes over the sample —

1. ``approx_percentile`` (Spark's GK summary, DETERMINISTIC rank
   error ≤ n/accuracy) brackets the needed rank span [lo, hi] with a
   value window [v_lb, v_ub] guaranteed to contain it;
2. one zone histogram ``groupBy`` counts rows below the bracket and
   per distinct value inside it — the bracket holds at most
   ``(hi−lo) + O(n/accuracy)`` DISTINCT values (heavy ties collapse
   into single groups), so the collected synopsis is O(√n) rows at
   ``accuracy = √n``;
3. the driver walks the cumulative counts to the exact values at
   ranks lo/point/hi.

The selected values are EXACT order statistics — identical to what
the old global sort (and the DuckDB window oracle) picks — because a
value at x-rank r is well-defined regardless of tie order; the
(value, key) tie-break only ever disambiguated rows sharing a value,
which share the output too. A belt-and-suspenders guard re-brackets
wider (then falls back to the full value histogram) if the sketch
bracket ever misses — unreachable under GK's deterministic bound, but
correctness never rests on a sketch.

The per-GROUP form executes the same way (``grouped_order_stat_ci``
— grouped GK bracket, one zone-histogram groupBy, driver walk of an
O(groups·√n) synopsis): the window text's per-group sort has
parallelism equal to the GROUP COUNT, which is a scale killer for
few-group data. ``grouped_quantile_ci_sql`` survives as the portable
oracle spelling.
"""

from __future__ import annotations

import math
import re
from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.plans.estimators import Z_95
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    sampling_where_sql,
)
from approximatequeryengine_spark.session import local_frame

# Test hook: when a list, every aggregate the rank selection executes
# appends its physical plan here — the plan gates assert no Window /
# no unbounded single-partition sort ever runs on the global path.
_PLAN_SINK: list[str] | None = None


def _record_plan(df: DataFrame) -> None:
    if _PLAN_SINK is not None:
        _PLAN_SINK.append(
            df._jdf.queryExecution().executedPlan().toString()
        )


def _ranks(n: int, q: float, z: float) -> tuple[int, int, int]:
    """Rank arithmetic BIT-MATCHED to the SQL texts' spelling
    (``ceil({q!r} * n)`` etc.). Both engines type a plain decimal
    literal like ``0.07`` as DECIMAL, so ``0.07 * 100`` is EXACTLY 7
    in SQL — while float ``0.07 * 100`` is 7.000000000000001 and
    ceils to 8. Emulate the SQL typing: a plain-decimal repr does the
    q·n products on exact rationals (ceil/floor land on the same
    integer as DECIMAL), anything repr'd in scientific notation is a
    DOUBLE literal in SQL too, so plain float arithmetic matches."""
    if re.fullmatch(r"\d+(\.\d+)?", repr(q)):
        qf = Fraction(repr(q))
        qn = qf * n                       # exact, like DECIMAL * BIGINT
        inner = n * qf * (1 - qf)         # exact sqrt argument
        point = min(max(int(math.ceil(qn)), 1), n)
        # SQL subtracts the DOUBLE half from the DECIMAL product after
        # a DOUBLE cast — mirror: float(exact) ± half in doubles.
        half = z * math.sqrt(float(inner))
        lo = min(max(int(math.floor(float(qn) - half)), 1), n)
        hi = min(max(int(math.ceil(float(qn) + half)), 1), n)
        return lo, point, hi
    point = min(max(int(math.ceil(q * n)), 1), n)
    half = z * math.sqrt(n * q * (1.0 - q))
    lo = min(max(int(math.floor(q * n - half)), 1), n)
    hi = min(max(int(math.ceil(q * n + half)), 1), n)
    return lo, point, hi


def order_stat_ranks_sql(q: float, z: float) -> tuple[str, str, str]:
    """The ``(lo, point, hi)`` ranks of the order-statistic CI as SQL
    over a sample-size column ``n``: the one spelling every quantile
    text shares, and the one :func:`_ranks` bit-matches."""
    half = f"{z!r} * sqrt(n * {q!r} * (1.0 - {q!r}))"
    point = f"least(greatest(CAST(ceil({q!r} * n) AS BIGINT), 1), n)"
    lo = f"least(greatest(CAST(floor({q!r} * n - {half}) AS BIGINT), 1), n)"
    hi = f"least(greatest(CAST(ceil({q!r} * n + {half}) AS BIGINT), 1), n)"
    return lo, point, hi


def _zone_histogram(
    nonnull: DataFrame, intervals: list[tuple[float, float]] | None
) -> DataFrame:
    """Per-distinct-value counts inside each value bracket plus one
    tally row per gap BETWEEN brackets — ONE partition-parallel groupBy
    whose result is bounded by the brackets' total distinct-value count
    (+ #gaps rows). Zones are numbered in ascending x order: gap before
    interval i → ``2i``, inside interval i → ``2i+1`` (per-value rows),
    past the last → ``2·len``. ``None`` means the unbracketed full
    histogram (the guard fallback) — one all-value zone 1.

    Round 10: generalized from ONE bracket to a sorted disjoint
    interval LIST. A multi-quantile readout (median + p95) used to get
    a single bracket spanning BOTH rank positions — ~45% of the order
    space, so the "bounded" synopsis was ~45% of the distinct values
    (~230k rows collected at sf0.1). Per-quantile brackets keep it
    O(quantiles·√n)."""
    x = F.col("x")
    if not intervals:
        zone = F.lit(1)
        xv = x
    else:
        expr = F.when(x < F.lit(float(intervals[0][0])), F.lit(0))
        in_any = None
        for i, (lb, ub) in enumerate(intervals):
            hit = (x >= F.lit(float(lb))) & (x <= F.lit(float(ub)))
            expr = expr.when(hit, F.lit(2 * i + 1))
            in_any = hit if in_any is None else (in_any | hit)
            if i + 1 < len(intervals):
                expr = expr.when(
                    x < F.lit(float(intervals[i + 1][0])), F.lit(2 * i + 2)
                )
        zone = expr.otherwise(F.lit(2 * len(intervals)))
        xv = F.when(in_any, x)
    return nonnull.groupBy(zone.alias("zone"), xv.alias("xv")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def _select_order_stats(
    sampled: DataFrame, ranks: list[int], n: int, n_null: int
) -> dict[int, float | None]:
    """Exact order statistics of ``sampled.x`` (ascending, NULLS FIRST
    — the legacy window's default, and what the DuckDB oracle's
    ``ORDER BY x, k`` computes) at the given 1-based global ranks,
    without any global sort. ≤3 bounded aggregate jobs; the driver
    sees only the O(√n) bracket synopsis."""
    out: dict[int, float | None] = {}
    value_ranks = []
    for r in ranks:
        if r <= n_null:
            out[r] = None  # the rank falls in the NULLS FIRST region
        else:
            value_ranks.append(r - n_null)  # rank within non-null order
    if not value_ranks:
        return out
    nn = n - n_null
    nonnull = sampled.where(F.col("x").isNotNull())
    # GK summaries guarantee rank error ≤ nn/accuracy deterministically;
    # accuracy ≈ √nn keeps both the sketch memory and the bracket
    # synopsis O(√n).
    accuracy = int(min(max(1000.0, math.sqrt(nn)), 1e7))
    eps = nn // accuracy + 1
    base_slack = 2 * eps + 1
    ordered = sorted(set(value_ranks))

    for attempt in range(3):
        if attempt == 2:
            intervals = None  # exact full-histogram fallback
        else:
            slack = base_slack * (8 ** attempt)
            # Round 10: bracket each CLUSTER of nearby ranks separately
            # (one approx_percentile call carrying every cluster's two
            # fractions) instead of one bracket spanning min..max rank.
            # Ranks further apart than their combined slack would only
            # pad the synopsis with the value span BETWEEN them — for a
            # (median, p95) readout that span was ~45% of the data.
            clusters: list[list[int]] = [[ordered[0]]]
            for r in ordered[1:]:
                if r - clusters[-1][-1] <= 2 * slack:
                    clusters[-1].append(r)
                else:
                    clusters.append([r])
            fracs: list[float] = []
            for cl in clusters:
                fracs.append(max(float(cl[0] - slack) / nn, 0.0))
                fracs.append(min(float(cl[-1] + slack) / nn, 1.0))
            bdf = nonnull.agg(
                F.expr(
                    f"approx_percentile(x, array({', '.join(map(repr, fracs))}), "
                    f"{accuracy})"
                ).alias("b")
            )
            _record_plan(bdf)
            bounds = bdf.first()["b"]
            if bounds is None or any(b is None for b in bounds):
                continue
            raw = [
                (float(bounds[2 * i]), float(bounds[2 * i + 1]))
                for i in range(len(clusters))
            ]
            if any(math.isnan(b) for pair in raw for b in pair):
                # NaN bounds break interval ordering/merging (NaN sorts
                # above every double in Spark) — collapse to the single
                # legacy bracket, whose NaN behavior is the certified r9
                # path; the rank validation below still guards it.
                raw = [(raw[0][0], raw[-1][1])]
            # merge overlapping/adjacent brackets so intervals are
            # sorted and disjoint (zone numbering depends on it)
            intervals = [raw[0]]
            for lb, ub in raw[1:]:
                if lb <= intervals[-1][1]:
                    intervals[-1] = (
                        intervals[-1][0], max(intervals[-1][1], ub)
                    )
                else:
                    intervals.append((lb, ub))
        hdf = _zone_histogram(nonnull, intervals)
        _record_plan(hdf)
        hist = hdf.collect()  # bounded: brackets' distinct values + gaps
        n_iv = len(intervals) if intervals else 1
        gap: dict[int, int] = {}
        brackets: dict[int, list] = {i: [] for i in range(n_iv)}
        for r in hist:
            z = r["zone"]
            if z % 2 == 0:
                gap[z] = gap.get(z, 0) + r["cnt"]
            else:
                brackets[z // 2].append((r["xv"], r["cnt"]))
        # walk zones in ascending x order, assigning ranks inside
        # bracket zones; a rank landing in a gap zone means the sketch
        # bracket missed — widen / go exact
        got: dict[int, float] = {}
        cum = 0
        pending = list(ordered)
        ok = True
        for i in range(n_iv):
            cum += gap.get(2 * i, 0)
            if pending and pending[0] <= cum:
                ok = False
                break
            for v, c in sorted(
                brackets[i], key=lambda t: (math.isnan(t[0]), t[0])
            ):  # NaN last, as Spark sorts
                cum += c
                while pending and pending[0] <= cum:
                    got[pending.pop(0)] = v
        if not ok or pending:
            continue
        for r in ordered:
            out[r + n_null] = got[r]
        return out
    raise AssertionError("order-statistic bracket failed on exact pass")


def approx_quantile_ci(
    df: DataFrame,
    column: str,
    q: float,
    spec: SamplingSpec,
    z: float = Z_95,
) -> DataFrame:
    """1-row DataFrame: (q, n_samples, <column>_q, ci_lower, ci_upper).

    Values are bit-identical to the DuckDB window oracle
    (``approx_quantile_ci_sql``) on NULL-free measurements: both pick
    the x value at the same global rank, and a value at a rank is
    independent of how ties are broken. NULL x rows keep the legacy
    Spark-window semantics (NULLS FIRST — they occupy the lowest
    ranks); the marker path (``order_stat_marker_ci``) excludes NULLs
    on both engines instead."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    x = F.col(column).cast("double")
    sampled = apply_sampling(df, spec).select(x.alias("x"))
    cdf = sampled.agg(
        F.count(F.lit(1)).alias("n"), F.count("x").alias("nv")
    )
    _record_plan(cdf)
    crow = cdf.first()
    n, n_null = int(crow["n"]), int(crow["n"]) - int(crow["nv"])
    if n == 0:
        raise ValueError("empty sample; increase the fraction")
    lo, point, hi = _ranks(n, q, z)
    got = _select_order_stats(sampled, [lo, point, hi], n, n_null)
    spark = df.sparkSession
    return spark.range(1).select(
        F.lit(q).cast("double").alias("q"),
        F.lit(n).cast("long").alias("n_samples"),
        F.lit(got[point]).cast("double").alias(f"{column}_q"),
        F.lit(got[lo]).cast("double").alias("ci_lower"),
        F.lit(got[hi]).cast("double").alias("ci_upper"),
    )


def order_stat_marker_ci(
    df: DataFrame,
    expr: str,
    q: float,
    alias: str,
    spec: SamplingSpec,
    where: str | None = None,
    z: float = Z_95,
) -> DataFrame:
    """Scale-safe executor for the GLOBAL ``APPROX(MEDIAN/PERCENTILE)``
    SQL marker (frontend/approx_sql.py): same output columns as the
    portable window text — (alias, ci_lower, ci_upper, n_samples) —
    and bit-identical values, computed by the partition-parallel rank
    selection instead of a whole-sample single-task sort. The window
    text remains the DuckDB oracle. NULL measurements are excluded,
    exactly as the text's ``(x) IS NOT NULL`` predicate does."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    base = df.where(F.expr(where)) if where else df
    x = F.expr(expr).cast("double")
    sampled = (
        apply_sampling(base, spec)
        .select(x.alias("x"))
        .where(F.col("x").isNotNull())
    )
    cdf = sampled.agg(F.count(F.lit(1)).alias("n"))
    _record_plan(cdf)
    n = int(cdf.first()["n"])
    if n == 0:
        # The window text yields one all-NULL row with n_samples = 0.
        spark = df.sparkSession
        return spark.range(1).select(
            F.lit(None).cast("double").alias(alias),
            F.lit(None).cast("double").alias("ci_lower"),
            F.lit(None).cast("double").alias("ci_upper"),
            F.lit(0).cast("long").alias("n_samples"),
        )
    lo, point, hi = _ranks(n, q, z)
    got = _select_order_stats(sampled, [lo, point, hi], n, 0)
    spark = df.sparkSession
    return spark.range(1).select(
        F.lit(got[point]).cast("double").alias(alias),
        F.lit(got[lo]).cast("double").alias("ci_lower"),
        F.lit(got[hi]).cast("double").alias("ci_upper"),
        F.lit(n).cast("long").alias("n_samples"),
    )


def exact_interp_quantiles(
    df: DataFrame, expr: str, qs: list[float]
) -> list[float | None]:
    """EXACT interpolated quantiles with ``percentile()`` semantics —
    bit-identical to Spark's exact Percentile aggregate (pinned by
    ``test_exact_interp_quantiles_matches_percentile``) — computed by
    the partition-parallel rank selection instead of the built-in
    aggregate.

    Why: Spark's ``percentile()`` buffers a (value → count) map of the
    ENTIRE column per partition and merges the maps into ONE final
    aggregation buffer — on a mostly-distinct measure that is the whole
    column through one task (and one task's memory), the same
    single-point-of-serialization class as the retired global window
    sort. Here each quantile needs only its two bracketing order
    statistics: one count, one GK bracket, one bounded zone histogram —
    every pass partition-parallel, the driver seeing an O(√n) synopsis.

    Returns driver-side floats (callers embed them as literals and
    round IN SPARK so round() semantics stay the engine's): for each q,
    ``(higher - pos) * v_lo + (pos - lower) * v_hi`` at
    ``pos = (n-1)·q`` — the exact interpolation formula and operand
    order of ``Percentile.getPercentile``, evaluated in IEEE doubles
    (Python floats are the same arithmetic). NULLs excluded, like the
    aggregate; empty input yields all-None."""
    nonnull = (
        df.select(F.expr(expr).cast("double").alias("x"))
        .where(F.col("x").isNotNull())
    )
    cdf = nonnull.agg(F.count(F.lit(1)).alias("n"))
    _record_plan(cdf)
    n = int(cdf.first()["n"])
    if n == 0:
        return [None] * len(qs)
    positions = [(n - 1) * q for q in qs]
    ranks = sorted(
        {int(math.floor(p)) + 1 for p in positions}
        | {int(math.ceil(p)) + 1 for p in positions}
    )
    got = _select_order_stats(nonnull, ranks, n, 0)
    out: list[float | None] = []
    for p in positions:
        lower, higher = int(math.floor(p)), int(math.ceil(p))
        v_lo = got[lower + 1]
        if higher == lower:
            out.append(v_lo)
        else:
            out.append((higher - p) * v_lo + (p - lower) * got[higher + 1])
    return out


def _grouped_select_order_stats(
    nonnull: DataFrame,
    ranks_by_group: dict,
    nn_by_group: dict,
) -> dict:
    """Per-group exact order statistics (ascending x within each group)
    at the requested 1-based non-null ranks, without per-group
    whole-sample sorts. Same three-pass shape as the global
    ``_select_order_stats`` — grouped GK bracket → one zone-histogram
    groupBy → driver walk — with the bracket fractions widened to cover
    EVERY group's rank span (per-group literal fractions are impossible
    because ``approx_percentile``'s percentage argument must be
    foldable). Synopsis collected to the driver: O(groups · √n).

    ``nonnull`` has columns (g, x), x non-NULL. ``ranks_by_group`` maps
    group value → list of needed ranks in that group's non-null order;
    ``nn_by_group`` maps group value → non-null count. Returns
    {group value: {rank: x value}}."""
    out: dict = {g: {} for g in ranks_by_group}
    todo = {
        g: sorted(rs)
        for g, rs in ranks_by_group.items()
        if rs and nn_by_group.get(g, 0) > 0
    }
    if not todo:
        return out
    nn_max = max(nn_by_group[g] for g in todo)
    accuracy = int(min(max(1000.0, math.sqrt(nn_max)), 1e7))
    # One shared fraction window covering every group's rank span, each
    # widened by that group's own deterministic GK slack.
    slack_mult = 1
    attempts = []
    for _ in range(2):
        q_lb, q_ub = 1.0, 0.0
        for g, rs in todo.items():
            nn = nn_by_group[g]
            slack = (2 * (nn // accuracy + 1) + 1) * slack_mult
            q_lb = min(q_lb, max(float(rs[0] - slack) / nn, 0.0))
            q_ub = max(q_ub, min(float(rs[-1] + slack) / nn, 1.0))
        attempts.append((q_lb, q_ub))
        slack_mult *= 8
    attempts.append((None, None))  # exact full-histogram fallback

    spark = nonnull.sparkSession
    g_field = nonnull.schema["g"]
    for q_lb, q_ub in attempts:
        if q_lb is None:
            bounds_by_group = None
        else:
            bdf = nonnull.groupBy("g").agg(
                F.expr(
                    f"approx_percentile(x, array({q_lb!r}, {q_ub!r}), "
                    f"{accuracy})"
                ).alias("b")
            )
            _record_plan(bdf)
            bounds_by_group = {}
            degenerate = False
            for r in bdf.collect():  # O(groups)
                b = r["b"]
                if b is None or b[0] is None or b[1] is None:
                    degenerate = True
                    break
                bounds_by_group[r["g"]] = (float(b[0]), float(b[1]))
            if degenerate:
                continue
        if bounds_by_group is None:
            hdf = nonnull.groupBy("g", F.col("x").alias("xv")).agg(
                F.count(F.lit(1)).alias("cnt")
            ).select(
                "g", F.lit(0).alias("zone"), "xv", "cnt"
            )
        else:
            from pyspark.sql.types import (
                DoubleType,
                StructField,
                StructType,
            )

            bschema = StructType([
                StructField("g", g_field.dataType, True),
                StructField("v_lb", DoubleType(), False),
                StructField("v_ub", DoubleType(), False),
            ])
            bounds_df = local_frame(
                spark,
                [(g, lb, ub) for g, (lb, ub) in bounds_by_group.items()],
                bschema,
            )
            joined = nonnull.alias("s").join(
                F.broadcast(bounds_df.alias("b")),
                F.col("s.g").eqNullSafe(F.col("b.g")),
                "inner",
            ).select(
                F.col("s.g").alias("g"), F.col("s.x").alias("x"),
                F.col("b.v_lb").alias("v_lb"), F.col("b.v_ub").alias("v_ub"),
            )
            x = F.col("x")
            zone = (
                F.when(x < F.col("v_lb"), F.lit(-1))
                .when(x > F.col("v_ub"), F.lit(1))
                .otherwise(F.lit(0))
            )
            xv = F.when((x >= F.col("v_lb")) & (x <= F.col("v_ub")), x)
            hdf = joined.groupBy(
                "g", zone.alias("zone"), xv.alias("xv")
            ).agg(F.count(F.lit(1)).alias("cnt"))
        _record_plan(hdf)
        hist: dict = {g: [] for g in todo}
        below: dict = {g: 0 for g in todo}
        for r in hdf.collect():  # bounded: groups x (bracket values + 2)
            if r["g"] not in hist:
                continue
            if r["zone"] == -1:
                below[r["g"]] += r["cnt"]
            elif r["zone"] == 0:
                hist[r["g"]].append((r["xv"], r["cnt"]))
        ok = True
        for g, rs in todo.items():
            bracket = sorted(
                hist[g], key=lambda t: (math.isnan(t[0]), t[0])
            )
            in_bracket = sum(c for _, c in bracket)
            if any(r <= below[g] or r > below[g] + in_bracket for r in rs):
                ok = False
                break
            cum = below[g]
            it = iter(bracket)
            cur_v, cur_c = next(it)
            for r in rs:
                while cum + cur_c < r:
                    cum += cur_c
                    cur_v, cur_c = next(it)
                out[g][r] = cur_v
        if ok:
            return out
        out = {g: {} for g in ranks_by_group}
    raise AssertionError("grouped order-statistic bracket failed on exact pass")


def grouped_order_stat_ci(
    df: DataFrame,
    expr: str,
    q: float,
    alias: str,
    group_col: str,
    spec: SamplingSpec,
    where: str | None = None,
    z: float = Z_95,
    order_by_group: bool = False,
    nulls: str = "exclude",
) -> DataFrame:
    """Scale-safe executor for the GROUPED quantile shapes — the SQL
    marker ``SELECT g, APPROX(MEDIAN/PERCENTILE(expr)) ... GROUP BY g``
    and the dialect's grouped-quantile path. Output columns match the
    portable window text (group, alias, ci_lower, ci_upper, n_samples)
    with bit-identical values; the window text remains the DuckDB
    oracle. ``nulls='exclude'`` drops NULL measurements (the marker
    text's ``(x) IS NOT NULL`` predicate); ``nulls='first'`` keeps the
    dialect window text's Spark semantics — NULL x rows occupy the
    LOWEST ranks, so a rank inside the NULL region reads as NULL. A
    NULL GROUP value is its own group (the SQL GROUP BY convention).

    Scale design vs the window text on Spark: the text's per-group sort
    parallelism equals the GROUP COUNT — three groups at 100 TB means
    three tasks each sorting a third of the sample. Here every pass is
    a partition-parallel aggregate; the driver sees an O(groups · √n)
    synopsis."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    if nulls not in ("exclude", "first"):
        raise ValueError(f"nulls must be 'exclude' or 'first', got {nulls!r}")
    base = df.where(F.expr(where)) if where else df
    x = F.expr(expr).cast("double")
    sampled_all = apply_sampling(base, spec).select(
        F.expr(group_col).alias("g"), x.alias("x")
    )
    sampled = sampled_all.where(F.col("x").isNotNull())
    count_src = sampled_all if nulls == "first" else sampled
    cdf = count_src.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.count("x").alias("nv")
    )
    _record_plan(cdf)
    counts = cdf.collect()  # O(groups)
    spark = df.sparkSession
    g_field = sampled.schema["g"]
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType([
        StructField(group_col, g_field.dataType, True),
        StructField(alias, DoubleType(), True),
        StructField("ci_lower", DoubleType(), True),
        StructField("ci_upper", DoubleType(), True),
        StructField("n_samples", LongType(), True),
    ])
    if not counts:
        return local_frame(spark, [], out_schema)
    ranks_by_group: dict = {}
    picked: dict = {}
    nn_by_group: dict = {}
    n_null_by_group: dict = {}
    n_by_group: dict = {}
    for r in counts:
        n, nv = int(r["n"]), int(r["nv"])
        n_by_group[r["g"]] = n
        nn_by_group[r["g"]] = nv
        n_null_by_group[r["g"]] = n - nv
        lo, point, hi = _ranks(n, q, z)
        picked[r["g"]] = (lo, point, hi)
        # Translate window ranks to the non-null value order: under
        # NULLS FIRST a rank inside the leading NULL region has no
        # value; everything else shifts down by the NULL count.
        ranks_by_group[r["g"]] = sorted(
            {rk - (n - nv) for rk in (lo, point, hi) if rk > n - nv}
        )
    got = _grouped_select_order_stats(sampled, ranks_by_group, nn_by_group)
    rows = [
        (
            g,
            got[g].get(point - n_null_by_group[g]),
            got[g].get(lo - n_null_by_group[g]),
            got[g].get(hi - n_null_by_group[g]),
            n_by_group[g],
        )
        for g, (lo, point, hi) in picked.items()
    ]
    rdf = local_frame(spark, rows, out_schema)
    if order_by_group:
        rdf = rdf.orderBy(group_col)
    return rdf


def grouped_quantile_ci_sql(
    table: str,
    column: str,
    group_col: str,
    q: float,
    spec: SamplingSpec,
    z: float = Z_95,
) -> str:
    """Per-group sampled quantile + binomial order-statistic CI as ONE
    engine-portable SQL text (Spark SQL ∩ DuckDB — identical
    least/greatest/ceil/floor/sqrt/window semantics), so the same string
    is both the Spark plan and the oracle.

    Unlike the global version there is no driver-side ``count()``: the
    per-group n is a window count computed in-plan, so the whole thing
    is one shuffle on the group key + per-group sort of the *sample*.
    At scale: |group| sample rows sort within their partition; no
    global sort, no driver round-trip."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    where = sampling_where_sql(spec)
    x = f"CAST({column} AS DOUBLE)"
    key = f"CAST({spec.key} AS BIGINT)"
    lo, point, hi = order_stat_ranks_sql(q, z)
    return f"""
WITH s AS (SELECT {group_col} AS g, {x} AS x, {key} AS k FROM {table} WHERE {where}),
r AS (SELECT g, x,
             row_number() OVER (PARTITION BY g ORDER BY x, k) AS rn,
             count(*) OVER (PARTITION BY g) AS n
      FROM s)
SELECT g AS {group_col}, max(n) AS n_samples,
       min(CASE WHEN rn = {point} THEN x END) AS {column}_q,
       min(CASE WHEN rn = {lo} THEN x END) AS ci_lower,
       min(CASE WHEN rn = {hi} THEN x END) AS ci_upper
FROM r GROUP BY g ORDER BY g
"""


def approx_quantile_ci_sql(
    table: str,
    column: str,
    q: float,
    spec: SamplingSpec,
    z: float = Z_95,
) -> str:
    """DuckDB oracle computing the same ranks with the same float
    arithmetic (⌊⌋/⌈⌉ over double products — bit-equal to the Python
    side given equal n). The oracle keeps the explicit window-rank
    form: on DuckDB it runs over the tiny fixture, and rank selection
    is the unambiguous spelling of the estimator; Spark-side execution
    uses the partition-parallel selection above (values identical by
    construction)."""
    where = sampling_where_sql(spec)
    x = f"CAST({column} AS DOUBLE)"
    key = f"CAST({spec.key} AS BIGINT)"
    lo, point, hi = order_stat_ranks_sql(q, z)
    return f"""
WITH s AS (SELECT {x} AS x, {key} AS k FROM {table} WHERE {where}),
nn AS (SELECT count(*) AS n FROM s),
r AS (SELECT x, row_number() OVER (ORDER BY x, k) AS rn FROM s)
SELECT CAST({q!r} AS DOUBLE) AS q, (SELECT n FROM nn) AS n_samples,
       min(CASE WHEN rn = (SELECT {point} FROM nn) THEN x END) AS {column}_q,
       min(CASE WHEN rn = (SELECT {lo} FROM nn) THEN x END) AS ci_lower,
       min(CASE WHEN rn = (SELECT {hi} FROM nn) THEN x END) AS ci_upper
FROM r
"""
