"""One-pass Poissonized bootstrap confidence intervals.

The closed-form CIs in ``estimators.py`` cover SUM/AVG/COUNT. The
bootstrap gives CIs for aggregates with no tractable variance formula —
at the cost of computing the aggregate R extra times. The Poissonized
(online) bootstrap makes that a SINGLE pass: instead of resampling rows,
each replicate ``r`` re-weights every sampled row by an independent
Poisson(1) draw (Σw ≈ n, the multinomial bootstrap's large-n limit —
Oza & Russell's online bagging / the "bag of little bootstraps" family).

Determinism contract: the Poisson draw for (row, replicate) is the
inverse CDF applied to ``avalanche_hash(key, salt=BOOT_SALT0 + r) / 2³²``
(hashing.py — NOT the sampling hash family, whose salted siblings are
non-uniform on hash-selected keys) — pure integer/CASE arithmetic,
identical in Spark SQL and DuckDB, so the driver's value-hash gate
covers the bootstrap CI too.

GROUP BY: a grouped query runs the same estimator within each group;
a global query is the call with no ``group_by``.

Plan shape at scale: the estimator ships the slim sampled columns
through a vectorized Arrow ``mapInPandas`` kernel that accumulates all
R replicate partial sums per partition (per group when grouped) —
measured faster than both the explode fan-out and
a pure-SQL column-wise rewrite, whose 32 CASE ladders fall out of
JIT-compilable codegen (see ``bootstrap_sum_ci``). The BLB variant
keeps the ``explode(sequence(-1, R-1))`` fan-out (R+1 rows per sampled
row, like the MinHash band fan-out) → ONE map-side-combined
aggregation → a trivial final reduce: it scans only s·f of the data,
so its fan-out volume is already small. In every variant replicate −1
has weight ≡ 1: the point estimate rides the same single pass as the
replicates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Column

from approximatequeryengine_spark.functions.hashing import (
    HASH_SPACE,
    avalanche_hash_sql_steps,
    avalanche_np,
    with_avalanche_u,
)
from approximatequeryengine_spark.plans.estimators import Z_95
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    sampling_p_sql,
    sampling_where_sql,
)

BOOT_SALT0 = 7001  # replicate r hashes with salt BOOT_SALT0 + r
DEFAULT_REPLICATES = 32

# Cumulative Poisson(1): P(X <= k) = e^-1 * Σ_{i<=k} 1/i!. repr()'d so
# Spark and DuckDB parse the identical double literal.
_POISSON_CDF = [
    sum(math.exp(-1.0) / math.factorial(i) for i in range(k + 1))
    for k in range(9)
]


def _poisson_icdf_sql(u: str) -> str:
    expr = "9"
    for k in reversed(range(9)):
        expr = f"CASE WHEN {u} < {_POISSON_CDF[k]!r} THEN {k} ELSE {expr} END"
    return expr


def bootstrap_sum_ci(
    df: DataFrame,
    column: str,
    spec: SamplingSpec,
    replicates: int = DEFAULT_REPLICATES,
    z: float = Z_95,
    round_to: int = 3,
    group_by: str | None = None,
) -> DataFrame:
    """(estimate, ci_lower, ci_upper, n_samples, n_replicates) for the
    HT-scaled SUM, with the CI from the bootstrap standard error
    (est ± z·sd of the replicate estimates): one row, or one row per
    ``group_by`` value led by that column.

    Plan shape: a VECTORIZED Arrow partial-sum kernel, not row fan-out.
    The original ``explode(sequence(-1, R-1))`` design multiplied the
    row stream R+1× through codegen (row copies + a grouped-hash probe
    per exploded row) and was the costliest CPU shape in the headline
    set; a column-wise pure-SQL rewrite (R hash ladders as projections)
    was MEASURED SLOWER still — 32 nine-branch CASE ladders in one
    projection blow past the JIT's compilable-method size, so the stage
    runs interpreted. What wins (measured best-of-4 at sf0.1: 0.72 s vs
    1.0–1.5 s explode, and the gap widens with data volume) is the same
    trick as the MinHash signature kernel (operators/dedup.py): ship the
    slim sampled columns (x, k, p) through ``mapInPandas`` and compute
    all R replicate partial sums per partition with numpy broadcasting —
    identical 64-bit integer arithmetic to the SQL spelling, ~10× fewer
    cycles per (row, replicate) than codegen row-at-a-time. Each
    partition emits ONE row per group: an array
    [n, n_valid, Σx/p, e_0..e_{R-1}] of partial accumulators; a
    pos-exploded micro-aggregate (≤ (R+3)·groups·partitions rows)
    reduces them to the same (ht, sd, n) the explode plan produced.
    The estimator definition (hash family, weights, reductions) is
    unchanged, so the DuckDB oracle is untouched; float fold order
    differs across engines exactly as before, absorbed by the round_to
    grid + integer margin (module docstring).

    NULL parity: NaN measure values are zeroed in the accumulators but
    counted in ``n_valid`` = #non-NULL; when a (group's) sample has ZERO
    non-NULL values the estimate is emitted as NULL — exactly SQL's
    sum-over-no-values — so the kernel matches the oracle even on
    empty/all-NULL inputs, not just the happy path.

    At 100 TB this keeps the aggregate's distributed shape: per-partition
    Arrow-batched partials, a shuffle of (R+3)·groups·partitions scalar
    rows, one final reduce of a row per group."""
    if replicates < 2:
        raise ValueError("bootstrap needs at least 2 replicates")
    gs = ["g"] if group_by else []
    x = F.col(column).cast("double")
    key = F.expr(spec.key).cast("long")
    sampled = apply_sampling(df, spec).select(
        *(F.col(group_by).alias(g) for g in gs),
        x.alias("x"), key.alias("k"), F.col("__p").alias("p"),
    )
    sampled = _cap_kernel_parallelism(sampled)
    schema = [*(f"g {dict(sampled.dtypes)['g']}" for g in gs), "es array<double>"]
    parts = sampled.mapInPandas(
        _poisson_partials_kernel(replicates, bool(gs)), schema=", ".join(schema)
    )
    sums = (
        parts.select(*gs, F.posexplode("es").alias("i", "v"))
        .groupBy(*gs, "i")
        .agg(F.sum("v").alias("s"))
    )
    agg = sums.groupBy(*gs).agg(
        F.min(F.when(F.col("i") == 0, F.col("s"))).cast("long").alias("n_samples"),
        F.min(F.when(F.col("i") == 1, F.col("s"))).cast("long").alias("n_valid"),
        F.min(F.when(F.col("i") == 2, F.col("s"))).alias("ht_raw"),
        F.stddev_samp(F.when(F.col("i") >= 3, F.col("s"))).alias("sd"),
    )
    # SQL sum-over-no-values parity: zero non-NULL inputs → NULL, not 0.
    agg = agg.withColumn(
        "ht", F.when(F.col("n_valid") > 0, F.col("ht_raw"))
    )
    # Integer margin: keeps ci bounds on the estimate's decimal grid so
    # k-decimal rounding never sits inside cross-engine float noise
    # (see estimators._ci_columns).
    margin = F.round(F.lit(z) * F.col("sd"), 0)
    return agg.select(
        *(F.col(g).alias(group_by) for g in gs),
        F.round(F.col("ht"), round_to).alias("estimate"),
        F.round(F.col("ht") - margin, round_to).alias("ci_lower"),
        F.round(F.col("ht") + margin, round_to).alias("ci_upper"),
        F.col("n_samples"),
        F.lit(replicates).alias("n_replicates"),
    )


def _cap_kernel_parallelism(sampled: DataFrame) -> DataFrame:
    """Widen a narrow sample for the Arrow kernels, capped at 8: a
    single-file scan must not serialize the kernel, but unlike the
    pure-CPU codegen path each extra partition costs a Python-worker
    round trip (~50-100 ms fixed) while the numpy work itself is ~2 ms
    per 10k-row Arrow batch — measured: 8 partitions beat 32 by ~1.7×
    at sf0.1. Naturally-split inputs (the 100 TB case) keep their own
    partitioning untouched."""
    from approximatequeryengine_spark.operators import _num_partitions

    sc = sampled.sparkSession.sparkContext
    target = min(8, sc.defaultParallelism)
    # _num_partitions probes the executed plan directly; df.rdd here
    # forced a Python-side RDD lineage build (~0.1-0.2 s of driver time
    # per invocation) just to read a partition count.
    if _num_partitions(sampled) < target:
        return sampled.repartition(target)
    return sampled


def _poisson_partials_kernel(replicates: int, grouped: bool):
    """Build the mapInPandas kernel: per partition, one output row per
    group (one row when not ``grouped``, even for an empty partition)
    whose array is [n, n_valid, Σx/p, e_0..e_{R-1}] with
    e_r = Σ poisson_w(k, r)·x/p over the non-NULL values.

    The replicate hashes are ``hashing.avalanche_np`` over the
    (batch × R) key/salt block — the NumPy form of the SQL avalanche
    hash, pinned to it by ``tests/test_hashing.py`` — and
    ``searchsorted(CDF, u, side='right')`` is precisely the CASE ladder
    "smallest k with u < CDF[k], else len(CDF)". Weights broadcast as a
    (batch × R) block, so the per-replicate loop is a handful of numpy
    passes, not a Python row loop."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        cdf = np.array(_POISSON_CDF, dtype=np.float64)
        salts = BOOT_SALT0 + np.arange(replicates, dtype=np.int64)
        acc: dict = {} if grouped else {None: np.zeros(replicates + 3)}
        for pdf in batches:
            subs = pdf.groupby("g", sort=False, dropna=False) if grouped else [(None, pdf)]
            for g, sub in subs:
                k = sub["k"].to_numpy(np.int64)
                hx = sub["x"].to_numpy(np.float64) / sub["p"].to_numpy(np.float64)
                a = acc.get(g)
                if a is None:
                    a = acc[g] = np.zeros(replicates + 3)
                a[0] += len(k)
                # NULL x arrives as NaN: SQL aggregates (the oracle and
                # the old explode path) SKIP nulls while count(*) still
                # counts the row — zero the contribution and track
                # n_valid so the reduce can reproduce SQL's
                # NULL-when-no-values semantics.
                nan = np.isnan(hx)
                a[1] += float(len(k) - nan.sum())
                hx = np.where(nan, 0.0, hx)
                a[2] += float(hx.sum())
                h = avalanche_np(k[:, None], salts)
                u = h.astype(np.float64) / float(HASH_SPACE)
                w = np.searchsorted(cdf, u.ravel(), side="right").reshape(u.shape)
                a[3:] += (w.astype(np.float64) * hx[:, None]).sum(axis=0)
        if acc:
            es = {"es": [a.tolist() for a in acc.values()]}
            yield pd.DataFrame({"g": list(acc), **es} if grouped else es)

    return kernel


BLB_ASSIGN_SALT = 4243
BLB_SALT0 = 8101  # replicate r hashes with salt BLB_SALT0 + r


def _poisson_cdf_table(lam: float) -> list[float]:
    """Cumulative Poisson(λ) out to a ~1e-12 tail, as repr-stable doubles."""
    table = []
    p = math.exp(-lam)
    c = p
    k = 0
    while c < 1.0 - 1e-12 and k < 200:
        table.append(c)
        k += 1
        p *= lam / k
        c += p
    table.append(c)
    return table


def _icdf_col(u: Column, cdf: list[float]) -> Column:
    w = F.lit(len(cdf))
    for k in reversed(range(len(cdf))):
        w = F.when(u < F.lit(cdf[k]), F.lit(k)).otherwise(w)
    return w


def _icdf_sql(u: str, cdf: list[float]) -> str:
    expr = str(len(cdf))
    for k in reversed(range(len(cdf))):
        expr = f"CASE WHEN {u} < {cdf[k]!r} THEN {k} ELSE {expr} END"
    return expr


def blb_sum_ci(
    df: DataFrame,
    column: str,
    key: str,
    n_subsamples: int = 4,
    fraction: float = 0.05,
    replicates: int = 20,
    z: float = Z_95,
    round_to: int = 2,
) -> DataFrame:
    """Bag of Little Bootstraps (Kleiner et al. 2014) for the full-data
    SUM: ``n_subsamples`` disjoint hash subsamples of ``fraction`` each
    (total scan = s·f of the data), and within each subsample a
    Poissonized bootstrap whose weights are Poisson(1/f) — each
    replicate simulates a FULL-size resample, so the replicate spread
    estimates the error of the full estimator, not of the little
    subsample. This is BLB's whole trick: bootstrap quality assessment
    at full scale while only ever touching s·f of the corpus — at
    100 TB the difference between rereading 20% and rereading 3200%
    (R×full bootstrap).

    Determinism contract: subsample membership and index come from one
    avalanche uniform (``u < s·f``; ``j = floor(u/f)``) and the weights
    from the salted family, so both engines select identical rows with
    identical weights. The per-subsample totals are float SUMs whose
    accumulation order differs (Spark partial aggregation vs DuckDB
    scan order), so agreement rests on the round(·, 2)/integer-margin
    grid absorbing ~1e-4 float noise — the same boundary-risk tradeoff
    ``_ci_columns`` documents — not on bit-identical floats.

    Returns 1 row: (estimate, ci_lower, ci_upper, n_rows_scanned,
    n_subsamples, n_replicates). estimate = mean over subsamples of the
    λ-weighted total (each unbiased for the full SUM); margin = mean
    over subsamples of z·sd(replicates) — the BLB average of
    per-subsample CI widths."""
    from approximatequeryengine_spark.operators import ensure_parallelism

    lam = 1.0 / fraction
    cdf = _poisson_cdf_table(lam)
    x = F.col(column).cast("double")
    k = F.expr(key).cast("long")
    base = df.select(x.alias("x"), k.alias("k"))
    base = with_avalanche_u(base, F.col("k"), F.lit(BLB_ASSIGN_SALT), u_col="__ua")
    take = base.filter(F.col("__ua") < F.lit(n_subsamples * fraction)).withColumn(
        "j", F.floor(F.col("__ua") / F.lit(fraction)).cast("int")
    )
    take = ensure_parallelism(take)
    rep = take.select(
        "x", "k", "j",
        F.explode(F.sequence(F.lit(-1), F.lit(replicates - 1))).alias("r"),
    )
    rep = with_avalanche_u(
        rep, F.col("k"), F.lit(BLB_SALT0) + F.col("r"), u_col="__u"
    ).withColumn(
        "__w",
        F.when(F.col("r") == -1, F.lit(lam)).otherwise(
            _icdf_col(F.col("__u"), cdf).cast("double")
        ),
    )
    boot = rep.groupBy("j", "r").agg(
        F.sum(F.col("__w") * F.col("x")).alias("est_jr"),
        F.count(F.lit(1)).alias("n"),
    )
    per_j = boot.groupBy("j").agg(
        F.min(F.when(F.col("r") == -1, F.col("est_jr"))).alias("est_j"),
        F.stddev_samp(F.when(F.col("r") >= 0, F.col("est_jr"))).alias("sd_j"),
        F.min(F.when(F.col("r") == -1, F.col("n"))).alias("n_j"),
    )
    agg = per_j.agg(
        F.avg("est_j").alias("est"),
        F.avg(F.lit(z) * F.col("sd_j")).alias("xi"),
        F.sum("n_j").alias("n_rows_scanned"),
    )
    margin = F.round(F.col("xi"), 0)
    return agg.select(
        F.round(F.col("est"), round_to).alias("estimate"),
        F.round(F.col("est") - margin, round_to).alias("ci_lower"),
        F.round(F.col("est") + margin, round_to).alias("ci_upper"),
        F.col("n_rows_scanned"),
        F.lit(n_subsamples).alias("n_subsamples"),
        F.lit(replicates).alias("n_replicates"),
    )


def blb_sum_ci_sql(
    table: str,
    column: str,
    key: str,
    n_subsamples: int = 4,
    fraction: float = 0.05,
    replicates: int = 20,
    z: float = Z_95,
    round_to: int = 2,
) -> str:
    """DuckDB oracle for ``blb_sum_ci`` — identical assignment uniform,
    weight ladder, and three-level reduction."""
    lam = 1.0 / fraction
    cdf = _poisson_cdf_table(lam)
    x = f"CAST({column} AS DOUBLE)"
    kk = f"CAST({key} AS BIGINT)"
    a_steps, a_final = avalanche_hash_sql_steps("k", BLB_ASSIGN_SALT)
    ua = f"(CAST({a_final} AS DOUBLE) / {float(HASH_SPACE)!r})"
    r_steps, r_final = avalanche_hash_sql_steps("k", f"{BLB_SALT0} + r")
    u = f"(CAST({r_final} AS DOUBLE) / {float(HASH_SPACE)!r})"
    w = (
        f"CASE WHEN r = -1 THEN {lam!r} "
        f"ELSE CAST({_icdf_sql(u, cdf)} AS DOUBLE) END"
    )
    return f"""
WITH base AS (SELECT {x} AS x, {kk} AS k FROM {table}),
ua AS (SELECT base.*, {a_steps} FROM base),
take AS (SELECT x, k,
                CAST(floor(({ua}) / {fraction!r}) AS INT) AS j
         FROM ua WHERE ({ua}) < {float(n_subsamples * fraction)!r}),
rep AS (SELECT take.*, v.r FROM take,
        (SELECT unnest(generate_series(-1, {replicates - 1})) AS r) v),
hashed AS (SELECT rep.*, {r_steps} FROM rep),
boot AS (SELECT j, r, sum(({w}) * x) AS est_jr, count(*) AS n
         FROM hashed GROUP BY j, r),
per_j AS (SELECT j, min(CASE WHEN r = -1 THEN est_jr END) AS est_j,
                 stddev_samp(CASE WHEN r >= 0 THEN est_jr END) AS sd_j,
                 min(CASE WHEN r = -1 THEN n END) AS n_j
          FROM boot GROUP BY j),
agg AS (SELECT avg(est_j) AS est, avg({z!r} * sd_j) AS xi,
               CAST(sum(n_j) AS BIGINT) AS n_rows_scanned FROM per_j)
SELECT round(est, {round_to}) AS estimate,
       round(est - round(xi, 0), {round_to}) AS ci_lower,
       round(est + round(xi, 0), {round_to}) AS ci_upper,
       n_rows_scanned, {n_subsamples} AS n_subsamples,
       {replicates} AS n_replicates
FROM agg
"""


def bootstrap_sum_ci_sql(
    table: str,
    column: str,
    spec: SamplingSpec,
    p_sql: str | None = None,
    replicates: int = DEFAULT_REPLICATES,
    z: float = Z_95,
    round_to: int = 3,
    group_by: str | None = None,
) -> str:
    """DuckDB oracle: the same fan-out, hash, weights, and reductions
    (per group when grouped). Only the replicate-sequence spelling
    differs from the Spark plan (generate_series vs sequence+explode).
    ``p_sql`` is each sampled row's inclusion probability, by default
    ``sampling_p_sql(spec)``."""
    where = sampling_where_sql(spec)
    gs = ["g"] if group_by else []
    g_cols = "".join(f"{g}, " for g in gs)
    x = f"CAST({column} AS DOUBLE)"
    key = f"CAST({spec.key} AS BIGINT)"
    hash_steps, h_final = avalanche_hash_sql_steps("k", f"{BOOT_SALT0} + r")
    u = f"(CAST({h_final} AS DOUBLE) / {float(HASH_SPACE)!r})"
    w = f"CASE WHEN r = -1 THEN 1 ELSE {_poisson_icdf_sql(u)} END"
    return f"""
WITH s AS (SELECT {"".join(f"{group_by} AS {g}, " for g in gs)}{x} AS x, {key} AS k,
                  {p_sql or sampling_p_sql(spec)} AS p
           FROM {table} WHERE {where}),
rep AS (SELECT s.*, v.r FROM s, (SELECT unnest(generate_series(-1, {replicates - 1})) AS r) v),
hashed AS (SELECT rep.*, {hash_steps} FROM rep),
boot AS (SELECT {g_cols}r, sum(CAST({w} AS DOUBLE) * x / p) AS est_r, count(*) AS n
         FROM hashed GROUP BY ALL),
agg AS (SELECT {g_cols}min(CASE WHEN r = -1 THEN est_r END) AS ht,
               stddev_samp(CASE WHEN r >= 0 THEN est_r END) AS sd,
               min(CASE WHEN r = -1 THEN n END) AS n_samples
        FROM boot GROUP BY ALL)
SELECT {"".join(f"{g} AS {group_by}, " for g in gs)}round(ht, {round_to}) AS estimate,
       round(ht - round({z!r} * sd, 0), {round_to}) AS ci_lower,
       round(ht + round({z!r} * sd, 0), {round_to}) AS ci_upper,
       n_samples, {replicates} AS n_replicates
FROM agg
"""
