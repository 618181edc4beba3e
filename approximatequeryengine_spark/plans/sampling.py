"""Sampling designs as DataFrame transformations.

The reference's ~30 sampler methods collapse to five designs
(SURVEY.md §2.7 reduction):

- ``uniform_hash``  — deterministic Bernoulli via a portable hash of a
  unique row key (default; cross-engine reproducible, nested in the
  fraction → the adaptive loop grows samples monotonically).
  Replaces R1/R2/R23.
- ``bernoulli``     — Spark's native seeded ``df.sample`` (statistically
  identical, not reproducible outside Spark). R1/R2.
- ``systematic``    — ``key % step = offset``, the literal Spark form of
  the reference's ``rowid % step`` predicates (R3-R7, R16, R20-R26,
  R29). Scaling uses the *realized* probability ``1/step`` (fix for
  reference quirk Q2, which scaled by the nominal ``100/p``).
- ``block``         — cluster sampling: contiguous key-blocks of
  ``block_size`` rows, whole block in or out by hash of the block id
  (R11-R13, R17, R19, R27, R28).
- ``stratified``    — per-stratum inclusion fractions (R15; with
  variance-based allocation computed by the caller this is R14 /
  Neyman-flavored allocation).

Every design attaches ``__p`` — the per-row inclusion probability — so
one Horvitz-Thompson estimator layer (``estimators.py``) serves all of
them. At scale the sample predicate is a cheap per-row integer
expression inside whole-stage codegen: no shuffle, no driver round-trip,
and for ``systematic``/``uniform_hash`` Catalyst pushes the surviving
column pruning straight to the Parquet scan.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    fraction_threshold,
    portable_hash_sql,
)

P_COL = "__p"  # per-row inclusion probability attached by apply_sampling


@dataclass
class SamplingSpec:
    design: str = "uniform_hash"  # none|uniform_hash|bernoulli|systematic|block|stratified
    fraction: float = 0.1
    key: str = "id"  # SQL expression uniquely identifying a row
    salt: int = 0  # independent hash function selector (validation resamples)
    seed: int = 42  # bernoulli only
    step: int | None = None  # systematic: stride; default round(1/fraction)
    offset: int = 0  # systematic: which residue class
    block_size: int = 1000  # block design
    stratum_col: str | None = None  # stratified
    strata_fractions: dict = field(default_factory=dict)  # stratum value -> fraction

    def realized_fraction(self) -> float:
        """Inclusion probability actually achieved by the design."""
        if self.design == "none":
            return 1.0
        if self.design == "systematic":
            return 1.0 / self._step()
        return self.fraction

    def _step(self) -> int:
        if self.step is not None:
            return self.step
        return max(1, int(round(1.0 / self.fraction)))


def sql_double(v: float) -> str:
    """A DOUBLE constant in Spark SQL text — the spelling of
    ``F.lit(float)``. A bare ``0.15`` parses as DECIMAL, which would
    turn ``s1 * (1/f)`` into decimal arithmetic."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'' if v > 0 else '-'}Infinity' AS DOUBLE)"
    return f"CAST({v!r} AS DOUBLE)"


def _sql_lit(v) -> str:
    """Render a Python literal as a Spark SQL literal typed as
    ``F.lit(v)`` types it (stratum values: strings, numbers, None)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return sql_double(v)
    if isinstance(v, (int, Decimal)):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def _key_hash_sql(spec: SamplingSpec) -> str:
    """Spark-SQL text of the portable hash of the BIGINT-cast row key."""
    return portable_hash_sql(f"CAST(({spec.key}) AS BIGINT)", salt=spec.salt)


def sample_predicate_sql(spec: SamplingSpec) -> tuple[str, str] | None:
    """The sample as Spark SQL text: ``(membership predicate, per-row
    inclusion probability)``. The one Spark spelling of every
    deterministic design, shared by :func:`apply_sampling` (a filter)
    and the grouped adaptive rung (an aggregate mask,
    ``estimators.approx_aggregate(mask=...)``). Returns ``None`` for
    ``bernoulli``, whose membership lives in Spark's sampler state, not
    in a row expression.

    Text, not Column trees: a hash chain is ~40 py4j round trips as
    Columns and one parse call as text, and Catalyst analyses the same
    expression either way."""
    if spec.design == "none":
        return "TRUE", sql_double(1.0)
    if spec.design == "bernoulli":
        return None
    if spec.design == "uniform_hash":
        thr = fraction_threshold(spec.fraction)
        return f"({_key_hash_sql(spec)}) < {thr}", sql_double(spec.fraction)
    if spec.design == "systematic":
        # DENSITY ASSUMPTION (the textbook periodicity hazard): 1/step
        # is the true inclusion probability only when keys populate the
        # residue classes mod step uniformly. A key with arithmetic
        # structure sharing factors with step breaks it — measured: the
        # composite 8·orderkey+linenumber key at step 10 realizes
        # ~0.085 inclusion against the assumed 0.10 and biases the HT
        # estimate −14.8% (far outside its own CI, whose variance
        # formula leans on the same assumption). step 7 is safe there
        # because 8 ≡ 1 (mod 7). The certified `sampling_design_bakeoff`
        # entry keeps the broken configuration as a labeled hazard row;
        # its realized_inclusion column is the cheap diagnostic —
        # compare against 1/step before trusting a systematic design on
        # a structured key.
        step = spec._step()
        return (
            f"(abs(CAST(({spec.key}) AS BIGINT)) % {step}) = {spec.offset % step}",
            sql_double(1.0 / step),
        )
    if spec.design == "block":
        block_sql = f"floor(abs(CAST(({spec.key}) AS BIGINT)) / {spec.block_size})"
        h_sql = portable_hash_sql(block_sql, salt=spec.salt)
        thr = fraction_threshold(spec.fraction)
        return f"({h_sql}) < {thr}", sql_double(spec.fraction)
    if spec.design == "stratified":
        if not spec.stratum_col or not spec.strata_fractions:
            raise ValueError("stratified design needs stratum_col and strata_fractions")
        # CASE stratum WHEN v THEN thr_v ... ELSE default — a per-row
        # threshold; rows in un-listed strata fall back to `fraction`.
        # `<=>` (eqNullSafe) so NULL is a first-class stratum: an
        # allocation derived by groupBy includes the NULL group, and a
        # plain == would silently re-route its rows to the default
        # fraction (while a SQL oracle's equi-join would DROP them —
        # the NULL-stratum divergence the poststrat review first hit).
        thr_sql = str(fraction_threshold(spec.fraction))
        p_sql = sql_double(spec.fraction)
        s = spec.stratum_col
        for value, frac in spec.strata_fractions.items():
            v = _sql_lit(value)
            thr_sql = (
                f"CASE WHEN ({s}) <=> {v} THEN {fraction_threshold(frac)} "
                f"ELSE {thr_sql} END"
            )
            p_sql = f"CASE WHEN ({s}) <=> {v} THEN {sql_double(frac)} ELSE {p_sql} END"
        return f"({_key_hash_sql(spec)}) < ({thr_sql})", p_sql
    raise ValueError(f"unknown sampling design {spec.design!r}")


def apply_sampling(df: DataFrame, spec: SamplingSpec) -> DataFrame:
    """Filter ``df`` down to the sample and attach ``__p``."""
    if spec.design == "bernoulli":
        return df.sample(withReplacement=False, fraction=spec.fraction, seed=spec.seed).withColumn(
            P_COL, F.lit(spec.fraction)
        )
    pred, p = sample_predicate_sql(spec)
    return df.filter(pred).withColumn(P_COL, F.expr(p))


def sampling_where_sql(spec: SamplingSpec, key_sql: str | None = None) -> str:
    """The same sample as an ANSI-SQL predicate (DuckDB oracle parity).

    Only deterministic designs are renderable; ``bernoulli`` raises.
    """
    key = key_sql or spec.key
    if spec.design == "none":
        return "TRUE"
    if spec.design == "uniform_hash":
        return f"{portable_hash_sql(key, spec.salt)} < {fraction_threshold(spec.fraction)}"
    if spec.design == "systematic":
        step = spec._step()
        return f"(abs({key}) % {step}) = {spec.offset % step}"
    if spec.design == "block":
        block = f"(abs({key}) // {spec.block_size})"
        return f"{portable_hash_sql(block, spec.salt)} < {fraction_threshold(spec.fraction)}"
    if spec.design == "stratified":
        h = portable_hash_sql(key, spec.salt)
        cases = " ".join(
            f"WHEN {_stratum_match_sql(spec.stratum_col, v)} THEN {fraction_threshold(f)}"
            for v, f in spec.strata_fractions.items()
        )
        return f"{h} < (CASE {cases} ELSE {fraction_threshold(spec.fraction)} END)"
    raise ValueError(f"design {spec.design!r} has no portable SQL form")


def _stratum_match_sql(col: str, value) -> str:
    """Null-safe stratum-value match (the SQL twin of the eqNullSafe
    whens above): NULL is a first-class stratum, never re-routed to the
    default fraction by three-valued logic."""
    if value is None:
        return f"{col} IS NULL"
    escaped = str(value).replace("'", "''")
    return f"{col} = '{escaped}'"


def head_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Reference R30 (``scheduler.cpp:599-668``): take the head of the
    table — ``rowid <= block_size``. Reproduced faithfully behind this
    explicit helper because it is **statistically biased** (rows are not
    exchangeable with the tail; any drift over insertion order skews the
    estimate). Membership: ``abs(key) <= fraction·max(abs(key))`` — one
    tiny max() job, then a scan-time predicate; ``__p`` is set to the
    *realized* fraction so the HT estimator at least scales by what was
    actually taken."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    k = F.expr(key).cast("long")
    mx = df.agg(F.max(F.abs(k)).alias("m")).collect()[0]["m"]
    thr = int(mx * fraction)
    total = df.count()
    taken = df.filter(F.abs(k) <= F.lit(thr))
    realized = max(taken.count() / total, 1e-12) if total else 1.0
    return taken.withColumn(P_COL, F.lit(realized))


def head_sample_sql(table: str, key: str, fraction: float) -> tuple[str, str]:
    """(where, p) SQL for the same head sample — the realized fraction is
    re-derived in SQL so both engines scale identically."""
    # floor, not CAST: DuckDB CAST(double AS BIGINT) rounds, Python int()
    # truncates — floor matches for the non-negative threshold.
    mx = f"(SELECT CAST(floor(max(abs({key})) * {fraction!r}) AS BIGINT) FROM {table})"
    where = f"abs({key}) <= {mx}"
    p = (
        f"(SELECT CAST(count(*) FILTER (WHERE abs({key}) <= {mx}) AS DOUBLE)"
        f" / count(*) FROM {table})"
    )
    return where, p


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_fraction: float,
    min_fraction: float = 0.005,
    max_fraction: float = 1.0,
    quantum: int = 10,
) -> dict:
    """Variance-adaptive (Neyman) allocation — reference R14
    (``custom_bplus_db.cpp:1273-1329``: per-zone variance → smaller
    blocks in high-variance zones), done properly: pass 1 computes
    per-stratum ``(N_h, S_h)`` in ONE ``groupBy`` job, pass 2 samples
    stratum ``h`` at ``f_h = clamp(f·N·S_h / Σ N_k·S_k)`` so sampling
    effort concentrates where variance is, minimizing estimator variance
    for a fixed total sample size.

    ``S_h`` is quantized to an integer multiple of ``quantum`` so every
    downstream arithmetic step is exact in IEEE doubles — the same
    allocation is then bit-reproducible in any engine (the DuckDB oracle
    re-derives it in SQL), and the summation ``Σ N_k·S_k`` is
    order-independent integer math. At scale pass 1 is a single
    map-side-combined aggregate over the stratum column; nothing but the
    |strata|-row stats table ever reaches the driver.
    """
    rows = (
        df.groupBy(stratum_col)
        .agg(
            F.count(F.lit(1)).alias("nh"),
            F.stddev_samp(F.col(value_col).cast("double")).alias("s"),
        )
        .collect()
    )
    nh = {r[stratum_col]: int(r["nh"]) for r in rows}
    sh = {
        r[stratum_col]: int(math.floor((r["s"] or 0.0) / quantum + 0.5)) * quantum
        for r in rows
    }
    n_total = sum(nh.values())
    ns_sum = sum(nh[k] * sh[k] for k in nh)
    if ns_sum == 0:
        return {k: total_fraction for k in nh}
    return {
        k: min(max(total_fraction * n_total * sh[k] / ns_sum, min_fraction), max_fraction)
        for k in nh
    }


def sampling_p_sql(spec: SamplingSpec) -> str:
    """Per-row inclusion probability as ANSI SQL (mirrors the ``__p``
    column ``apply_sampling`` attaches)."""
    if spec.design == "stratified":
        cases = " ".join(
            f"WHEN {_stratum_match_sql(spec.stratum_col, v)} THEN {float(f)!r}"
            for v, f in spec.strata_fractions.items()
        )
        return f"(CASE {cases} ELSE {float(spec.fraction)!r} END)"
    return repr(float(spec.realized_fraction()))


def congressional_allocation(
    df: DataFrame,
    stratum_col: str,
    total_fraction: float,
    min_fraction: float = 0.005,
) -> dict:
    """Congressional allocation (Acharya, Gibbons & Poosala,
    "Congressional samples for approximate answering of group-by
    queries", SIGMOD 2000): a compromise between the *house*
    (proportional — minimizes variance of GLOBAL aggregates but
    starves small groups) and the *senate* (equal-per-group —
    protects every group's estimate but wastes budget on big
    groups). Each group gets budget ∝ max(house_g, senate_g),
    normalized back to the total budget ``B = floor(f·N)``.

    With G groups, house_g ∝ N_g/N and senate_g ∝ 1/G share a common
    denominator N·G, so the unnormalized weight is the INTEGER
    ``M_g = max(N_g·G, N)`` and the normalizer ``S = ΣM_g`` is exact
    integer math — the final per-group fraction
    ``f_g = clamp((B/S)·(M_g/N_g))`` is two IEEE divisions and one
    product over integers, which the DuckDB oracle reproduces
    bit-for-bit (same trick as the quantized Neyman allocation
    above). One COUNT-only groupBy pass; only the |groups|-row stats
    table reaches the driver."""
    rows = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("nh")).collect()
    nh = {r[stratum_col]: int(r["nh"]) for r in rows}
    n_total = sum(nh.values())
    g = len(nh)
    if n_total == 0 or g == 0:
        return {}
    budget = int(math.floor(total_fraction * n_total))
    m = {k: max(nh[k] * g, n_total) for k in nh}
    s = sum(m.values())
    return {
        k: min(max((budget / s) * (m[k] / nh[k]), min_fraction), 1.0)
        for k in nh
    }
