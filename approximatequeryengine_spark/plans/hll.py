"""Portable HyperLogLog — a mergeable distinct-count sketch whose whole
register pipeline is deterministic across engines, so the estimate has
an EXACT DuckDB oracle (unlike ``sketch_approx_distinct`` /
``sketch_mergeable_rollup``, which use Spark's internal HLL++ and are
rows-only-checkable).

Construction (Flajolet et al. 2007, plain HLL with the standard
small-range correction):

- hash: the repo's 32-bit AVALANCHE hash (xorshift-multiply,
  ``functions/hashing.py::with_avalanche_h``) — identical in Spark and
  DuckDB. The cheaper ``portable_hash`` (two multiplicative rounds) is
  NOT good enough here: it passes threshold-sampling uniformity but its
  weak bit avalanche skews register leading-zero ranks by 2-10× on
  sequential keys (measured), while the avalanche hash lands within
  ±1σ of truth across 10²–10⁶ cardinalities;
- register index ``j`` = top 6 bits (m = 64 registers), payload
  ``w`` = low 26 bits;
- rank ``ρ(w)`` = leading-zero count of the 26-bit payload + 1,
  computed WITHOUT floats as ``27 − length(bin(w))`` (both engines
  print minimal binary strings), ``ρ(0) = 27``;
- registers ``r_j = max ρ`` — a plain groupBy(max), one shuffle of at
  most ``groups × m`` rows regardless of input size, and MERGEABLE:
  max of register vectors, which is how the per-group sketches roll up
  to the global one (certified in the same query);
- estimate ``E = α_m · m² / Σ 2^(−r_j)`` with empty registers counting
  ``2⁰``; if ``E ≤ 2.5m`` and ``V`` (empty registers) ``> 0``, use
  linear counting ``m · ln(m/V)``.

Float determinism: every ``2^(−r)`` is an exact dyadic rational and the
register sum stays under 33 mantissa bits, so the sum is EXACT in both
engines regardless of order; α·m²/S is one multiply + one divide
(IEEE-identical); only the linear-counting ``ln`` can differ by an ulp,
absorbed by the 4-decimal output rounding.

m = 64 gives ~1.04/√64 ≈ 13% standard error — deliberately small so
the fixture's registers actually saturate; production would use
m = 2¹⁴ (the same SQL shape, one constant).

At 100 TB: one scan → partial per-partition register maxima (map-side
combine on (group, j)) → ``groups × 64``-row shuffle → driver gets
|groups|+1 rows. Constant memory, no skew sensitivity (register index
is hash-uniform).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    HASH_SPACE,
    avalanche_hash_sql_steps,
    with_avalanche_h,
)

HLL_M = 64
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_RHO_MAX = 27  # payload is 26 bits; all-zero payload ranks 27
_W_SPACE = HASH_SPACE // HLL_M  # 2^26


def _rho(w: Column) -> Column:
    return F.when(w == 0, F.lit(_RHO_MAX)).otherwise(
        F.lit(_RHO_MAX) - F.length(F.bin(w))
    )


def _estimate(n_present: Column, s_present: Column) -> Column:
    """HLL estimate from (number of present registers, Σ2^-r over
    them); empty registers contribute 2⁰ = 1 each."""
    m = F.lit(float(HLL_M))
    v = F.lit(HLL_M) - n_present
    # coalesce: SUM over an empty register table is NULL; an empty
    # corpus must estimate 0 (all 64 registers empty → linear counting
    # with V = m → m·ln(1) = 0), not NULL.
    s = F.coalesce(s_present, F.lit(0.0)) + v.cast("double")
    raw = F.lit(HLL_ALPHA) * m * m / s
    lin = m * F.log(m / v.cast("double"))
    return F.round(
        F.when((raw <= F.lit(2.5 * HLL_M)) & (v > 0), lin).otherwise(raw), 4
    )


def hll_registers(df: DataFrame, key: str, group: str) -> DataFrame:
    """Per-(group, register) rank maxima — the sketch itself. Merge two
    register tables by ``groupBy(j).agg(max(r))``.

    Key handling mirrors ``COUNT(DISTINCT ...)`` semantics: NULL keys
    are excluded, and non-integral key types (strings, floats, dates)
    are first mapped through the portable md5-prefix integer hash —
    the avalanche hash's ``cast('long')`` would otherwise TRUNCATE
    floats (silently collapsing distinct values) or crash on strings
    under ANSI mode. Integral keys feed the hash directly, which is
    what the SQL oracles (integer-key contract) render."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    kcol = F.col(key)
    if not isinstance(
        df.schema[key].dataType, (ByteType, ShortType, IntegerType, LongType)
    ):
        kcol = F.conv(F.substring(F.md5(kcol.cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
    hashed = with_avalanche_h(
        df.filter(F.col(key).isNotNull()).select(
            F.col(group).alias("grp"), kcol.alias("k")
        ),
        F.col("k"),
        F.lit(0),
        h_col="h",
    )
    j = (F.col("h") / F.lit(_W_SPACE)).cast("long")
    w = F.col("h") % F.lit(_W_SPACE)
    return (
        hashed.select("grp", j.alias("j"), _rho(w).alias("rho"))
        .groupBy("grp", "j")
        .agg(F.max("rho").alias("r"))
    )


def portable_hll_rollup(df: DataFrame, key: str, group: str) -> DataFrame:
    """Per-group portable-HLL distinct estimates PLUS a global row
    computed by MERGING the per-group registers (max) — certifying the
    sketch's merge law end-to-end. Output:
    ``(level, v_zero, est_distinct)``."""
    return rollup_from_registers(hll_registers(df, key, group))


def rollup_from_registers(regs: DataFrame) -> DataFrame:
    """Estimate stage over a ``(grp, j, r)`` register table — shared by
    the batch rollup and the streaming maintenance path (whose drained
    complete-mode registers are identical, max being order-free)."""
    # Exchange barrier: the register table feeds BOTH the per-group and
    # the merged-global branch; an explicit repartition gives the two
    # consumers one shuffle to reuse (ReusedExchange) instead of
    # re-scanning the base table per branch — the same idiom as the LSH
    # signature kernel. groups × 64 rows, so the shuffle is tiny.
    regs = regs.repartition("grp", "j")
    term = F.pow(F.lit(2.0), -F.col("r"))
    per = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("np"), F.sum(term).alias("sp")
    )
    merged = regs.groupBy("j").agg(F.max("r").alias("r")).agg(
        F.count(F.lit(1)).alias("np"), F.sum(term).alias("sp")
    )

    def _out(src: DataFrame, level: Column) -> DataFrame:
        return src.select(
            level.alias("level"),
            (F.lit(HLL_M) - F.col("np")).cast("long").alias("v_zero"),
            _estimate(F.col("np"), F.col("sp")).alias("est_distinct"),
        )

    # NULL group values get an explicit label — a coalesce-to-
    # 'merged_global' here would collide with the genuine merged row.
    per_out = _out(
        per, F.concat(F.lit("group_"), F.coalesce(F.col("grp"), F.lit("<null>")))
    )
    merged_out = _out(merged, F.lit("merged_global"))
    return per_out.unionByName(merged_out).orderBy("level")


def portable_hll_rollup_sql(table: str, key: str, group: str) -> str:
    steps, final = avalanche_hash_sql_steps(key)
    alpha = f"CAST({HLL_ALPHA!r} AS DOUBLE)"
    raw = f"({alpha} * {HLL_M} * {HLL_M} / (coalesce(sp, 0.0) + ({HLL_M} - np)))"
    return f"""
WITH hashed AS (
  -- NULL keys excluded (COUNT DISTINCT semantics); NULL groups get an
  -- explicit label so they cannot collide with the merged row.
  SELECT coalesce(CAST({group} AS VARCHAR), '<null>') AS grp, {steps}
  FROM {table} WHERE {key} IS NOT NULL
),
ranked AS (
  SELECT grp, {final} // {_W_SPACE} AS j,
         CASE WHEN {final} % {_W_SPACE} = 0 THEN {_RHO_MAX}
              ELSE {_RHO_MAX} - length(bin({final} % {_W_SPACE})) END AS rho
  FROM hashed
),
regs AS (
  SELECT grp, j, max(rho) AS r FROM ranked GROUP BY grp, j
),
per AS (
  SELECT grp, count(*) AS np, sum(power(2.0, -r)) AS sp
  FROM regs GROUP BY grp
),
merged AS (
  SELECT CAST(NULL AS VARCHAR) AS grp, count(*) AS np, sum(power(2.0, -r)) AS sp
  FROM (SELECT j, max(r) AS r FROM regs GROUP BY j)
),
est AS (
  SELECT grp, np, sp FROM per
  UNION ALL
  SELECT grp, np, sp FROM merged
)
SELECT coalesce('group_' || grp, 'merged_global') AS level,
       CAST({HLL_M} - np AS BIGINT) AS v_zero,
       round(CASE WHEN {raw} <= {2.5 * HLL_M} AND ({HLL_M} - np) > 0
                  THEN {HLL_M} * ln({HLL_M} / CAST({HLL_M} - np AS DOUBLE))
                  ELSE {raw} END, 4) AS est_distinct
FROM est ORDER BY level
"""


def portable_hll_overlap(sides: DataFrame) -> DataFrame:
    """Cross-corpus overlap WITHOUT a join: |A|, |B| from per-side
    registers, |A∪B| from their max-merge, and |A∩B| by
    inclusion–exclusion — the standard sketch answer to "how much do
    these corpora share?" at any scale (the alternative is a distinct
    equi-join that shuffles both sides).

    ``sides`` must carry ``side ∈ {'a','b'}`` and an integer key ``k``
    (hash text keys first — the workload row uses the portable
    md5-prefix). Output: 4 rows ``(level, est_distinct)`` with level ∈
    side_a / side_b / union / intersection_est. Intersection is clamped
    at 0 (inclusion–exclusion of ±13%-error estimates can go negative
    on disjoint corpora — by design, visible, and still within the
    sketch's error contract)."""
    regs = hll_registers(sides, "k", "side")
    term = F.pow(F.lit(2.0), -F.col("r"))
    per = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("np"), F.sum(term).alias("sp")
    )
    per_est = per.select("grp", _estimate(F.col("np"), F.col("sp")).alias("est"))
    # ≤1 row per side feeds each conditional sum — no float ordering.
    ab = per_est.groupBy().agg(
        F.coalesce(F.sum(F.when(F.col("grp") == "a", F.col("est"))), F.lit(0.0)).alias("a"),
        F.coalesce(F.sum(F.when(F.col("grp") == "b", F.col("est"))), F.lit(0.0)).alias("b"),
    )
    u = (
        regs.groupBy("j")
        .agg(F.max("r").alias("r"))
        .agg(F.count(F.lit(1)).alias("np"), F.sum(term).alias("sp"))
        .select(_estimate(F.col("np"), F.col("sp")).alias("u"))
    )
    one = ab.crossJoin(u)
    rows = F.array(
        F.struct(F.lit("side_a").alias("level"), F.col("a").alias("est_distinct")),
        F.struct(F.lit("side_b").alias("level"), F.col("b").alias("est_distinct")),
        F.struct(F.lit("union").alias("level"), F.col("u").alias("est_distinct")),
        F.struct(
            F.lit("intersection_est").alias("level"),
            F.round(
                F.greatest(F.lit(0.0), F.col("a") + F.col("b") - F.col("u")), 4
            ).alias("est_distinct"),
        ),
    )
    return (
        one.select(F.explode(rows).alias("x"))
        .select("x.level", "x.est_distinct")
        .orderBy("level")
    )


def portable_hll_overlap_sql(sides_sql: str) -> str:
    """Oracle over any ``(side, k)`` subquery (same derivation)."""
    steps, final = avalanche_hash_sql_steps("k")
    alpha = f"CAST({HLL_ALPHA!r} AS DOUBLE)"

    def est(np: str, sp: str) -> str:
        raw = f"({alpha} * {HLL_M} * {HLL_M} / (coalesce({sp}, 0.0) + ({HLL_M} - {np})))"
        return (
            f"round(CASE WHEN {raw} <= {2.5 * HLL_M} AND ({HLL_M} - {np}) > 0 "
            f"THEN {HLL_M} * ln({HLL_M} / CAST({HLL_M} - {np} AS DOUBLE)) "
            f"ELSE {raw} END, 4)"
        )

    return f"""
WITH sides AS ({sides_sql}),
hashed AS (
  SELECT side, {steps} FROM sides WHERE k IS NOT NULL
),
ranked AS (
  SELECT side, {final} // {_W_SPACE} AS j,
         CASE WHEN {final} % {_W_SPACE} = 0 THEN {_RHO_MAX}
              ELSE {_RHO_MAX} - length(bin({final} % {_W_SPACE})) END AS rho
  FROM hashed
),
regs AS (
  SELECT side, j, max(rho) AS r FROM ranked GROUP BY side, j
),
per AS (
  SELECT side, count(*) AS np, sum(power(2.0, -r)) AS sp FROM regs GROUP BY side
),
per_est AS (
  SELECT side, {est('np', 'sp')} AS est FROM per
),
ab AS (
  SELECT coalesce(sum(CASE WHEN side = 'a' THEN est END), 0.0) AS a,
         coalesce(sum(CASE WHEN side = 'b' THEN est END), 0.0) AS b
  FROM per_est
),
u AS (
  SELECT {est('np', 'sp')} AS u
  FROM (SELECT count(*) AS np, sum(power(2.0, -r)) AS sp
        FROM (SELECT j, max(r) AS r FROM regs GROUP BY j))
),
one AS (SELECT a, b, u FROM ab CROSS JOIN u)
SELECT level, est_distinct FROM (
  SELECT 'side_a' AS level, a AS est_distinct FROM one
  UNION ALL SELECT 'side_b', b FROM one
  UNION ALL SELECT 'union', u FROM one
  UNION ALL SELECT 'intersection_est', round(greatest(0.0, a + b - u), 4) FROM one
) ORDER BY level
"""
