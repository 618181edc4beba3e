"""AQP++ — connecting aggregate PRECOMPUTATION with sampling
(Peng, Zhang, Wang, Pei: "AQP++: Connecting Approximate Query
Processing With Aggregate Precomputation for Interactive Analytics",
SIGMOD 2018).

The reference engine answers a range-SUM either exactly (full scan) or
from a sample (full-variance CI) — `custom_bplus_db.cpp`'s samplers and
`executor.cpp`'s rowid predicates offer nothing in between. AQP++ is
the in-between that dominates both at scale:

    SUM(v WHERE lo <= k <= hi)
      = exact(interior blocks, PRECOMPUTED)      -- zero variance
      + estimate(boundary rows, SAMPLED)         -- tiny variance

- **build** (once, at ingest): partition the key domain into
  ``n_blocks`` fixed-width integer blocks — the same oracle-replayable
  arithmetic as the zone map (`sources/zonemap.py`) — and persist one
  exact aggregate row per block ``(block, n_rows, sum_cents)`` plus a
  2-scalar meta row ``(mn, width)``. One grouped scan; the result is
  O(blocks) ≈ KBs regardless of data size.
- **query**: blocks FULLY covered by ``[lo, hi]`` are answered from
  the precomputed table (a bounded O(blocks) readout, no data scan at
  all). Only the ≤ 2 PARTIALLY covered boundary slivers touch the base
  table, and those through the engine's deterministic uniform-hash
  sample (`plans/sampling.py`), HT-scaled with the standard CI. The
  CI's variance comes from the boundary alone — for a range spanning
  many blocks the interior dominates the answer and the CI collapses
  toward zero, at the SAME sample cost a pure-sampling plan spends for
  a CI that must cover the whole range.

At 100 TB: the query plan never scans the interior (the dominant mass)
— it reads the KB-sized block table plus ``fraction`` of the two
boundary slivers, with every predicate (range, NOT-interior, hash
threshold) a pushable row expression inside whole-stage codegen. The
block table is mergeable under ingest (per-block sums add), so the
index maintains incrementally like the engine's other persisted
synopses.

Determinism contract (what makes the DuckDB oracle possible): integer
block arithmetic, integer-cents block sums, the portable sampling hash,
and constant inclusion probability — so the HT estimate is
``(Σ cents) · (1/f)`` with the float multiply applied ONCE to an
exactly-summed integer, not per row. The margin follows the engine's
SUM convention (`plans/estimators.py::_ci_columns`): integer-rounded
(in whole dollars here), keeping the CI bounds on the estimate's 0.01
grid.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    fraction_threshold,
    portable_hash_col,
    portable_hash_sql,
)
from approximatequeryengine_spark.plans.estimators import Z_95, ht_integer_margin
from approximatequeryengine_spark.sources.arrow_write import write_single_parquet
from approximatequeryengine_spark.sources.swap import read_synopsis

_META_DDL = "mn long, width long, n_blocks long"


@dataclass(frozen=True)
class AqpplusIndex:
    """What a range probe needs of a built index, held on the driver:
    the block grid and the exact block aggregates — O(blocks), never
    O(rows). ``blocks`` holds ``(block, n_rows, sum_cents)`` sorted by
    block."""

    path: str
    mn: int
    width: int
    blocks: tuple[tuple[int, int, int], ...]


def aqpplus_load(spark: SparkSession, path: str) -> AqpplusIndex:
    """Read a built index's handle back from disk (for callers that hold
    only the path; :func:`aqpplus_build` returns the same handle)."""
    mrow = spark.read.parquet(f"{path}/meta").collect()[0]
    rows = read_synopsis(spark, f"{path}/blocks").collect()
    return AqpplusIndex(path, int(mrow["mn"]), int(mrow["width"]), _block_rows(rows))


def _block_rows(rows) -> tuple[tuple[int, int, int], ...]:
    # A NULL key has no block; it can never be interior.
    return tuple(sorted(
        (int(r["block"]), int(r["n_rows"]), int(r["sum_cents"]))
        for r in rows
        if r["block"] is not None
    ))


def aqpplus_build(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: Column,
    value_cents: Column,
    n_blocks: int = 64,
) -> AqpplusIndex:
    """Persist the block-aggregate table + meta and return the index's
    handle. ``key`` must be an integer-valued Column (dates via datediff
    upstream); ``value_cents`` an integer-cents Column so block sums are
    exact BIGINTs. The block rows reach the driver as an observed metric
    of the write job itself, so the handle costs no read-back."""
    base = df.select(
        key.cast("long").alias("__key"),
        value_cents.cast("long").alias("__cents"),
    )
    mn, mx = base.agg(F.min("__key"), F.max("__key")).collect()[0]
    if mn is None:
        raise ValueError("aqpplus_build: no non-null keys")
    width = max(1, (mx - mn + n_blocks) // n_blocks)
    obs = Observation()
    (
        base.withColumn(
            "block", F.floor((F.col("__key") - F.lit(mn)) / F.lit(width)).cast("long")
        )
        .groupBy("block")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__cents").cast("long").alias("sum_cents"),
        )
        .observe(obs, F.collect_list(F.struct("block", "n_rows", "sum_cents")).alias("rows"))
        .write.mode("overwrite")
        .parquet(f"{path}/blocks")
    )
    write_single_parquet(
        spark, [(int(mn), int(width), int(n_blocks))], _META_DDL, f"{path}/meta"
    )
    return AqpplusIndex(path, int(mn), int(width), _block_rows(obs.get["rows"]))


def _interior_block_range(mn: int, width: int, lo: int, hi: int) -> tuple[int, int]:
    """Smallest/largest block indices FULLY covered by [lo, hi].
    Block b covers keys [mn + b·width, mn + (b+1)·width − 1]. Returns
    (b_lo, b_hi) with b_lo > b_hi meaning "no interior block"."""
    b_lo = -((lo - mn) // -width)  # ceil((lo-mn)/width): first block starting >= lo
    b_hi = (hi - mn + 1) // width - 1  # last block ending <= hi
    return b_lo, b_hi


def aqpplus_range_sum(
    spark: SparkSession,
    df: DataFrame,
    index: AqpplusIndex | str,
    lo: int,
    hi: int,
    key: Column,
    value_cents: Column,
    row_key: Column,
    fraction: float = 0.1,
    salt: int = 0,
    z: float = Z_95,
) -> DataFrame:
    """Range SUM via exact interior + sampled boundary: one row
    ``(sum_value, ci_lower, ci_upper, n_samples, interior_rows,
    blocks_interior)`` in dollars (cents/100, rounded 2).

    The interior readout sums the handle's block aggregates on the
    driver (a path is loaded first); the base table is scanned only on
    the boundary slivers, through the deterministic hash sample — the
    probe's one Spark query."""
    if isinstance(index, str):
        index = aqpplus_load(spark, index)
    mn, width = index.mn, index.width
    b_lo, b_hi = _interior_block_range(mn, width, lo, hi)
    interior = [r for r in index.blocks if b_lo <= r[0] <= b_hi]
    interior_cents = sum(r[2] for r in interior)
    interior_rows = sum(r[1] for r in interior)
    blocks_interior = len(interior)

    k = key.cast("long")
    boundary = F.col("__k").between(F.lit(lo), F.lit(hi))
    if b_lo <= b_hi:
        int_lo = mn + b_lo * width
        int_hi = mn + (b_hi + 1) * width - 1
        boundary = boundary & ~F.col("__k").between(F.lit(int_lo), F.lit(int_hi))

    base = df.select(
        k.alias("__k"),
        value_cents.cast("long").alias("__cents"),
        row_key.cast("long").alias("__rk"),
    ).filter(boundary)
    thr = fraction_threshold(fraction)
    sampled = base.filter(portable_hash_col(F.col("__rk"), salt=salt) < F.lit(thr))

    m = sampled.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("__cents"), F.lit(0)).cast("long").alias("s1"),
        F.coalesce(F.sum(F.col("__cents").cast("double") * F.col("__cents")), F.lit(0.0)).alias("s2"),
    )
    inv_f = 1.0 / fraction
    # HT estimate/variance with CONSTANT p: float constants applied once
    # to exactly-summed integer moments (determinism contract above).
    est_cents = F.lit(float(interior_cents)) + F.col("s1") * F.lit(inv_f)
    vht_d = F.col("s2") * F.lit((1.0 - fraction) / (fraction * fraction) / 10000.0)
    margin_d = ht_integer_margin(F.col("n"), vht_d, z)
    est_d = F.round(est_cents / F.lit(100.0), 2)
    return m.select(
        est_d.alias("sum_value"),
        F.round(est_cents / F.lit(100.0) - margin_d, 2).alias("ci_lower"),
        F.round(est_cents / F.lit(100.0) + margin_d, 2).alias("ci_upper"),
        F.col("n").alias("n_samples"),
        F.lit(interior_rows).cast("long").alias("interior_rows"),
        F.lit(blocks_interior).cast("long").alias("blocks_interior"),
    )


def aqpplus_range_sum_sql(
    table: str,
    key_sql: str,
    value_cents_sql: str,
    row_key_sql: str,
    lo: int,
    hi: int,
    n_blocks: int = 64,
    fraction: float = 0.1,
    salt: int = 0,
    z: float = Z_95,
) -> str:
    """DuckDB oracle: re-derives the block layout, the exact interior
    aggregate, the boundary hash sample, and the identical HT + CI
    arithmetic — certifying precomputation, pruning and estimation
    together."""
    thr = fraction_threshold(fraction)
    inv_f = 1.0 / fraction
    vconst = (1.0 - fraction) / (fraction * fraction) / 10000.0
    h = portable_hash_sql("rk", salt)
    return f"""
WITH base AS (
  SELECT CAST({key_sql} AS BIGINT) AS k,
         CAST({value_cents_sql} AS BIGINT) AS cents,
         CAST({row_key_sql} AS BIGINT) AS rk
  FROM {table}
),
meta AS (
  SELECT min(k) AS mn,
         greatest(1, CAST(floor((max(k) - min(k) + {n_blocks}) / {n_blocks}.0) AS BIGINT)) AS width
  FROM base
),
bounds AS (
  SELECT mn, width,
         CAST(ceil(({lo} - mn) / (width * 1.0)) AS BIGINT) AS b_lo,
         CAST(floor(({hi} - mn + 1) / (width * 1.0)) AS BIGINT) - 1 AS b_hi
  FROM meta
),
interior AS (
  SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) AS icents,
         CAST(count(*) AS BIGINT) AS irows,
         CAST(count(DISTINCT CAST(floor((k - b.mn) / (b.width * 1.0)) AS BIGINT)) AS BIGINT) AS iblocks
  FROM base, bounds b
  WHERE b.b_lo <= b.b_hi
    AND CAST(floor((k - b.mn) / (b.width * 1.0)) AS BIGINT) BETWEEN b.b_lo AND b.b_hi
),
sample AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(cents), 0) AS BIGINT) AS s1,
         coalesce(sum(CAST(cents AS DOUBLE) * cents), 0.0) AS s2
  FROM base, bounds b
  WHERE k BETWEEN {lo} AND {hi}
    AND NOT (b.b_lo <= b.b_hi
             AND k BETWEEN b.mn + b.b_lo * b.width
                       AND b.mn + (b.b_hi + 1) * b.width - 1)
    AND {h} < {thr}
),
calc AS (
  SELECT n,
         CAST(i.icents AS DOUBLE) + s1 * {inv_f!r} AS est_cents,
         CASE WHEN n >= 2 THEN {z!r} * sqrt(greatest(s2 * {vconst!r}, 0.0)) ELSE 0.0 END AS m0,
         i.irows, i.iblocks
  FROM sample, interior i
)
SELECT round(est_cents / 100.0, 2) AS sum_value,
       round(est_cents / 100.0 - (CASE WHEN m0 > 0 THEN greatest(round(m0, 0), 1.0) ELSE 0.0 END), 2) AS ci_lower,
       round(est_cents / 100.0 + (CASE WHEN m0 > 0 THEN greatest(round(m0, 0), 1.0) ELSE 0.0 END), 2) AS ci_upper,
       n AS n_samples,
       irows AS interior_rows,
       iblocks AS blocks_interior
FROM calc
"""


def aqpplus_grouped_build(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: Column,
    value_cents: Column,
    group: str,
    n_blocks: int = 64,
) -> None:
    """Grouped variant: one exact aggregate row per (block, group) —
    the precomputation behind dashboard-style 'range rollup by
    category' queries. Size O(blocks × |groups|), still KBs."""
    base = df.select(
        key.cast("long").alias("__key"),
        value_cents.cast("long").alias("__cents"),
        F.col(group).alias("__grp"),
    )
    mn, mx = base.agg(F.min("__key"), F.max("__key")).collect()[0]
    if mn is None:
        raise ValueError("aqpplus_grouped_build: no non-null keys")
    width = max(1, (mx - mn + n_blocks) // n_blocks)
    (
        base.withColumn(
            "block", F.floor((F.col("__key") - F.lit(mn)) / F.lit(width)).cast("long")
        )
        .groupBy("block", "__grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__cents").cast("long").alias("sum_cents"),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/blocks")
    )
    write_single_parquet(
        spark, [(int(mn), int(width), int(n_blocks))], _META_DDL, f"{path}/meta"
    )


def aqpplus_grouped_append(
    spark: SparkSession,
    df_batch: DataFrame,
    path: str,
    key: Column,
    value_cents: Column,
    group: str,
) -> None:
    """Incremental maintenance: block aggregates are ADDITIVE, and the
    (mn, width) grid is pinned by the persisted meta — batch keys
    outside the original span land in new block ids (the arithmetic
    extends to negative/overflow blocks without re-bucketing anything
    already written). merge(blocks(base), blocks(batch)) ==
    blocks(base ∪ batch) bit-for-bit; pinned in tests."""
    mrow = spark.read.parquet(f"{path}/meta").collect()[0]
    mn, width = int(mrow["mn"]), int(mrow["width"])
    batch = (
        df_batch.select(
            key.cast("long").alias("__key"),
            value_cents.cast("long").alias("__cents"),
            F.col(group).alias("__grp"),
        )
        .withColumn(
            "block", F.floor((F.col("__key") - F.lit(mn)) / F.lit(width)).cast("long")
        )
        .groupBy("block", "__grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__cents").cast("long").alias("sum_cents"),
        )
    )
    merged = (
        read_synopsis(spark, f"{path}/blocks")
        .unionByName(batch)
        .groupBy("block", "__grp")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
    )
    # Crash-safe staged swap (sources/swap.py): the merge reads
    # {path}/blocks and writes {path}/blocks_staged — disjoint paths,
    # so no self-consume (the old localCheckpoint materialization is
    # unnecessary) and a crash at any step leaves a complete copy for
    # recover_synopsis().
    from approximatequeryengine_spark.sources.swap import staged_swap

    staged_swap(
        spark,
        f"{path}/blocks",
        lambda p: merged.write.mode("overwrite").parquet(p),
        name="aqpplus_append",
    )


def aqpplus_grouped_range_sum(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    lo: int,
    hi: int,
    key: Column,
    value_cents: Column,
    group: str,
    row_key: Column,
    fraction: float = 0.1,
    salt: int = 0,
    z: float = Z_95,
) -> DataFrame:
    """Grouped AQP++: per-group ``(sum_value, ci_lower, ci_upper,
    n_samples, interior_rows)``, interior exact from the (block, group)
    table, boundary slivers sampled ONCE and aggregated per group.
    Groups whose boundary sample is empty still surface through their
    interior rows (and vice versa)."""
    mrow = spark.read.parquet(f"{path}/meta").collect()[0]
    mn, width = int(mrow["mn"]), int(mrow["width"])
    b_lo, b_hi = _interior_block_range(mn, width, lo, hi)

    blocks = read_synopsis(spark, f"{path}/blocks")
    # group universe from the block table (it covers EVERY row, so its
    # distinct groups equal the base table's): a group with no interior
    # rows and no sampled boundary rows must still surface with a 0.0
    # estimate, exactly as the oracle's DISTINCT-groups LEFT JOIN does.
    all_groups = blocks.select("__grp").distinct()
    if b_lo <= b_hi:
        interior_agg = (
            blocks.filter(F.col("block").between(b_lo, b_hi))
            .groupBy("__grp")
            .agg(
                F.sum("sum_cents").cast("long").alias("icents"),
                F.sum("n_rows").cast("long").alias("irows"),
            )
        )
        interior = all_groups.join(interior_agg, on="__grp", how="left").select(
            "__grp",
            F.coalesce(F.col("icents"), F.lit(0)).cast("long").alias("icents"),
            F.coalesce(F.col("irows"), F.lit(0)).cast("long").alias("irows"),
        )
    else:
        interior = all_groups.select(
            "__grp",
            F.lit(0).cast("long").alias("icents"),
            F.lit(0).cast("long").alias("irows"),
        )

    k = key.cast("long")
    boundary = F.col("__k").between(F.lit(lo), F.lit(hi))
    if b_lo <= b_hi:
        int_lo = mn + b_lo * width
        int_hi = mn + (b_hi + 1) * width - 1
        boundary = boundary & ~F.col("__k").between(F.lit(int_lo), F.lit(int_hi))

    base = df.select(
        k.alias("__k"),
        value_cents.cast("long").alias("__cents"),
        F.col(group).alias("__grp"),
        row_key.cast("long").alias("__rk"),
    ).filter(boundary)
    thr = fraction_threshold(fraction)
    sampled = base.filter(portable_hash_col(F.col("__rk"), salt=salt) < F.lit(thr))
    m = sampled.groupBy("__grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("__cents"), F.lit(0)).cast("long").alias("s1"),
        F.coalesce(
            F.sum(F.col("__cents").cast("double") * F.col("__cents")), F.lit(0.0)
        ).alias("s2"),
    )

    joined = interior.join(m, on="__grp", how="full").select(
        F.col("__grp"),
        F.coalesce(F.col("icents"), F.lit(0)).alias("icents"),
        F.coalesce(F.col("irows"), F.lit(0)).alias("irows"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.coalesce(F.col("s1"), F.lit(0)).alias("s1"),
        F.coalesce(F.col("s2"), F.lit(0.0)).alias("s2"),
    )
    inv_f = 1.0 / fraction
    est_cents = F.col("icents").cast("double") + F.col("s1") * F.lit(inv_f)
    vht_d = F.col("s2") * F.lit((1.0 - fraction) / (fraction * fraction) / 10000.0)
    margin_d = ht_integer_margin(F.col("n"), vht_d, z)
    return joined.select(
        F.col("__grp").alias("grp"),
        F.round(est_cents / F.lit(100.0), 2).alias("sum_value"),
        F.round(est_cents / F.lit(100.0) - margin_d, 2).alias("ci_lower"),
        F.round(est_cents / F.lit(100.0) + margin_d, 2).alias("ci_upper"),
        F.col("n").cast("long").alias("n_samples"),
        F.col("irows").cast("long").alias("interior_rows"),
    )


def aqpplus_grouped_range_sum_sql(
    table: str,
    key_sql: str,
    value_cents_sql: str,
    row_key_sql: str,
    group_sql: str,
    lo: int,
    hi: int,
    n_blocks: int = 64,
    fraction: float = 0.1,
    salt: int = 0,
    z: float = Z_95,
) -> str:
    """DuckDB oracle for the grouped variant — layout, per-group
    interior, shared boundary sample, per-group HT + CI."""
    thr = fraction_threshold(fraction)
    inv_f = 1.0 / fraction
    vconst = (1.0 - fraction) / (fraction * fraction) / 10000.0
    h = portable_hash_sql("rk", salt)
    return f"""
WITH base AS (
  SELECT CAST({key_sql} AS BIGINT) AS k,
         CAST({value_cents_sql} AS BIGINT) AS cents,
         CAST({row_key_sql} AS BIGINT) AS rk,
         {group_sql} AS grp
  FROM {table}
),
meta AS (
  SELECT min(k) AS mn,
         greatest(1, CAST(floor((max(k) - min(k) + {n_blocks}) / {n_blocks}.0) AS BIGINT)) AS width
  FROM base
),
bounds AS (
  SELECT mn, width,
         CAST(ceil(({lo} - mn) / (width * 1.0)) AS BIGINT) AS b_lo,
         CAST(floor(({hi} - mn + 1) / (width * 1.0)) AS BIGINT) - 1 AS b_hi
  FROM meta
),
interior AS (
  SELECT grp,
         CAST(coalesce(sum(cents), 0) AS BIGINT) AS icents,
         CAST(count(*) AS BIGINT) AS irows
  FROM base, bounds b
  WHERE b.b_lo <= b.b_hi
    AND CAST(floor((k - b.mn) / (b.width * 1.0)) AS BIGINT) BETWEEN b.b_lo AND b.b_hi
  GROUP BY grp
),
groups AS ( SELECT DISTINCT grp FROM base ),
sample AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(cents), 0) AS BIGINT) AS s1,
         coalesce(sum(CAST(cents AS DOUBLE) * cents), 0.0) AS s2
  FROM base, bounds b
  WHERE k BETWEEN {lo} AND {hi}
    AND NOT (b.b_lo <= b.b_hi
             AND k BETWEEN b.mn + b.b_lo * b.width
                       AND b.mn + (b.b_hi + 1) * b.width - 1)
    AND {h} < {thr}
  GROUP BY grp
),
calc AS (
  SELECT g.grp,
         coalesce(i.icents, 0) AS icents,
         coalesce(i.irows, 0) AS irows,
         coalesce(s.n, 0) AS n,
         CAST(coalesce(i.icents, 0) AS DOUBLE) + coalesce(s.s1, 0) * {inv_f!r} AS est_cents,
         CASE WHEN coalesce(s.n, 0) >= 2
              THEN {z!r} * sqrt(greatest(coalesce(s.s2, 0.0) * {vconst!r}, 0.0))
              ELSE 0.0 END AS m0
  FROM groups g
  LEFT JOIN interior i ON g.grp = i.grp
  LEFT JOIN sample s ON g.grp = s.grp
)
SELECT grp,
       round(est_cents / 100.0, 2) AS sum_value,
       round(est_cents / 100.0 - (CASE WHEN m0 > 0 THEN greatest(round(m0, 0), 1.0) ELSE 0.0 END), 2) AS ci_lower,
       round(est_cents / 100.0 + (CASE WHEN m0 > 0 THEN greatest(round(m0, 0), 1.0) ELSE 0.0 END), 2) AS ci_upper,
       n AS n_samples,
       irows AS interior_rows
FROM calc
"""
