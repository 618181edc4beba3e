"""Sample+Seek — selectivity-routed exact-or-approximate execution
(Ding, Huang, Chaudhuri, Chakrabarti, Wang: "Sample + Seek:
Approximating Aggregates with Distribution Precision Guarantee",
SIGMOD 2016 — adapted to this engine's structures).

The paper's observation: sampling is the WRONG tool for
low-selectivity predicates (a 1% sample of a 0.1%-selective query
sees ~0 qualifying rows — the CI is useless), while indexes are the
wrong tool for high-selectivity ones (seeking 40% of the table is
slower than scanning a sample). The fix is a router that picks per
query:

- **seek** (selectivity ≤ threshold): answer EXACTLY from the
  zone-pruned layout (`sources/zonemap.py`) — few zones overlap a
  narrow range, the scan is |overlap|/|table|, and the CI is
  zero-width because the answer is exact;
- **sample** (selectivity > threshold): answer from the
  deterministic uniform-hash sample with the standard HT CI — and
  still through the zone-pruned scan, so even the sample path reads
  only overlapping zones.

The routing signal is the zone map itself: Σ n_rows of overlapping
zones / Σ n_rows — a bounded O(zones) readout, no data scan, and
(because the zone stats are replayable integer arithmetic) fully
reproducible by the DuckDB oracle, which re-derives the decision AND
the chosen path. Both paths emit the same schema
``(sum_value, ci_lower, ci_upper, n_samples, path, sel_est)``, so the
router is transparent to callers.

At 100 TB the decision costs KBs; the seek path reads only
overlapping zone directories (PartitionFilters); the sample path
reads ``fraction`` of them. The threshold trades seek IO against CI
width — the paper tunes it per index; here it is an explicit
parameter with the default at the point where a 10% sample of the
overlap stops being cheaper than reading the overlap exactly.

Like the engine's other estimate paths, the sampled sum keeps
integer-cents moments so the HT estimate is bit-reproducible
(`plans/aqpplus.py` documents the contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    fraction_threshold,
    portable_hash_col,
    portable_hash_sql,
)
from approximatequeryengine_spark.plans.estimators import Z_95, ht_integer_margin
from approximatequeryengine_spark.plans.sampling import sql_double
from approximatequeryengine_spark.sources.zonemap import ZonemapIndex, zonemap_load


def sample_seek_range_sum(
    spark: SparkSession,
    index: ZonemapIndex | str,
    lo: int,
    hi: int,
    row_key: str = "__rk",
    fraction: float = 0.1,
    seek_threshold: float = 0.05,
    z: float = Z_95,
) -> DataFrame:
    """Route a key-range SUM through seek-or-sample over a persisted
    zone-map layout (built by ``zonemap_write`` with the row key kept
    as a column named ``row_key``; pass its handle, or a path to load
    it from). One row; see module docstring for the schema."""
    if isinstance(index, str):
        index = zonemap_load(spark, index)
    hit = index.overlapping(lo, hi)
    total_rows = sum(z[3] for z in index.zones)
    sel_est = sum(z[3] for z in hit) / total_rows if total_rows else 0.0
    seek = sel_est <= seek_threshold
    data = index.read(spark, [z[0] for z in hit])
    data = data.filter(F.col("__key").between(F.lit(lo), F.lit(hi)))
    if seek:
        m = data.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(F.sum("__cents"), F.lit(0)).cast("long").alias("s1"),
        )
        est_d = F.round(F.col("s1") / F.lit(100.0), 2)
        return m.select(
            est_d.alias("sum_value"),
            est_d.alias("ci_lower"),
            est_d.alias("ci_upper"),
            F.col("n").alias("n_samples"),
            F.lit("seek").alias("path"),
            F.round(F.lit(sel_est), 4).alias("sel_est"),
        )

    thr = fraction_threshold(fraction)
    sampled = data.filter(
        portable_hash_col(F.col(row_key).cast("long")) < F.lit(thr)
    )
    m = sampled.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("__cents"), F.lit(0)).cast("long").alias("s1"),
        F.coalesce(
            F.sum(F.col("__cents").cast("double") * F.col("__cents")), F.lit(0.0)
        ).alias("s2"),
    )
    est_cents = F.col("s1") * F.lit(1.0 / fraction)
    vconst = (1.0 - fraction) / (fraction * fraction) / 10000.0
    margin_d = ht_integer_margin("n", f"s2 * {sql_double(vconst)}", z)
    return m.select(
        F.round(est_cents / F.lit(100.0), 2).alias("sum_value"),
        F.round(est_cents / F.lit(100.0) - margin_d, 2).alias("ci_lower"),
        F.round(est_cents / F.lit(100.0) + margin_d, 2).alias("ci_upper"),
        F.col("n").alias("n_samples"),
        F.lit("sample").alias("path"),
        F.round(F.lit(sel_est), 4).alias("sel_est"),
    )


def sample_seek_range_sum_sql(
    table: str,
    key_sql: str,
    value_cents_sql: str,
    row_key_sql: str,
    lo: int,
    hi: int,
    n_zones: int = 64,
    fraction: float = 0.1,
    seek_threshold: float = 0.05,
    z: float = Z_95,
) -> str:
    """DuckDB oracle: re-derives the zone layout, the overlap-based
    selectivity estimate, the ROUTE, and the chosen path's answer —
    one query certifying the decision and both execution paths."""
    thr = fraction_threshold(fraction)
    inv_f = 1.0 / fraction
    vconst = (1.0 - fraction) / (fraction * fraction) / 10000.0
    h = portable_hash_sql("rk", 0)
    return f"""
WITH base AS (
  SELECT CAST({key_sql} AS BIGINT) AS k,
         CAST({value_cents_sql} AS BIGINT) AS cents,
         CAST({row_key_sql} AS BIGINT) AS rk
  FROM {table}
),
meta AS (
  SELECT min(k) AS mn,
         greatest(1, CAST(floor((max(k) - min(k) + {n_zones}) / {n_zones}.0) AS BIGINT)) AS width
  FROM base
),
zoned AS (
  SELECT k, cents, rk,
         CAST(floor((k - mn) / (width * 1.0)) AS BIGINT) AS z
  FROM base, meta
),
zm AS (
  SELECT z, min(k) AS zmin, max(k) AS zmax, count(*) AS n_rows
  FROM zoned GROUP BY 1
),
route AS (
  SELECT (SELECT CAST(coalesce(sum(n_rows), 0) AS DOUBLE) FROM zm
          WHERE zmax >= {lo} AND zmin <= {hi})
         / (SELECT CAST(sum(n_rows) AS DOUBLE) FROM zm) AS sel_est
),
pruned AS (
  SELECT zoned.* FROM zoned
  WHERE z IN (SELECT z FROM zm WHERE zmax >= {lo} AND zmin <= {hi})
    AND k BETWEEN {lo} AND {hi}
),
seek AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(cents), 0) AS BIGINT) AS s1
  FROM pruned
),
samp AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(cents), 0) AS BIGINT) AS s1,
         coalesce(sum(CAST(cents AS DOUBLE) * cents), 0.0) AS s2
  FROM pruned WHERE {h} < {thr}
),
calc AS (
  SELECT r.sel_est,
         CASE WHEN r.sel_est <= {seek_threshold!r} THEN 'seek' ELSE 'sample' END AS path,
         sk.n AS seek_n, sk.s1 AS seek_s1,
         sp.n AS samp_n,
         sp.s1 * {inv_f!r} AS samp_cents,
         CASE WHEN sp.n >= 2
              THEN {z!r} * sqrt(greatest(sp.s2 * {vconst!r}, 0.0))
              ELSE 0.0 END AS m0
  FROM route r, seek sk, samp sp
)
SELECT CASE WHEN path = 'seek' THEN round(seek_s1 / 100.0, 2)
            ELSE round(samp_cents / 100.0, 2) END AS sum_value,
       CASE WHEN path = 'seek' THEN round(seek_s1 / 100.0, 2)
            ELSE round(samp_cents / 100.0
                 - (CASE WHEN m0 > 0 THEN greatest(round(m0, 0), 1.0) ELSE 0.0 END), 2)
       END AS ci_lower,
       CASE WHEN path = 'seek' THEN round(seek_s1 / 100.0, 2)
            ELSE round(samp_cents / 100.0
                 + (CASE WHEN m0 > 0 THEN greatest(round(m0, 0), 1.0) ELSE 0.0 END), 2)
       END AS ci_upper,
       CASE WHEN path = 'seek' THEN seek_n ELSE samp_n END AS n_samples,
       path,
       round(sel_est, 4) AS sel_est
FROM calc
"""
