"""Zone-map (min/max data-skipping) index — persisted sorted layout +
per-zone statistics, the relational analogue of the persisted IVF index
(`operators/similarity.py::ann_ivf_write_index`).

The reference engine's key-range search (SURVEY §2 P5,
`custom_bplus_db.cpp` B+-tree range scans) reads only the leaves
overlapping the requested key range. The Spark-native equivalent of
that capability is NOT a B+-tree (a single-machine pointer structure)
but a zone map over a range-bucketed layout — the design ClickHouse
(marks), Snowflake (micro-partition stats) and parquet row-group
pruning all share:

- **write**: rows are bucketed into ``n_zones`` fixed-width key zones
  (width = ⌈span/n_zones⌉, pure integer arithmetic so the DuckDB
  oracle can re-derive the layout), written as
  ``path/data/__zone=<z>/`` partitioned parquet, sorted by key within
  each zone (parquet row-group stats then prune WITHIN a zone too);
- **zonemap**: a tiny side table (zone, zmin, zmax, n_rows) of ACTUAL
  per-zone key bounds — tighter than the nominal zone range when the
  key space has gaps, which is exactly what a zone map buys over
  arithmetic bucket pruning;
- **query**: a key-range aggregate consults the zonemap first (the
  build's :class:`ZonemapIndex` handle holds its |zones| rows on the
  driver; ``zonemap_load`` reads them back for a bare path), then
  scans ONLY the
  overlapping zones' directories via a partition-column IN-list
  (PartitionFilters — plan-gated in tests), applying the exact range
  predicate on the survivors.

At 100 TB the zonemap is O(zones) ≈ KBs regardless of data size, the
scan is |selected zones|/|zones| of the corpus, and the layout cost is
one range-shuffle paid at ingest, amortized over every later query —
the same index-once/query-many contract as the IVF and near-dup
indexes. Fixed-width zones keep the oracle replayable; a production
variant would place boundaries at key quantiles for balance (the
trade is documented, not hidden).

The certified readout row carries (n_rows, sum dollars, zones_scanned,
zones_total): the ORACLE re-derives the bucketing, the per-zone
bounds, and the overlap count — so the driver row certifies both the
ANSWER and the PRUNING arithmetic.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from approximatequeryengine_spark.sources.arrow_write import (
    read_partitions,
    read_schema,
    write_partitioned_parquet,
    write_single_parquet,
)


@dataclass(frozen=True)
class ZonemapIndex:
    """What a range probe needs of a built zone layout, held on the
    driver: the zonemap ``(zone, zmin, zmax, n_rows)`` sorted by zone,
    O(zones), and the data's parquet schema."""

    path: str
    zones: tuple[tuple[int, int, int, int], ...]
    data_schema: StructType

    def overlapping(self, lo: int, hi: int) -> list[tuple[int, int, int, int]]:
        """The zones whose actual key bounds meet [lo, hi]."""
        return [z for z in self.zones if z[2] >= lo and z[1] <= hi]

    def read(self, spark: SparkSession, zones: list[int]) -> DataFrame:
        """The data of ``zones`` only, read with the recorded schema."""
        return read_partitions(
            spark, f"{self.path}/data", "__zone", zones, self.data_schema
        )


def _zone_rows(rows) -> tuple[tuple[int, int, int, int], ...]:
    return tuple(sorted(
        (int(r["__zone"]), int(r["zmin"]), int(r["zmax"]), int(r["n_rows"]))
        for r in rows
    ))


def zonemap_load(spark: SparkSession, path: str) -> ZonemapIndex:
    """Read a built layout's handle back from disk; :func:`zonemap_write`
    returns the same handle without this."""
    return ZonemapIndex(
        path,
        _zone_rows(spark.read.parquet(f"{path}/zonemap").collect()),
        read_schema(spark.read.parquet(f"{path}/data"), "__zone"),
    )


def zonemap_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: Column,
    n_zones: int = 64,
    balanced: bool = False,
) -> ZonemapIndex:
    """Persist the zone-partitioned layout + zonemap and return the
    layout's handle. ``key`` must be an integer-valued Column (dates go
    through datediff upstream).

    Two boundary strategies:

    - fixed-width (default): zone width ⌈(span+1)/n_zones⌉ from one
      2-scalar min/max collect — pure integer arithmetic, so the
      DuckDB oracle can re-derive the LAYOUT itself (the certified
      ``index_zonemap_range_sum`` path);
    - ``balanced=True``: boundaries at exact key quantiles via ntile
      over the sorted keys — the production layout for SKEWED keys,
      where fixed-width zones leave some directories huge and others
      empty. Zone SIZES are exact (ntile rank arithmetic); rows with
      duplicate keys may land on either side of a boundary between
      builds (sort-tie placement), which queries never observe — the
      zonemap stats describe the actual layout and the exact range
      predicate runs after pruning. The boundary derivation is one
      global sort (the honest cost; an ingest-scale variant would use
      repartitionByRange's sampled boundaries, trading layout
      determinism it doesn't need). The certified entry keeps the
      oracle-replayable arithmetic layout; tests pin balanced mode:
      same query answers, per-zone sizes within ±1 row on skewed keys.

    Queries (:func:`zonemap_range_sum`) consult only the persisted
    zonemap stats and never re-derive boundaries, so both layouts are
    served by the same read path.
    """
    base = df.withColumn("__key", key.cast("long"))
    mn, mx = base.agg(F.min("__key"), F.max("__key")).collect()[0]
    if mn is None:
        raise ValueError("zonemap_write: no non-null keys")
    if balanced:
        from pyspark.sql.window import Window

        zoned = base.withColumn(
            "__zone",
            (F.ntile(n_zones).over(Window.orderBy("__key")) - 1).cast("long"),
        )
    else:
        width = max(1, (mx - mn + n_zones) // n_zones)
        zoned = base.withColumn(
            "__zone", ((F.col("__key") - F.lit(mn)) / F.lit(width)).cast("long")
        )
    # Commit-light partitioned write (sources/arrow_write): identical
    # directory layout; the task-ordered Arrow batches preserve the
    # sortWithinPartitions order, so row-group min/max stats stay tight.
    write_partitioned_parquet(
        zoned.repartition("__zone").sortWithinPartitions("__key"),
        f"{path}/data",
        "__zone",
    )
    # The zonemap is O(zones) rows — collect it and write driver-side
    # instead of paying a second write job for a KB-scale table.
    zm_rows = (
        zoned.groupBy("__zone")
        .agg(
            F.min("__key").alias("zmin"),
            F.max("__key").alias("zmax"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .collect()
    )
    zones = _zone_rows(zm_rows)
    write_single_parquet(
        spark, list(zones), "__zone long, zmin long, zmax long, n_rows long",
        f"{path}/zonemap",
    )
    return ZonemapIndex(path, zones, read_schema(zoned, "__zone"))


def zonemap_range_sum(
    spark: SparkSession,
    index: ZonemapIndex | str,
    lo: int,
    hi: int,
    value_cents: Column,
) -> DataFrame:
    """Key-range aggregate through the zone map (its handle, or a path
    to load it from): one row (n_rows, sum_value, zones_scanned,
    zones_total).

    The zonemap consult runs on the driver over the handle; the data
    scan carries a partition-column IN-list (directory pruning) plus
    the exact BETWEEN (row pruning within surviving zones, served by
    the sorted row groups).
    """
    if isinstance(index, str):
        index = zonemap_load(spark, index)
    # Every selected zone has a directory: it is in the zonemap because
    # its rows were written.
    cells = [z[0] for z in index.overlapping(lo, hi)]
    data = index.read(spark, cells).filter(F.col("__key").between(F.lit(lo), F.lit(hi)))
    return data.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum(value_cents.cast("long")) / F.lit(100.0), 2).alias("sum_value"),
        F.lit(len(cells)).cast("long").alias("zones_scanned"),
        F.lit(len(index.zones)).cast("long").alias("zones_total"),
    )


def zonemap_range_sum_sql(
    table: str,
    key_sql: str,
    value_cents_sql: str,
    lo: int,
    hi: int,
    n_zones: int = 64,
) -> str:
    """DuckDB oracle: re-derives the fixed-width bucketing, the
    per-zone actual bounds, the overlap selection, and the in-range
    aggregate — certifying layout + pruning + answer together. Integer
    division is spelled floor(·/·.0) (DuckDB ``//`` does true division
    when either operand is DOUBLE; the explicit floor is engine-safe
    for keys ≪ 2^53)."""
    return f"""
WITH base AS (
  SELECT CAST({key_sql} AS BIGINT) AS k,
         CAST({value_cents_sql} AS BIGINT) AS cents
  FROM {table}
),
meta AS (
  SELECT min(k) AS mn,
         greatest(1, CAST(floor((max(k) - min(k) + {n_zones}) / {n_zones}.0) AS BIGINT)) AS width
  FROM base
),
zoned AS (
  SELECT k, cents,
         CAST(floor((k - mn) / (width * 1.0)) AS BIGINT) AS z
  FROM base, meta
),
zm AS (
  SELECT z, min(k) AS zmin, max(k) AS zmax FROM zoned GROUP BY 1
),
sel AS (
  SELECT z FROM zm WHERE zmax >= {lo} AND zmin <= {hi}
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS sum_value,
       (SELECT CAST(count(*) AS BIGINT) FROM sel) AS zones_scanned,
       (SELECT CAST(count(*) AS BIGINT) FROM zm) AS zones_total
FROM zoned
WHERE z IN (SELECT z FROM sel) AND k BETWEEN {lo} AND {hi}
"""
