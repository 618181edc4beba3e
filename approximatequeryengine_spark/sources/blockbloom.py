"""Block bloom-filter data-skipping index — the EQUALITY-predicate
complement of the zone map (`sources/zonemap.py`).

A zone map prunes blocks for range predicates on the CLUSTERING key;
it is useless for point lookups on an unclustered column (every block's
[min, max] spans the whole domain). The standard answer — parquet
row-group bloom filters, ClickHouse ``bloom_filter`` skip indexes,
Impala/Kudu block blooms — is a small per-block bloom filter over the
lookup column:

- **write**: rows are blocked by fixed-width ranges of the ingest key,
  with the block COUNT capped (default 1024): width =
  max(block_width, ceil(span / max_blocks)). An uncapped fixed width
  MEASURED the failure it causes — 5 865 block directories at the sf1
  replica scale made file listing dominate the query (10.2 s) — while
  a fixed block COUNT saturates the filters instead; the cap + the
  width-scaled filter below give constant per-key filter load at any
  scale. Each block gets an ``m``-bit bloom over the lookup column
  with ``m = 16·width`` (constant bits/key), stored SPARSELY as
  (block, word, bits) rows of 32-bit words in BIGINTs — absent words
  are all-zero, so storage is O(set bits / 32), never O(m) — built by
  one ``bit_or`` shuffle. The (min, width, m) layout parameters are
  persisted as ``path/meta``.
- **hashing**: probes use the avalanche family
  (`functions/hashing.py::with_avalanche_h`) with salts 0..k-1; the
  bit index is the RANGE-SCALED high word ``(h · m) // 2³²`` in exact
  integer arithmetic (h < 2³², m < 2²⁵ → products < 2⁵⁷, no float
  rounding in any engine). Both choices are measured, not stylistic:
  the portable threshold-sampling hash's low bits gave a 7.5%
  false-positive block rate where independent probes predict 0.5%,
  and 2 Kibit/k=2 gave 15%; the avalanche high bits at 16 bits/key,
  k=3 measure ~1.4% at sf0.1.
- **handle**: the build returns a :class:`BlockBloomIndex` — ``m``,
  the block count and the recorded parquet schemas, all O(1) — which
  the engine keeps per registered index; ``blockbloom_load`` rebuilds
  it from disk for callers that hold only the path.
- **query**: a point lookup computes its k probe (word, mask) pairs
  driver-side, reads ONLY the bloom rows of those ≤ k words (the bloom
  table is written sorted by word, so parquet row-group statistics
  skip the rest), keeps the blocks where every probed word covers its
  mask (a missing (block, word) row means those bits are 0 → pruned),
  and sums the ``__cents`` the build stored for the rows of only those
  block directories that hold the key. A local index is read with
  pyarrow on the driver, and the readout is one projection over a
  local frame, so the probe runs no Spark job; an index on any other
  filesystem takes one Spark aggregate over the same directories. No
  false negatives — every ingested key OR-ed its probes into its
  block — so the answer is EXACT; false positives only add read
  blocks.

At 100 TB: ≤ max_blocks directories regardless of data size, the
bloom side table is O(distinct keys · k / 32) words, and the consult
reads ≤ k · blocks of them (a pyarrow filtered read on the driver for
a local index, a filtered Spark read elsewhere). The certified
readout row carries (n_rows, sum, blocks_scanned, blocks_total) so the
DRIVER certifies the layout, the bloom arithmetic, the pruning AND the
answer — the oracle re-derives all four, including the data-dependent
(min, width, m), in SQL.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from approximatequeryengine_spark.sources.arrow_write import (
    _local_path,
    bigint_col,
    exact_sum_readout,
    read_partitions,
    read_partitions_arrow,
    read_schema,
    write_partitioned_parquet,
    write_single_parquet,
)
from approximatequeryengine_spark.sources.swap import (
    heal_synopsis,
    read_synopsis,
    staged_swap,
)
from approximatequeryengine_spark.functions.hashing import (
    HASH_SPACE,
    avalanche_hash_sql_steps,
    avalanche_np,
    with_avalanche_h,
)

BITS_PER_KEY = 16  # m = BITS_PER_KEY · block_width
K_PROBES = 3
MAX_BLOCKS = 1024


def probe_masks(key: int, m_bits: int, k: int = K_PROBES) -> dict[int, int]:
    """word → OR-ed mask for the k probes of ``key`` into an
    ``m_bits``-bit filter (probes landing in the same word merge, so
    the survival check is per-WORD). The probe hashes are
    ``avalanche_np`` over salts 0..k-1 — the build's
    ``with_avalanche_h`` in NumPy form."""
    out: dict[int, int] = {}
    for h in avalanche_np(key, np.arange(k)).tolist():
        bit = (h * m_bits) // HASH_SPACE
        w, m = bit // 32, 1 << (bit % 32)
        out[w] = out.get(w, 0) | m
    return out


M_BITS_MAX = 1 << 25  # keeps h·m < 2^57: exact in BIGINT on every engine


@dataclass(frozen=True)
class BlockBloomIndex:
    """What a point probe needs of a built index, held on the driver:
    the filter width, the number of blocks with bloom rows, and the
    parquet schemas of the data and bloom tables. The bloom words
    themselves (O(rows)) stay on disk."""

    path: str
    m_bits: int
    blocks_total: int
    data_schema: StructType
    bloom_schema: StructType


def blockbloom_load(spark: SparkSession, path: str) -> BlockBloomIndex:
    """Read a built (or appended-to) index's handle back from disk;
    :func:`blockbloom_write` returns the same handle without this."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    bloom = read_synopsis(spark, f"{path}/bloom")
    return BlockBloomIndex(
        path,
        int(meta["m_bits"]),
        bloom.agg(F.countDistinct("__block")).collect()[0][0],
        read_schema(spark.read.parquet(f"{path}/data"), "__block"),
        bloom.schema,
    )


def _layout(mn: int, mx: int, block_width: int, max_blocks: int) -> tuple[int, int]:
    width = max(block_width, (mx - mn + max_blocks) // max_blocks)
    m_bits = BITS_PER_KEY * width
    if m_bits >= M_BITS_MAX:
        # h (< 2^32) · m must stay below 2^63 EXACTLY in both engines
        # AND below the 2^57 the oracle's integer arithmetic assumes;
        # past it, Spark wraps silently and write-side bits diverge
        # from driver-side probes — silent false negatives. Refuse.
        raise ValueError(
            f"blockbloom: ingest-key span {mx - mn + 1} needs filter width "
            f"{width} (m = {m_bits} bits ≥ 2^25). Quantize the ingest key "
            f"(e.g. days instead of millis) or raise max_blocks."
        )
    return width, m_bits


def _probe_rows(base: DataFrame, m_bits: int, k: int) -> DataFrame:
    """(block, word, mask) probe rows for every non-null lookup key in
    ``base`` — THE probe arithmetic, shared by write and append so the
    append == rebuild bitwise invariant cannot drift.

    ONE pass: the k salts explode as a column and the avalanche hash
    runs once with the per-row salt (``with_avalanche_h`` takes a
    Column salt) — the earlier k-way union of per-salt selects
    re-scanned ``base`` k times for the identical row multiset
    (guide §2.4: don't recompute a shared input per consumer)."""
    src = base.filter(F.col("__lk").isNotNull()).select(
        "__block",
        "__lk",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__salt"),
    )
    hdf = with_avalanche_h(src, F.col("__lk"), F.col("__salt"), h_col="__h")
    # exact integer range-scaling: (h · m) div 2^32 < m, no floats
    bit = F.expr(f"CAST((__h * {m_bits}) div {HASH_SPACE} AS BIGINT)")
    return hdf.select(F.col("__block"), bit.alias("__bit")).select(
        F.col("__block"),
        (F.col("__bit") / F.lit(32)).cast("long").alias("word"),
        # shiftleft needs a literal shift in the Python API; the SQL
        # form takes a column. Bit positions are < 32 so the mask
        # stays < 2^32 — exact in BIGINT on both engines.
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__bit % 32 AS INT))").alias(
            "mask"
        ),
    )


def blockbloom_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    ingest_key: Column,
    lookup_key: Column,
    value_cents: Column | str,
    block_width: int = 256,
    max_blocks: int = MAX_BLOCKS,
    k: int = K_PROBES,
) -> BlockBloomIndex:
    """Persist ``path/data`` partitioned by ``__block`` (the rows of
    ``df`` plus ``__lk`` and ``__cents``, the lookup key and
    ``value_cents`` — a Column or Spark SQL text — as BIGINTs), the
    sparse ``path/bloom`` = (block, word, bits) side table sorted by
    word, and ``path/meta`` = the 1-row (mn, width, m) layout
    parameters; return the index's handle. The block count reaches the
    driver as an observed metric of the bloom write, so the handle
    costs no read-back."""
    base = df.select(
        "*",
        lookup_key.cast("long").alias("__lk"),
        bigint_col(value_cents, "__cents"),
        ingest_key.cast("long").alias("__ik"),
    )
    mn, mx, n_null = base.agg(
        F.min("__ik"),
        F.max("__ik"),
        F.sum(F.when(F.col("__ik").isNull(), 1).otherwise(0)),
    ).collect()[0]
    if mn is None:
        raise ValueError("blockbloom_write: no non-null ingest keys")
    if n_null:
        # A NULL ingest key has no block: its rows would land in the
        # Hive default partition OUTSIDE the pruning arithmetic and
        # either crash the consult (int(None)) or silently vanish from
        # 'exact' answers. The layout key must be total.
        raise ValueError(
            f"blockbloom_write: {n_null} NULL ingest keys; the blocking "
            "key must be non-null (NULL lookup keys are fine — they are "
            "stored but never probed)"
        )
    width, m_bits = _layout(int(mn), int(mx), block_width, max_blocks)
    base = base.withColumn(
        "__block", F.floor((F.col("__ik") - F.lit(int(mn))) / F.lit(width)).cast("long")
    ).drop("__ik")
    # Commit-light block write + driver-side meta (sources/arrow_write):
    # same directory layout, ~6× less wall for the many-small-files
    # write at fixture scale (per-file writer/commit overhead, guide §6).
    write_partitioned_parquet(
        base.repartition("__block"), f"{path}/data", "__block"
    )
    bloom = (
        _probe_rows(base, m_bits, k)
        .groupBy("__block", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    obs = Observation()
    _write_bloom(
        bloom.observe(obs, F.collect_set("__block").alias("blocks")), f"{path}/bloom"
    )
    write_single_parquet(
        spark,
        [(int(mn), width, m_bits)],
        "mn long, width long, m_bits long",
        f"{path}/meta",
    )
    return BlockBloomIndex(
        path,
        m_bits,
        len(obs.get["blocks"]),
        read_schema(base, "__block"),
        read_schema(bloom),
    )


def _write_bloom(bloom: DataFrame, dest: str) -> None:
    # Sorted by word within each file, so a probe's `word IN need`
    # filter skips every row group that holds none of its words.
    bloom.sortWithinPartitions("word").write.mode("overwrite").parquet(dest)


def blockbloom_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    ingest_key: Column,
    lookup_key: Column,
    value_cents: Column | str,
    k: int = K_PROBES,
) -> None:
    """Append a batch to an existing index WITHOUT rebuilding: the new
    rows' probe words bit_or-merge into the bloom side table (OR is
    exactly the bloom merge law), and the batch's data appends to its
    block directories. Layout parameters come from the persisted meta,
    so append == rebuild-under-the-same-meta bit for bit (pinned in
    tests). Batch keys beyond the original ingest span simply land in
    new block ids (the block arithmetic extends past the cap; a
    compaction would re-derive the layout — the documented trade).

    The bloom-side refresh stages the merged table then swaps it in,
    because the merge READS ``{path}/bloom`` and Spark cannot overwrite
    its own input in place. The swap goes through the Hadoop
    FileSystem API resolved from the path's own scheme, so ``path``
    may be any Hadoop-compatible URI (file://, hdfs://, s3a://) — the
    same writer surface as the rest of the module. The swap retires the
    live table to ``bloom_old`` before renaming the staged one in, so a
    crash at ANY step leaves a complete copy on disk: if ``bloom`` is
    missing, rename ``bloom_old`` (pre-append state) or ``bloom_staged``
    (post-append state) back into place. (On object stores the "rename"
    is the FS connector's copy+delete; the brief window where readers
    see a missing ``bloom`` table is the documented non-transactional
    trade of this plain-parquet index.)"""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    mn, width, m_bits = int(meta["mn"]), int(meta["width"]), int(meta["m_bits"])
    base = df.select(
        "*",
        lookup_key.cast("long").alias("__lk"),
        bigint_col(value_cents, "__cents"),
        F.floor((ingest_key.cast("long") - F.lit(mn)) / F.lit(width))
        .cast("long")
        .alias("__block"),
    )
    n_null = base.filter(F.col("__block").isNull()).count()
    if n_null:
        raise ValueError(
            f"blockbloom_append: {n_null} NULL ingest keys in the batch; "
            "the blocking key must be non-null"
        )
    write_partitioned_parquet(
        base.repartition("__block"), f"{path}/data", "__block", mode="append"
    )
    old = read_synopsis(spark, f"{path}/bloom").select(
        "__block", "word", F.col("bits").alias("mask")
    )
    merged = (
        old.unionAll(_probe_rows(base, m_bits, k))
        .groupBy("__block", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # stage-then-swap: 'merged' READS {path}/bloom, so writing over it
    # in place would consume its own input. The crash-safe ritual
    # (retire aside, never delete before the swap lands) is the shared
    # sources/swap.py helper — recover_synopsis() restores the table
    # from whichever complete copy a crash left behind.
    staged_swap(
        spark,
        f"{path}/bloom",
        lambda p: _write_bloom(merged, p),
        name="blockbloom_append",
    )


def _surviving_blocks(
    spark: SparkSession, index: BlockBloomIndex, need: dict[int, int]
) -> list[int]:
    """Blocks whose bloom words cover every probe mask in ``need``,
    reading only the rows of the probed words: a pyarrow filtered read
    on the driver for a local index (no Spark job), a filtered Spark
    read with the recorded schema elsewhere. Either way at most
    ``len(need)`` rows per block reach the driver."""
    bloom = f"{index.path}/bloom"
    heal_synopsis(spark, bloom)
    words = sorted(need)
    local = _local_path(spark, bloom)
    if local is not None:
        import pyarrow.dataset as ds

        tbl = ds.dataset(local, format="parquet").to_table(
            columns=["__block", "word", "bits"], filter=ds.field("word").isin(words)
        )
        rows = zip(*(tbl.column(c).to_pylist() for c in ("__block", "word", "bits")))
    else:
        rows = (
            spark.read.schema(index.bloom_schema)
            .parquet(bloom)
            .filter(F.col("word").isin(words))
            .collect()
        )
    hits = Counter(b for b, w, bits in rows if bits & need[w] == need[w])
    return sorted(b for b, n in hits.items() if n == len(need))


def _key_moments(
    spark: SparkSession, index: BlockBloomIndex, cells: list[int], key: int
) -> tuple[int, int | None]:
    """``(n, Σcents)`` of the rows of ``cells`` whose lookup key is
    ``key``; the sum is None when no row matches, as SQL's is."""
    if not cells:
        return 0, None
    data = f"{index.path}/data"
    fs_path = _local_path(spark, data)
    if fs_path is None:
        n, s = (
            read_partitions(spark, data, "__block", cells, index.data_schema)
            .filter(f"__lk = {key}")
            .selectExpr("count(1)", "sum(__cents)")
            .collect()[0]
        )
        return n, s
    import pyarrow.compute as pc

    tbl = read_partitions_arrow(fs_path, "__block", cells, ["__lk", "__cents"])
    hit = tbl.filter(pc.equal(tbl["__lk"], key))
    return hit.num_rows, pc.sum(hit["__cents"]).as_py()


def blockbloom_point_sum(
    spark: SparkSession,
    index: BlockBloomIndex | str,
    key: int,
    k: int = K_PROBES,
) -> DataFrame:
    """Point-lookup aggregate through the bloom index (its handle, or a
    path to load it from): one row (n_rows, sum_value, blocks_scanned,
    blocks_total). The consult reads ≤ k bloom words per block; the
    key's rows are read only from the surviving block directories, and
    the readout is one projection over a local frame."""
    if isinstance(index, str):
        index = blockbloom_load(spark, index)
    cells = _surviving_blocks(spark, index, probe_masks(key, index.m_bits, k))
    # Every cell has a directory: a block appears in the bloom table
    # only via its ingested rows.
    moments = _key_moments(spark, index, cells, key)
    return exact_sum_readout(spark, *moments, len(cells), index.blocks_total)


def blockbloom_point_sum_sql(
    table: str,
    ingest_key_sql: str,
    lookup_key_sql: str,
    value_cents_sql: str,
    key: int,
    block_width: int = 256,
    max_blocks: int = MAX_BLOCKS,
    k: int = K_PROBES,
) -> str:
    """DuckDB oracle: re-derives the data-dependent layout (min, width,
    m), the per-block bloom words, the probe positions for the literal
    key, the survival test, and the in-block exact aggregate — layout +
    bloom arithmetic + pruning + answer in one query."""
    salt_rows = " UNION ALL ".join(f"SELECT {s} AS salt" for s in range(k))
    steps, final = avalanche_hash_sql_steps("lk", "salt")
    qsteps, qfinal = avalanche_hash_sql_steps(str(key), "salt")
    return f"""
WITH raw AS (
  SELECT CAST({ingest_key_sql} AS BIGINT) AS ik,
         CAST({lookup_key_sql} AS BIGINT) AS lk,
         CAST({value_cents_sql} AS BIGINT) AS cents
  FROM {table}
),
meta AS (
  SELECT min(ik) AS mn,
         greatest({block_width},
                  (max(ik) - min(ik) + {max_blocks}) // {max_blocks}) AS width
  FROM raw
),
meta2 AS (SELECT mn, width, {BITS_PER_KEY} * width AS m FROM meta),
base AS (
  SELECT (ik - mn) // width AS b, lk, cents FROM raw, meta2
),
salts AS ({salt_rows}),
hashed AS (
  -- NULL lookup keys carry no bloom bits on the Spark side
  -- (_probe_rows filters them), so a block whose lookup keys are ALL
  -- NULL must not appear in blocks_total here either — both engines
  -- derive the bloom table from the same row set.
  SELECT b, {steps}, m FROM base, salts, meta2 WHERE lk IS NOT NULL
),
bloom AS (
  SELECT b, (({final} * m) // {HASH_SPACE}) // 32 AS word,
         bit_or(CAST(1 AS BIGINT)
                << CAST((({final} * m) // {HASH_SPACE}) % 32 AS INTEGER)) AS bits
  FROM hashed
  GROUP BY 1, 2
),
need AS (
  SELECT word, bit_or(mask) AS req FROM (
    SELECT (({qfinal} * m) // {HASH_SPACE}) // 32 AS word,
           CAST(1 AS BIGINT)
             << CAST((({qfinal} * m) // {HASH_SPACE}) % 32 AS INTEGER) AS mask
    FROM (SELECT {qsteps}, m FROM salts, meta2)
  ) GROUP BY 1
),
sel AS (
  SELECT b FROM bloom JOIN need USING (word)
  WHERE (bits & req) = req
  GROUP BY b
  HAVING count(*) = (SELECT count(*) FROM need)
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS sum_value,
       (SELECT CAST(count(*) AS BIGINT) FROM sel) AS blocks_scanned,
       (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM bloom) AS blocks_total
FROM base
WHERE b IN (SELECT b FROM sel) AND lk = {key}
"""
