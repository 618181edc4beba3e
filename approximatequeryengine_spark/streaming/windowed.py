"""Structured Streaming: windowed aggregation over the events table.

The reference has no streaming (SURVEY.md §1.4); its closest concept is
the continuous-validation loop. The idiomatic Spark extension is a
watermarked tumbling-window aggregate: ``readStream`` over the events
parquet → 15-minute windows per event_type → complete-mode memory sink,
driven to completion with ``Trigger.AvailableNow`` so it's testable and
oracle-checkable (the batch equivalent is a plain ``time_bucket``
GROUP BY in DuckDB).

At scale this runs against Kafka/file streams with the same plan; the
watermark bounds state, and the window+key groupBy is the only shuffle.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WINDOW = "15 minutes"
WATERMARK = "30 minutes"


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over any fixture table. The file stream
    source wants a *directory*; the read-only fixture file is exposed
    through a temp-dir symlink."""
    path = f"{sf_dir}/{table}.parquet"
    raw = spark.read.parquet(path)
    stream_dir = tempfile.mkdtemp(prefix="aqe_stream_")
    os.symlink(path, os.path.join(stream_dir, f"{table}.parquet"))
    return spark.readStream.schema(raw.schema).parquet(stream_dir)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream with ``ts`` restored to TimestampType (watermarks
    reject TIMESTAMP_NTZ; the fixture encoding varies — see
    catalog.normalize_ts)."""
    from approximatequeryengine_spark.catalog import normalize_ts

    return normalize_ts(table_stream(spark, sf_dir, "events"), ["ts"])


# State-store partition count for BOUNDED-key-domain streaming
# aggregates. Stateful shuffle partitions are pinned per query at start
# (offset-log metadata) and AQE never coalesces stateful exchanges, so
# the conf default (one per core) runs one state-store task per core
# per micro-batch even when the grouping key domain is a handful of
# values (event_type, window×type, segment, stratum). For those
# operators the useful parallelism is key-bound BY THE ALGORITHM (each
# key's state lives on one task), and what crosses the state exchange
# is either map-side-combined key partials (windowed aggs) or the rows
# of ≤|keys| groups — sizing the layout to the key domain is
# scale-independent. Unbounded-key streams (doc/fingerprint dedup,
# stream-stream joins, upsert state) instead size the layout to the
# data via ``sized_state_partitions`` below.
STREAM_STATE_PARTITIONS = int(os.environ.get("AQE_STREAM_STATE_PARTITIONS", "8"))


def sized_state_partitions(source: DataFrame) -> int | None:
    """Size-proportional state-partition count for UNBOUNDED-key
    stateful streams (stream-stream joins, fingerprint/key dedup,
    upsert state): the state volume scales with the data, so the
    layout derives from the optimizer's size estimate of the stream's
    BATCH twin — ``ceil(size / quantum)``, never raised above the
    session default. Rationale (measured, round 9): every state-store
    partition pays a fixed commit/maintenance cost PER MICRO-BATCH
    (snapshot + delta files + fsync); at the conf default of one
    partition per core, a 2 MB fixture stream spent 4× its task time
    in ~256 near-empty store commits (stream-stream join: 4 stores ×
    32 partitions × 2 batches), wall 11.7 s for 2.3 s of tasks. At
    100 TB the estimate exceeds cap × quantum and the layout is the
    session default — the knob only ever removes empty stores, never
    parallelism the state volume could use. Returns None (caller keeps
    the session default) when the estimate is unusable."""
    try:
        size = int(
            source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    if size >= (1 << 62):  # Long.MaxValue regime: no real estimate
        return None
    from approximatequeryengine_spark.operators import _TASK_QUANTUM_BYTES

    return max(1, -(-size // _TASK_QUANTUM_BYTES))


def run_to_memory_sink(
    df: DataFrame,
    output_mode: str,
    bounded_keys: bool = False,
    state_source: DataFrame | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion (AvailableNow) into a
    uniquely named memory sink; return the sink as a batch DataFrame.
    ``bounded_keys=True`` sizes the query's pinned state layout to
    ``STREAM_STATE_PARTITIONS`` (see note above); ``state_source=``
    (a BATCH DataFrame whose size estimate proxies the run's state
    volume) sizes it size-proportionally via
    ``sized_state_partitions`` — both only ever LOWER the session
    default, for the duration of the (synchronous) run."""
    spark = df.sparkSession
    sink = f"stream_out_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    target: int | None = None
    if bounded_keys:
        target = STREAM_STATE_PARTITIONS
    elif state_source is not None:
        target = sized_state_partitions(state_source)
    if target is not None:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(int(prev), target))
        )
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if target is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return df.sparkSession.table(sink)


def windowed_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the windowed aggregate as a real stream (file source,
    AvailableNow trigger, memory sink) and return the final result."""
    # event-TIME processing requires an event time: NULL-ts rows are
    # dropped explicitly (the watermark machinery silently drops them
    # anyway; the filter makes the oracle-mirrored semantics visible)
    stream = events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window(F.col("ts"), WINDOW).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory_sink(agg, "complete", bounded_keys=True)


def windowed_event_counts_sql() -> str:
    return """
SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


SLIDE_WINDOW = "30 minutes"
SLIDE = "10 minutes"


def sliding_event_counts_batch(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Hopping (sliding) windows — 30-minute windows every 10 minutes,
    so each event contributes to exactly 3 overlapping windows. Same
    shared-logical-plan contract as the tumbling pair: the stream
    computes this incrementally, batch in one job."""
    return (
        events.groupBy(
            F.window(F.col("ts"), SLIDE_WINDOW, SLIDE).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hopping-window aggregate as a real stream. Live state is
    (window_size/slide) × |event_types| rows per open window span.
    NOTE on modes: this runner uses ``complete`` output (the memory
    sink must hold the whole result for the batch-parity oracle), and
    in complete mode Spark retains ALL window state — the watermark
    does NOT evict. A production deployment on an unbounded stream
    would use ``update``/``append`` mode, where the declared watermark
    closes windows older than (max event time − watermark) and evicts
    their state — that is what keeps overlapping windows viable
    long-running; the aggregation plan is identical either way."""
    stream = events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window(F.col("ts"), SLIDE_WINDOW, SLIDE).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory_sink(agg, "complete", bounded_keys=True)


def sliding_event_counts_sql() -> str:
    """DuckDB oracle: replicate each event into its 3 overlapping
    windows (start = 10-minute bucket − k·10min for k ∈ {0,1,2}; every
    candidate satisfies start ≤ ts < start + 30min because
    bucket(ts) − 20min > ts − 30min), then aggregate."""
    return """
SELECT ws AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM (
  SELECT e.event_type, e.value,
         time_bucket(INTERVAL 10 MINUTE, e.ts) - k * INTERVAL 10 MINUTE AS ws
  FROM events e, unnest([0, 1, 2]) AS t(k)
  WHERE e.ts IS NOT NULL
)
GROUP BY 1, 2
"""
