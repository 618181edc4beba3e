"""Structured Streaming pipeline operators beyond windowed aggregation:
watermarked streaming deduplication and stream-static enrichment joins.

The reference has no streaming at all (SURVEY.md §1.4 / §2.9); these are
the training-data-pipeline shapes a streaming ingest needs. Both run as
real streams (file source via ``events_stream``, AvailableNow trigger,
memory sink) so they are testable and DuckDB-oracle-checkable, and both
keep the 100 TB plan shape:

- **Streaming dedup**: ``withWatermark + dropDuplicates`` keeps one
  state entry per key and *purges keys once the watermark passes their
  event time* — bounded state on an unbounded stream. The dedup key
  includes the time bucket, so state size is O(active keys within the
  watermark horizon), not O(stream history).
- **Stream-static join**: the static dimension is broadcast to every
  task; the stream side never shuffles before the join. The only
  shuffle is the downstream aggregation on the enrichment key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.catalog import Catalog
from approximatequeryengine_spark.streaming.windowed import (
    events_stream,
    run_to_memory_sink,
    table_stream,
)

DEDUP_BUCKET = "1 hour"
DEDUP_WATERMARK = "2 hours"


def dedup_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup of events on (user_id, event_type, hour bucket).

    The stream emits each first-seen key exactly once (append mode —
    the natural mode for dedup: a row is final the moment it survives).
    Which *row* survives a duplicate group is racy, so the streamed
    columns are exactly the dedup key — every downstream answer is then
    deterministic and the DuckDB oracle is a COUNT(DISTINCT ...).
    The returned DataFrame aggregates the sink per event_type.
    """
    # NULL-ts rows are dropped: time-bucketed dedup needs a time
    stream = events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    deduped = (
        stream.withWatermark("ts", DEDUP_WATERMARK)
        .select(
            "user_id",
            "event_type",
            F.window(F.col("ts"), DEDUP_BUCKET).alias("w"),
        )
        .dropDuplicates(["user_id", "event_type", "w"])
    )
    sink = run_to_memory_sink(
        deduped,
        "append",
        state_source=Catalog(spark, sf_dir, register_views=False).table("events"),
    )
    return (
        sink.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


def dedup_events_sql() -> str:
    return """
SELECT event_type,
       count(DISTINCT (user_id, time_bucket(INTERVAL 1 HOUR, ts))) AS n_unique
FROM events WHERE ts IS NOT NULL GROUP BY event_type ORDER BY event_type
"""


def enriched_revenue_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched with the static
    customer dimension (broadcast — re-resolved per micro-batch, so a
    slowly-changing dimension refreshes without restarting the query),
    aggregated per market segment in complete mode."""
    customer = F.broadcast(
        Catalog(spark, sf_dir, register_views=False).table("customer")
    )
    stream = events_stream(spark, sf_dir)
    joined = stream.join(customer, stream.user_id == customer.c_custkey)
    agg = (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return run_to_memory_sink(agg, "complete", bounded_keys=True).orderBy("c_mktsegment")


def enriched_revenue_sql() -> str:
    return """
SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


SESSION_GAP = "30 minutes"
SESSION_WATERMARK = "2 hours"


def session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows: ``F.session_window`` merges events
    into gap-bounded sessions *incrementally* — the state store holds
    open sessions per user and the watermark closes+evicts them. The
    returned DataFrame aggregates the sink per user (session count +
    event count), which the gaps-and-islands batch SQL reproduces.

    Session-boundary convention: a session spans ``[first_ts,
    last_ts + gap)`` (half-open), so an event arriving exactly ``gap``
    after the previous one starts a NEW session — hence the oracle's
    ``>= INTERVAL`` (not ``>``)."""
    # NULL-ts rows are dropped: a session is a span of event TIME
    stream = events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = (
        stream.withWatermark("ts", SESSION_WATERMARK)
        .groupBy(
            F.session_window(F.col("ts"), SESSION_GAP).alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = run_to_memory_sink(
        agg,
        "complete",
        state_source=Catalog(spark, sf_dir, register_views=False).table("events"),
    )
    return (
        sink.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


def session_windows_sql() -> str:
    return """
SELECT user_id, CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
  SELECT user_id, CASE WHEN ts - lag(ts) OVER
    (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
    THEN 1 ELSE 0 END AS new_s FROM events WHERE ts IS NOT NULL) t
GROUP BY user_id ORDER BY user_id
"""


def corpus_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest deduplicated on the exact content
    fingerprint (md5 of the raw text) — the incremental form of the
    batch cleaning pipeline's dedup stage: as documents arrive, only
    first-seen content passes downstream.

    Content has no event time, so the dedup state is keyed purely by
    (lang, fingerprint) and NOT watermark-purged — state grows with the
    number of distinct documents (at 100 TB you'd shard the state store
    by fp or periodically compact against the served corpus; documented
    trade-off, unlike time-keyed dedup which self-bounds).

    The key includes ``lang``, not just fp: the same text CAN appear
    under two languages (observed at sf0.1), and a global fp-only dedup
    keeps an arbitrary-language survivor — nondeterministic per-lang
    counts. Within-language dedup is the standard corpus-curation
    semantics and every surviving row's (lang, n_chars) is then
    deterministic, so the per-language aggregate is oracle-checkable."""
    stream = (
        table_stream(spark, sf_dir, "documents")
        # NULL text has no content fingerprint: excluded from content
        # dedup (they all share fp NULL, so dropDuplicates would keep
        # ONE arrival-order survivor whose n_chars is nondeterministic
        # — and such docs carry nothing to deduplicate anyway).
        .filter(F.col("text").isNotNull())
        .select("lang", "n_chars", F.md5(F.col("text").cast("binary")).alias("fp"))
    )
    deduped = stream.dropDuplicates(["lang", "fp"])
    sink = run_to_memory_sink(
        deduped,
        "append",
        state_source=Catalog(spark, sf_dir, register_views=False).table("documents"),
    )
    return (
        sink.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_unique_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


def corpus_dedup_sql() -> str:
    return """
WITH d AS (SELECT lang, md5(text) AS fp, min(n_chars) AS n_chars
           FROM documents WHERE text IS NOT NULL GROUP BY lang, md5(text))
SELECT lang, count(*) AS n_unique_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM d GROUP BY lang ORDER BY lang
"""


SAMPLED_FRACTION = 0.10


def sampled_revenue_stream(
    spark: SparkSession, sf_dir: str, fraction: float = SAMPLED_FRACTION
) -> DataFrame:
    """Approximate aggregation ON A STREAM: the events stream is
    filtered by the deterministic uniform-hash predicate (the same
    scan-time sample the batch engine uses), the micro-batch pipeline
    maintains per-type moments (n, Σx, Σx²), and the sink finalizes
    Horvitz-Thompson estimates + CIs with arithmetic identical to
    ``plans/estimators.moments_sql`` — so the refining streaming
    estimate is DuckDB-oracle-checkable once the stream drains.

    This is the reference's continuous-refinement idea (scheduler V1/V2)
    expressed idiomatically: state is 3 doubles per group (bounded), the
    sample predicate is evaluated at ingest (10× less state and shuffle
    at any scale), and the estimate sharpens every micro-batch."""
    from approximatequeryengine_spark.functions.hashing import (
        fraction_threshold,
        portable_hash_col,
    )
    from approximatequeryengine_spark.plans.estimators import Z_95, _ci_columns

    stream = events_stream(spark, sf_dir)
    thr = fraction_threshold(fraction)
    sampled = stream.filter(
        portable_hash_col(F.col("event_id").cast("long")) < F.lit(thr)
    )
    from approximatequeryengine_spark.plans.estimators import finite_col

    # finite gate: one NaN measurement would otherwise poison the
    # running moments into NaN and crash the integer margin cast
    x = finite_col(F.col("value").cast("double"))
    p = float(fraction)
    # Weight per row INSIDE the aggregation (sum(x/p), sum(x²·(1-p)/p²))
    # so the finalization arithmetic is term-for-term identical to the
    # oracle's moments_sql — post-hoc sum(x)/p associates the floats
    # differently and adds avoidable cross-engine divergence.
    agg = sampled.groupBy("event_type").agg(
        F.count(x).alias("n"),
        F.sum(x / F.lit(p)).alias("s_est"),
        F.sum(x * x * F.lit(1.0 - p) / F.lit(p * p)).alias("s_vht"),
    )
    sink = run_to_memory_sink(agg, "complete", bounded_keys=True)
    est = F.col("s_est")
    vht = F.col("s_vht")
    margin = F.lit(Z_95) * F.sqrt(F.greatest(vht, F.lit(0.0)))
    cols = _ci_columns(est, margin, F.col("n"), "sum_value")
    out = sink.select(
        F.col("event_type"),
        *cols,
        F.col("n").cast("long").alias("n_samples"),
    )
    return out.select(
        "event_type",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("ci_lower", 2).alias("ci_lower"),
        F.round("ci_upper", 2).alias("ci_upper"),
        "n_samples",
    ).orderBy("event_type")


def sampled_revenue_sql(fraction: float = SAMPLED_FRACTION) -> str:
    from approximatequeryengine_spark.plans.estimators import moments_sql
    from approximatequeryengine_spark.plans.sampling import (
        SamplingSpec,
        sampling_p_sql,
        sampling_where_sql,
    )

    from approximatequeryengine_spark.plans.estimators import finite_sql

    spec = SamplingSpec(design="uniform_hash", fraction=fraction, key="event_id")
    return moments_sql(
        table="events",
        column=finite_sql("value"),
        where=sampling_where_sql(spec),
        agg="sum",
        p_sql=sampling_p_sql(spec),
        alias="sum_value",
        group_by="event_type",
        round_to=2,
    )


def poststrat_stream(
    spark: SparkSession, sf_dir: str, fraction: float = SAMPLED_FRACTION
) -> DataFrame:
    """POST-STRATIFIED estimation on a stream (round 8): the streaming
    twin of ``plans/poststrat.py::poststrat_sum_ci``, completing the
    model-assisted family's streaming presence. The stream maintains
    per-stratum running moments (count, Σcents, Σcents²) over the
    deterministic uniform-hash sample — bounded state, 3 numbers per
    stratum — while the exact stratum counts come from the static
    catalog side (at scale: table statistics, no scan). Finalization is
    the SHARED ``poststrat_from_moments`` (one code path, so the
    streaming estimate cannot drift from the batch estimator), and
    because every accumulated term is exact integer arithmetic the
    drained stream equals the batch answer bit-for-bit — which is
    exactly what the DuckDB oracle checks."""
    from approximatequeryengine_spark.functions.hashing import (
        fraction_threshold,
        portable_hash_col,
    )
    from approximatequeryengine_spark.plans.estimators import (
        cents_col,
        finite_col,
    )
    from approximatequeryengine_spark.plans.poststrat import (
        poststrat_from_moments,
    )

    stream = events_stream(spark, sf_dir)
    thr = fraction_threshold(fraction)
    sampled = stream.filter(
        portable_hash_col(F.col("event_id").cast("long")) < F.lit(thr)
    )
    # finite gate first (a NaN would poison the running moments), then
    # the integer cents grid — NULL cents still COUNT toward n (the
    # batch estimator's count(1) semantics; sums skip them).
    c = cents_col(finite_col(F.col("value").cast("double"))).cast("decimal(38,0)")
    moments = sampled.groupBy(F.col("event_type").alias("g2")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("sc"),
        F.sum(c * c).alias("sc2"),
    )
    sink = run_to_memory_sink(moments, "complete", bounded_keys=True)
    exact = (
        Catalog(spark, sf_dir)
        .table("events")
        .groupBy(F.col("event_type").alias("g"))
        .agg(F.count(F.lit(1)).alias("n_pop"))
    )
    return poststrat_from_moments(exact, sink)


def poststrat_stream_sql(fraction: float = SAMPLED_FRACTION) -> str:
    """Oracle: the drained stream's estimate IS the batch post-
    stratified estimate (integer moments are order-free), so the batch
    SQL renderer is the oracle verbatim."""
    from approximatequeryengine_spark.plans.estimators import finite_sql
    from approximatequeryengine_spark.plans.poststrat import (
        poststrat_sum_ci_sql,
    )
    from approximatequeryengine_spark.plans.sampling import SamplingSpec

    spec = SamplingSpec(
        design="uniform_hash", fraction=fraction, key="event_id"
    )
    return poststrat_sum_ci_sql(
        "events", finite_sql("value"), "event_type", spec
    )


def countmin_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained Count-Min sketch over a streaming corpus:
    documents arrive as a stream, tokens explode statelessly, and the
    depth×width counters accumulate in micro-batch state (complete
    mode) — streaming heavy-hitter tracking with constant state however
    large the vocabulary grows. Once the stream drains, the counters
    EQUAL the batch sketch (counter addition is order-insensitive), so
    the returned top-k estimate table reuses the batch Count-Min oracle
    verbatim — certifying the incremental maintenance end-to-end."""
    from approximatequeryengine_spark.functions.text import str_hash32_col
    from approximatequeryengine_spark.plans.countmin import (
        CM_DEPTH,
        CM_WIDTH,
        _sketch_arrow,
        _with_idx,
        countmin_topk_estimates,
    )

    stream = table_stream(spark, sf_dir, "documents")
    toks = stream.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    # The NumPy partial-counter kernel serves the stream too (round 10,
    # same argument as the AMS twin): it is a stateless per-partition
    # projection emitting bounded (row, idx, cnt) partials, counters
    # are linear, and the complete-mode SUM state accumulates partials
    # across micro-batches exactly like the exploded per-token rows —
    # the drained sketch is bit-identical (kernel parity pinned by
    # test_countmin_arrow_matches_expression).
    hashed = toks.select(str_hash32_col(F.col("token")).alias("h"))
    sketch_stream = _sketch_arrow(hashed, CM_DEPTH, CM_WIDTH)
    sketch = run_to_memory_sink(sketch_stream, "complete", bounded_keys=True)

    # Probe the drained sketch with the exact top-20 (batch side), same
    # shape as countmin_topk_estimates but against the STREAMED counters.
    from approximatequeryengine_spark.catalog import Catalog
    from approximatequeryengine_spark.operators import ensure_parallelism
    from approximatequeryengine_spark.plans.countmin import _tokens

    docs = Catalog(spark, sf_dir, register_views=False).table("documents")
    btoks = ensure_parallelism(_tokens(docs))
    top = (
        btoks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(20)
    )
    probes = top.select(
        "token",
        "exact_cnt",
        str_hash32_col(F.col("token")).alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("row"),
    )
    probes = _with_idx(probes, CM_WIDTH).select("token", "exact_cnt", "row", "idx")
    est = (
        probes.join(F.broadcast(sketch), on=["row", "idx"], how="left")
        .groupBy("token", "exact_cnt")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )
    return est.select(
        "token",
        "exact_cnt",
        "cms_est",
        F.round(F.col("cms_est") / F.col("exact_cnt"), 6).alias("inflation"),
    ).orderBy(F.desc("exact_cnt"), F.asc("token"))


def hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained portable-HLL registers over a streaming
    table: lineitem rows arrive as a stream, the avalanche hash and
    rank are stateless projections, and the per-(group, register) MAX
    accumulates in micro-batch state (complete mode) — constant state
    (groups × 64 rows) however many rows stream past. Register max is
    order-insensitive, so the drained stream's registers EQUAL the
    batch sketch and the result reuses the batch
    ``sketch_portable_hll`` oracle verbatim — certifying the
    incremental maintenance end-to-end."""
    from approximatequeryengine_spark.plans.hll import (
        hll_registers,
        rollup_from_registers,
    )

    stream = table_stream(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), F.col("l_partkey").alias("k")
    )
    regs_stream = hll_registers(stream, "k", "grp")
    regs = run_to_memory_sink(regs_stream, "complete", bounded_keys=True)
    return rollup_from_registers(regs)


def bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained Bloom filter over a streaming dimension:
    BUILDING-segment customer keys arrive as a stream, the k hash
    positions are stateless projections, and the per-word ``bit_or``
    accumulates in complete-mode micro-batch state — constant state
    (≤ m_bits/32 rows) however many keys stream past. OR is
    order-insensitive, so the drained words EQUAL the batch filter and
    the downstream prune-then-exact-join accounting — and the batch
    ``bloom_prune_semi_join`` oracle — apply verbatim. This is the
    continuous-ingest form of the prune: the filter stays current as
    the dimension grows, and fact scans always probe the latest bitmap."""
    from approximatequeryengine_spark.plans.bloom import (
        bloom_build_words,
        bloom_prune_semi_join,
    )

    stream = table_stream(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    words_df = run_to_memory_sink(bloom_build_words(stream, "c_custkey"), "complete", bounded_keys=True)
    words = [(r["word_idx"], r["word"]) for r in words_df.collect()]

    cat = Catalog(spark, sf_dir, register_views=False)
    dim = cat.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    return bloom_prune_semi_join(
        spark, cat.table("orders"), dim, "o_custkey", "c_custkey", "o_totalprice",
        words=words,
    )


def hist_quantile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained grid-histogram over a streaming table:
    the grid (min, max, bin width) comes from the same batch pre-pass
    the two-pass batch estimator runs; STREAMED rows then bin
    statelessly and the per-bin counts accumulate in complete-mode
    micro-batch state (≤ bins rows of state forever). Bin counts add,
    so the drained histogram equals the batch one and the quantile
    stage — and the batch ``sketch_hist_quantiles`` oracle — apply
    verbatim."""
    from approximatequeryengine_spark.catalog import Catalog
    from approximatequeryengine_spark.plans.histogram import (
        HIST_BINS,
        quantiles_from_hist,
    )

    from approximatequeryengine_spark.plans.histogram import hist_quantiles

    column = "l_extendedprice"
    batch = Catalog(spark, sf_dir, register_views=False).table("lineitem")
    x = F.col(column).cast("double")
    mn, mx, n = batch.agg(
        F.min(x).alias("mn"), F.max(x).alias("mx"), F.count(x).alias("n")
    ).collect()[0]
    if n == 0 or mn is None or mx == mn:
        # Degenerate grid (empty/all-NULL/constant column): nothing to
        # stream — the batch estimator's guarded paths give the answer.
        return hist_quantiles(batch, column)
    width = (mx - mn) / HIST_BINS

    stream = table_stream(spark, sf_dir, "lineitem")
    sx = F.col(column).cast("double")
    bin_col = F.least(
        F.lit(HIST_BINS - 1),
        F.floor((sx - F.lit(float(mn))) / F.lit(float(width))),
    ).cast("long")
    hist_stream = (
        stream.filter(sx.isNotNull())
        .select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hist = run_to_memory_sink(hist_stream, "complete", bounded_keys=True)
    return quantiles_from_hist(hist, float(mn), float(width), int(n), (0.5, 0.95, 0.99))


def ddsketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained DDSketch over a streaming table.
    Stronger streaming story than the grid histogram
    (:func:`hist_quantile_stream`): DDSketch buckets are fixed by α
    alone — NO batch min/max pre-pass — so the stream needs zero
    prior knowledge of the data range, state is O(buckets) forever,
    and the drained complete-mode counts equal the batch bucket table
    (addition is order-free). The batch ``sketch_ddsketch_quantiles``
    oracle applies verbatim."""
    from approximatequeryengine_spark.plans.ddsketch import (
        ddsketch_buckets,
        ddsketch_readout,
    )

    alpha = 0.01
    stream = table_stream(spark, sf_dir, "lineitem")
    # ddsketch_buckets is filter/select/groupBy/agg only — all
    # stream-compatible — so the stream uses the SAME definition as the
    # batch sketch: the drained-equals-batch identity is structural,
    # not a maintained-in-two-places convention.
    buckets = run_to_memory_sink(ddsketch_buckets(stream, "l_extendedprice", alpha), "complete", bounded_keys=True)
    return ddsketch_readout(buckets, alpha)


INTERVAL_JOIN_MINUTES = 60
# Watermark delay for the interval-join replay (round 10 — replaces the
# blanket-generous 240 h). The replay sources are TIME-ORDERED across
# micro-batches (single-file fixture = one data batch;
# split_events_for_replay slices by row_number() ORDER BY ts, so batch
# k+1's min ts ≥ batch k's max ts), which makes ``interval + margin``
# provably lossless:
#   * nothing drops as late — batch k+1 rows have ts ≥ wm_k + delay;
#   * no state a future row could match is evicted — a click evicts
#     only when wm > cts + interval, and every future purchase has
#     pts ≥ wm + delay > cts + interval ⇒ cts < pts − interval (out of
#     range anyway); a purchase evicts only when wm passes pts, and
#     every future click has cts ≥ wm + delay > pts (fails cts ≤ pts).
# The emitted pair set is therefore EXACTLY the batch inner range join
# (the DuckDB oracle), same as under the old 240 h delay — pinned by
# test_stream_stream_interval_join_{matches_batch,across_micro_batches}.
# What changes is the retained state: the old delay kept EVERY row in
# state through the final no-data finalization batch, whose state
# re-commit was the sf10 wall (state ∝ events); with the derived delay
# the finalization batch evicts instead of re-committing the full map.
# Production keeps the same rule: delay = join interval + the source's
# max out-of-orderness (0 for these replays; the +60 min is margin).
INTERVAL_JOIN_WATERMARK = f"{2 * INTERVAL_JOIN_MINUTES} minutes"


def interval_join_stream(
    spark: SparkSession, sf_dir: str, replay_batches: int | None = None
) -> DataFrame:
    """Stream-STREAM interval join — the one Structured Streaming join
    family the pipeline didn't yet cover (dedup and stream-static
    enrichment are above): purchases matched to the same user's clicks
    whose timestamp falls in the trailing hour, BOTH sides unbounded
    streams.

    Mechanics at scale: each side carries ``withWatermark`` on its own
    event time and the range predicate lives in the join condition, so
    Spark derives per-side state-retention bounds (a click can be
    dropped from state once the watermark passes ``cts +
    INTERVAL_JOIN_MINUTES``) — bounded state on two unbounded streams,
    shuffled once on ``user_id``. Append mode: a matched pair is final
    the moment it is emitted.

    Determinism contract for the oracle: the replay uses a generous
    watermark (``INTERVAL_JOIN_WATERMARK`` ≫ any fixture time span), so
    the AvailableNow drain emits EVERY in-interval pair regardless of
    micro-batch interleaving, and the final per-purchase counts equal
    the batch INNER range join the DuckDB oracle runs (production
    tightens the watermark to bound state, trading late-pair loss for
    memory — the standard Structured Streaming trade).

    Output: (purchase_id, user_id, n_clicks_1h) for purchases with ≥1
    in-interval click (inner join semantics). ``replay_batches`` feeds
    BOTH sides from a time-sliced multi-file replay instead of the
    single-file fixture, forcing pairs to form ACROSS micro-batches
    (a purchase in a later batch must find clicks buffered in join
    state from earlier ones) — the multi-batch determinism claim above,
    exercised rather than assumed."""
    if replay_batches:
        import tempfile

        from approximatequeryengine_spark.streaming.stateful import (
            split_events_for_replay,
        )

        events = Catalog(spark, sf_dir).table("events")
        replay_dir = tempfile.mkdtemp(prefix="aqe_ij_replay_")
        split_events_for_replay(events, replay_dir, n_batches=replay_batches)
        schema = spark.read.parquet(replay_dir).schema

        def _src() -> DataFrame:
            from approximatequeryengine_spark.catalog import normalize_ts

            s = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(replay_dir)
            )
            return normalize_ts(s, ["ts"])

    else:
        def _src() -> DataFrame:
            return events_stream(spark, sf_dir)

    purchases = (
        _src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", INTERVAL_JOIN_WATERMARK)
    )
    clicks = (
        _src()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", INTERVAL_JOIN_WATERMARK)
    )
    cond = (
        (purchases["p_user_id"] == clicks["c_user_id"])
        & (clicks["cts"] <= purchases["pts"])
        & (
            clicks["cts"]
            >= purchases["pts"] - F.expr(f"INTERVAL {INTERVAL_JOIN_MINUTES} MINUTES")
        )
    )
    pairs = purchases.join(clicks, cond, "inner").select(
        "purchase_id", F.col("p_user_id").alias("user_id"), "cts"
    )
    sink = run_to_memory_sink(
        pairs,
        "append",
        state_source=Catalog(spark, sf_dir, register_views=False).table("events"),
    )
    return (
        sink.groupBy("purchase_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks_1h"))
        .orderBy("purchase_id")
    )


def interval_join_sql() -> str:
    """Batch-parity oracle: the INNER trailing-interval join, counted
    per purchase."""
    return f"""
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(count(*) AS BIGINT) AS n_clicks_1h
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL {INTERVAL_JOIN_MINUTES} MINUTE
GROUP BY p.event_id, p.user_id
ORDER BY purchase_id
"""


def ams_f2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained AMS F₂ (tug-of-war) counters over a
    streaming table: lineitem rows arrive as a stream, the 48 signed
    terms are stateless projections, and the counter SUMS accumulate
    in complete-mode micro-batch state — constant state (one row of
    BIGINTs) however many rows stream past. Sum is order-insensitive
    and the counters are linear, so the drained stream's counters
    EQUAL the batch sketch and the shared readout reuses the batch
    ``sketch_ams_f2_selfjoin`` oracle verbatim — certifying the
    incremental maintenance end-to-end."""
    from approximatequeryengine_spark.plans.ams import (
        ams_f2_counters,
        ams_f2_readout,
    )

    stream = table_stream(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    counters_stream = ams_f2_counters(stream, F.col("k"))
    counters = run_to_memory_sink(counters_stream, "complete", bounded_keys=True)
    return ams_f2_readout(counters)


def lambda_serving_quantiles(
    spark: SparkSession,
    sf_dir: str,
    split_day: str = "2024-01-25",
    day_lo: str = "2024-01-01",
    day_hi: str = "2024-01-30",
    alpha: float = 0.01,
    qs: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Lambda-architecture serving view: per-type value percentiles
    over [day_lo, day_hi] answered by MERGING the batch DDSketch
    rollup store (closed days, ingested once, day-partition-pruned at
    query time) with an incrementally-maintained streaming sketch of
    the open tail (days ≥ split_day, complete-mode micro-batch state)
    — the batch layer never rescans, the speed layer holds O(groups ×
    buckets) state, and because DDSketch buckets are exactly mergeable
    the union loses NOTHING: the driver oracle derives the same
    answers from the raw events across the whole range, certifying
    batch + stream + merge end-to-end."""
    from approximatequeryengine_spark.catalog import Catalog
    from approximatequeryengine_spark.plans.ddsketch import (
        _params,
        ddsketch_readout,
        ddsketch_store_write,
    )
    from approximatequeryengine_spark.plans.estimators import (
        finite_col as _finite_col,
    )
    import tempfile

    events = Catalog(spark, sf_dir, register_views=False).table("events")
    split = F.lit(split_day).cast("date")

    # batch layer: rollup store over the CLOSED days only
    path = tempfile.mkdtemp(prefix="aqe_lambda_")
    ddsketch_store_write(
        spark,
        events.filter(F.col("ts").cast("date") < split),
        path,
        ts_col="ts",
        group="event_type",
        column="value",
        alpha=alpha,
    )
    # explicit schema: an ALL-STREAM split (split_day at or before the
    # data start) writes an empty store whose schema can't be inferred
    from pyspark.errors import AnalysisException

    try:
        store = (
            spark.read.schema("g string, b long, c long, day string")
            .parquet(f"{path}/buckets")
            .filter(F.col("day").cast("string").between(day_lo, day_hi))
            .select("g", "b", "c")
        )
        store.take(1)
    except AnalysisException:
        store = spark.createDataFrame([], "g string, b long, c long")

    # speed layer: the open tail as a stream, stateless bucketize +
    # complete-mode counts (same arithmetic as ddsketch_store_write)
    _, lg = _params(alpha)
    tail = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts").cast("date") >= split)
        .filter(F.col("ts").cast("date").cast("string") <= day_hi)
        # finite gate (NaN > 0 is TRUE under both engines' total-order
        # comparison — it would reach the log/cast and crash the batch)
        .filter(_finite_col(F.col("value")) > 0)
        .select(
            F.col("event_type").alias("g"),
            F.ceil(F.log(F.col("value").cast("double")) / F.lit(lg))
            .cast("long")
            .alias("b"),
        )
        .groupBy("g", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    drained = run_to_memory_sink(tail, "complete", bounded_keys=True)

    merged = (
        store.unionByName(drained)
        .groupBy("g", "b")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    return ddsketch_readout(merged, alpha, qs, group="event_type")


def merge_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the continuous twin of the batch MERGE
    (`operators/merge.py`; same deterministic mod-21 change slices,
    same oracle): each arriving order row emits its target version
    (seq 0) plus, for the change slices, a change-event version
    (seq 1); a complete-mode groupBy(key) compaction keeps the latest
    cents per (key, seq) — the latest-wins state a streaming upsert
    maintains — and the drained state feeds the SAME one-aggregate
    change audit as the batch path (`merge_audit`).

    State is O(live keys) — the CDC-compaction memory model. At
    100 TB one would bound it by keyspace partitioning or switch to
    foreachBatch MERGE into a keyed table (this module documents, not
    hides, that trade; the certified contract is drained state ==
    batch merge, which holds for ANY batch/stream split because max
    over (seq, cents) pairs is order-free)."""
    from approximatequeryengine_spark.operators.merge import merge_audit

    o = table_stream(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k, p = F.col("o_orderkey"), F.col("o_totalprice")

    def _ev(key_col, seq, val):
        return F.struct(
            key_col.cast("long").alias("k"),
            F.lit(seq).alias("seq"),
            val.cast("double").alias("v"),
        )

    tgt = _ev(k, 0, p)
    chg = (
        F.when(k % 21 == 0, _ev(k, 1, p + 10.0))
        .when(k % 21 == 7, _ev(k, 1, p))
        .when(k % 21 == 14, _ev(k + 100_000_000, 1, p))
    )
    rows = o.select(
        F.explode(F.filter(F.array(tgt, chg), lambda x: x.isNotNull())).alias("r")
    ).select("r.*")
    cents = F.floor(F.col("v") * 100.0 + 0.5).cast("long")
    state = rows.groupBy("k").agg(
        F.max(F.when(F.col("seq") == 0, cents)).alias("tc"),
        F.max(F.when(F.col("seq") == 1, cents)).alias("sc"),
    )
    drained = run_to_memory_sink(
        state,
        "complete",
        state_source=Catalog(spark, sf_dir, register_views=False).table("orders"),
    )
    return merge_audit(drained)


def anomaly_days_stream(spark: SparkSession, sf_dir: str, top: int = 3) -> DataFrame:
    """Streaming twin of the daily-volume anomaly scan
    (`operators/temporal.py::anomaly_days_by_type`): complete-mode
    (type, day) counts maintained as streaming state, drained, then fed
    through the SAME moments/z-score/rank readout — counts are
    order-free sums, so the drained state equals the batch daily table
    for any micro-batch split and the entry reuses the batch oracle
    verbatim. State is O(types × days within retention); a production
    deployment watermarks the day column to expire closed days into
    the batch store (the lambda-serving pattern certified in
    `streaming_lambda_serving`)."""
    daily = (
        # NULL-ts rows belong to no day (same policy as the batch scan)
        events_stream(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .select(F.col("event_type"), F.col("ts").cast("date").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    drained = run_to_memory_sink(daily, "complete", bounded_keys=True)
    # The readout self-joins the daily table with its own aggregate;
    # over a memory-sink VIEW both sides resolve to the same plan and
    # Spark fails attribute dedup (INTERNAL_ERROR: conflicting
    # references). localCheckpoint materializes the O(types × days)
    # table with fresh attribute ids — distributed, no driver
    # round-trip.
    drained = drained.localCheckpoint(eager=True)
    from approximatequeryengine_spark.operators.temporal import anomaly_readout

    return anomaly_readout(drained, top)


def embedding_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the embedding-drift monitor
    (operators/profiling.py): vectors arrive as a stream, each
    micro-batch folds its quantized per-(label, dimension) integer
    sums into complete-mode state — constant (labels × dims) state
    however many vectors flow. Integer addition is order-free, so the
    drained state EQUALS the batch sum table bit-for-bit and the
    cosine readout (and the DuckDB oracle) are reused verbatim —
    certifying the incremental path end-to-end. The production shape:
    a drift dashboard over an embedding ingest firehose that never
    rescans history."""
    from approximatequeryengine_spark.operators.profiling import (
        drift_readout,
        quantized_dims,
    )
    from approximatequeryengine_spark.streaming.windowed import (
        run_to_memory_sink,
        table_stream,
    )

    stream = table_stream(spark, sf_dir, "embeddings")
    by_label_stream = quantized_dims(stream).groupBy("label", "d").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("cnt"),
    )
    drained = run_to_memory_sink(by_label_stream, "complete", bounded_keys=True)
    # The readout self-joins the drained state (label sums ⋈ corpus
    # sums); the memory-sink view exposes one set of attribute ids to
    # both sides, which Spark rejects as conflicting references — an
    # eager localCheckpoint of the O(labels × dims) state severs the
    # lineage at bounded cost.
    return drift_readout(drained.localCheckpoint(eager=True))
