"""Corpus-curation operators for LLM training-data pipelines, beyond
the dedup/quality/token layers in ``operators/text.py``:

- **Sequence packing** — pack the token stream into fixed-capacity
  training sequences (the GPT-style "pack then split every N tokens"
  step). Sharded: the running-offset window runs PER SHARD, so the
  cumulative sum parallelizes across shards instead of forcing a
  global single-partition sort — the standard way packing scales to a
  100 TB corpus.
- **Contamination screening** — flag training documents sharing any
  word-n-gram with a held-out evaluation set (the decontamination pass
  every benchmark-honest pipeline runs). One shuffle: the eval
  shingle-hash set is distinct-reduced (small) and hash-joined against
  the exploded train shingles; Catalyst broadcasts the eval side.
- **Repetition scoring** — distinct-token ratio and top-token
  frequency per document (boilerplate / degenerate-repetition signal),
  rolled up per language.
- **PII scrubbing stats** — email / phone / digit-run occurrence
  counts per source (the pre-redaction accounting pass). Patterns are
  deliberately RE2-compatible so Spark (Java regex) and DuckDB (RE2)
  agree.

Every operator has an exact DuckDB oracle rendering; integer sums are
CAST to BIGINT (DuckDB types sum(int) as HUGEINT — round-1 lesson).
No reference counterpart (the reference is a single-table AQP engine,
SURVEY.md §2); these extend the training-data-pipeline surface the
brief asks for as first-class components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.text import (
    str_hash32_sql,
    word_shingles_sql,
    ws_tokens_col,
    ws_tokens_sql,
)
from approximatequeryengine_spark.operators import ensure_parallelism

# -- sequence packing -------------------------------------------------------

PACK_CAPACITY = 512
PACK_SHARDS = 8


def pack_sequences(
    spark: SparkSession,
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    n_shards: int = PACK_SHARDS,
) -> DataFrame:
    """Greedy contiguous packing: within each shard (``doc_id %
    n_shards``), documents are concatenated in doc_id order into one
    token stream split every ``capacity`` tokens. Emits one row per
    shard: document count, token total, number of full+partial
    sequences, docs straddling a sequence boundary, and the fill ratio
    of the packed stream.

    The window runs ``PARTITION BY shard`` — cumulative offsets never
    serialize globally, so shards scale out like any keyed aggregate."""
    docs = ensure_parallelism(docs)
    toks = F.size(ws_tokens_col(F.col("text")))
    per_doc = docs.select(
        (F.col("doc_id") % n_shards).alias("shard"),
        F.col("doc_id"),
        toks.cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offs = per_doc.select(
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start"),
        (F.sum("n_tokens").over(w)).alias("end"),
    )
    straddle = (
        (F.col("n_tokens") > 0)
        & (
            F.floor(F.col("start") / capacity)
            != F.floor((F.col("end") - 1) / capacity)
        )
    ).cast("long")
    return (
        offs.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.ceil(F.max("end") / capacity).cast("long").alias("n_sequences"),
            F.sum(straddle).alias("n_straddlers"),
            F.round(
                F.when(
                    F.max("end") > 0,
                    F.max("end") / (F.ceil(F.max("end") / capacity) * capacity),
                ),
                6,
            ).alias("fill_ratio"),
        )
        .orderBy("shard")
    )


def pack_sequences_sql(
    capacity: int = PACK_CAPACITY, n_shards: int = PACK_SHARDS
) -> str:
    toks = f"len({ws_tokens_sql('text')})"
    return f"""
WITH per_doc AS (
  SELECT doc_id % {n_shards} AS shard, doc_id,
         CAST({toks} AS BIGINT) AS n_tokens
  FROM documents
), offs AS (
  SELECT shard, n_tokens,
         CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start,
         CAST(sum(n_tokens) OVER w AS BIGINT) AS "end"
  FROM per_doc
  WINDOW w AS (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(ceil(CAST(max("end") AS DOUBLE) / {capacity}) AS BIGINT) AS n_sequences,
       CAST(sum(CASE WHEN n_tokens > 0
                 AND floor(CAST(start AS DOUBLE) / {capacity})
                     != floor(CAST("end" - 1 AS DOUBLE) / {capacity})
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
       round(CASE WHEN max("end") > 0 THEN CAST(max("end") AS DOUBLE)
             / (ceil(CAST(max("end") AS DOUBLE) / {capacity}) * {capacity}) END, 6)
           AS fill_ratio
FROM offs GROUP BY shard ORDER BY shard
"""


# -- contamination screening ------------------------------------------------

EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 → held-out "benchmark" set
CONTAM_NGRAM = 8


def _shingle_hash_rows_pandas(docs: DataFrame, n: int) -> DataFrame:
    """Arrow kernel for the contamination shingle-hash chain:
    (doc_id, source, h) rows where ``h`` ranges over the DISTINCT
    md5-prefix hashes of the document's word-``n``-gram shingles.
    The same rows as ``explode(array_distinct(transform(
    word_shingles_col(ws_tokens_col(text), n), str_hash32_col)))``:
    same Java-``\\s+`` tokenization and ``String.trim`` strip as the
    certified minhash/enrich kernels, same ``" ".join`` shingles with
    the <n-token whole-text fallback (empty text → the ``''`` shingle,
    matching ``concat_ws`` on an empty array), same md5[:8] hash, NULL
    text → no rows (the Column chain drops it via NULL propagation at
    the explode). ``test_contamination_arrow_matches_expression`` pins
    the rows against that Column chain and the screen against
    ``contamination_screen_sql`` in DuckDB.
    Why: the interpreted higher-order transform ran one md5 expression
    tree per shingle with no codegen — measured 26.6 s of task CPU for
    a 584 KB corpus (≈45 ms/KB); the kernel vectorizes the batch and
    memoizes per task on the text value (replica-dense corpora skip
    recomputation entirely)."""
    import hashlib
    import re

    import pandas as pd

    _java_ws = "".join(chr(c) for c in range(0x21))  # String.trim strips ≤ U+0020
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s

    def batches(it):
        memo: dict[str, list[int]] = {}
        # Bound the memo by stored-hash volume, not just entry count: a
        # distinct-heavy split of large documents stores ~1 int per ~6
        # input bytes (~28 B each in CPython), so an entry-count cap
        # alone could hold multiples of the split size per concurrent
        # task. Replica-dense corpora (the case the memo exists for)
        # have small per-doc hash lists and never hit the budget.
        memo_ints = 0
        memo_int_budget = 1 << 20  # ~29 MB of boxed ints per task, max
        for pdf in it:
            ids, srcs, hs = [], [], []
            for doc_id, source, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                hit = memo.get(text)
                if hit is None:
                    t = text.strip(_java_ws)
                    toks = ws_re.split(t) if t else []
                    if len(toks) >= n:
                        sh = [
                            " ".join(toks[i : i + n])
                            for i in range(len(toks) - n + 1)
                        ]
                    else:
                        sh = [" ".join(toks)]
                    hit = list(
                        dict.fromkeys(
                            int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
                            for s in sh
                        )
                    )
                    if len(memo) < 65536 and memo_ints + len(hit) <= memo_int_budget:
                        memo[text] = hit
                        memo_ints += len(hit)
                for h in hit:
                    ids.append(doc_id)
                    srcs.append(source)
                    hs.append(h)
            yield pd.DataFrame({"doc_id": ids, "source": srcs, "h": hs})

    return (
        docs.select("doc_id", "source", "text")
        # NULL text has no shingles (the oracle's NULL token list
        # unnests to nothing).
        .filter(F.col("text").isNotNull())
        .mapInPandas(batches, schema="doc_id long, source string, h long")
    )


def contamination_screen(
    spark: SparkSession,
    docs: DataFrame,
    n: int = CONTAM_NGRAM,
) -> DataFrame:
    """Decontamination accounting: a training document (``doc_id %
    EVAL_MOD != 0``) is *contaminated* if it shares ≥1 word-``n``-gram
    with any held-out document (``doc_id % EVAL_MOD == 0``). Emits per
    source: train docs, contaminated docs, contamination rate.

    Plan shape at scale: the eval shingle-hash set is distinct-reduced
    (tiny vs the corpus) and broadcast; the train side explodes its
    shingles and LEFT SEMI joins — one scan of each side, no pairwise
    anything."""
    docs = ensure_parallelism(docs, weight=4.0)
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    per_doc = _shingle_hash_rows_pandas(docs, n)
    # Exchange barrier: the shingle-hash chain is consumed by BOTH
    # the eval and train branches — materialize it once through a
    # shuffle instead of recomputing per subtree.
    hashed = per_doc.repartition(n_parts, "doc_id")
    evald = (
        hashed.filter(F.col("doc_id") % EVAL_MOD == 0).select("h").distinct()
    )
    train = hashed.filter(F.col("doc_id") % EVAL_MOD != 0)
    contaminated = (
        train.join(F.broadcast(evald), on="h", how="left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    totals = (
        docs.filter(F.col("doc_id") % EVAL_MOD != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train_docs"))
    )
    hits = contaminated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        totals.join(hits, on="source", how="left")
        .select(
            "source",
            "n_train_docs",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0))
                / F.col("n_train_docs"),
                6,
            ).alias("contam_rate"),
        )
        .orderBy("source")
    )


def contamination_screen_sql(n: int = CONTAM_NGRAM) -> str:
    toks = ws_tokens_sql("text")
    sh = word_shingles_sql("t", n)
    return f"""
WITH tok AS (SELECT doc_id, source, {toks} AS t FROM documents),
hashed AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform({sh}, s -> {str_hash32_sql('s')}))) AS h
  FROM tok
),
evald AS (SELECT DISTINCT h FROM hashed WHERE doc_id % {EVAL_MOD} = 0),
contaminated AS (
  SELECT DISTINCT doc_id, source FROM hashed
  WHERE doc_id % {EVAL_MOD} != 0 AND h IN (SELECT h FROM evald)
),
totals AS (
  SELECT source, count(*) AS n_train_docs FROM documents
  WHERE doc_id % {EVAL_MOD} != 0 GROUP BY source
),
hits AS (
  SELECT source, count(*) AS n_contaminated FROM contaminated GROUP BY source
)
SELECT t.source, t.n_train_docs,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / t.n_train_docs, 6)
           AS contam_rate
FROM totals t LEFT JOIN hits h ON t.source = h.source
ORDER BY t.source
"""


# -- repetition / boilerplate scoring ---------------------------------------

REPETITIVE_TOP_FREQ = 0.2


def repetition_stats(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Per-language repetition profile: average distinct-token ratio,
    average top-token frequency ratio, and the count of documents whose
    single most frequent token exceeds ``REPETITIVE_TOP_FREQ`` of all
    tokens (degenerate/boilerplate text). Pure JVM array expressions —
    per-doc cost is O(tokens · distinct), fine for document-sized
    strings and embarrassingly parallel."""
    docs = ensure_parallelism(docs)
    toks = ws_tokens_col(F.col("text"))
    per_doc = docs.select(F.col("lang"), toks.alias("t")).select(
        "lang",
        F.size("t").alias("n"),
        F.size(F.array_distinct("t")).alias("nd"),
        F.when(
            F.size("t") > 0,
            F.array_max(
                F.transform(
                    F.array_distinct("t"),
                    lambda d: F.size(F.filter(F.col("t"), lambda x: x == d)),
                )
            )
            / F.size("t"),
        ).alias("top_freq"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.avg(
                    F.when(F.col("n") > 0, F.col("nd") / F.col("n"))
                ),
                6,
            ).alias("avg_distinct_ratio"),
            F.round(F.avg("top_freq"), 6).alias("avg_top_freq"),
            F.sum(
                (F.col("top_freq") > REPETITIVE_TOP_FREQ).cast("long")
            ).alias("n_repetitive"),
        )
        .orderBy("lang")
    )


def repetition_stats_sql() -> str:
    toks = ws_tokens_sql("text")
    top = (
        "list_max(list_transform(list_distinct(t), "
        "d -> len(list_filter(t, x -> x = d))))"
    )
    return f"""
WITH tok AS (SELECT lang, {toks} AS t FROM documents),
per_doc AS (
  SELECT lang, len(t) AS n, len(list_distinct(t)) AS nd,
         CASE WHEN len(t) > 0
              THEN CAST({top} AS DOUBLE) / len(t) END AS top_freq
  FROM tok
)
SELECT lang, count(*) AS n_docs,
       round(avg(CASE WHEN n > 0 THEN CAST(nd AS DOUBLE) / n END), 6)
           AS avg_distinct_ratio,
       round(avg(top_freq), 6) AS avg_top_freq,
       CAST(sum(CASE WHEN top_freq > {REPETITIVE_TOP_FREQ} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repetitive
FROM per_doc GROUP BY lang ORDER BY lang
"""


# -- deterministic train/val/test split -------------------------------------

SPLIT_SALT = 7  # independent of every sampling-design salt in use
SPLIT_CUTS = (("train", 0.8), ("val", 0.9), ("test", 1.0))


def dataset_split(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Deterministic corpus split: a document lands in train/val/test by
    the portable hash of its ``doc_id`` (cumulative cuts 80/10/10) — the
    split is stable across runs, engines, partitionings and corpus
    growth (a document never changes split when new data arrives), which
    is the property a training pipeline needs for honest eval sets.

    Emits one row per split: document count, corpus share, token total,
    mean document length, and distinct languages — the balance check run
    before accepting a split. One map-side-combined aggregate; the share
    is a 3-row window, nothing else leaves the executors."""
    docs = ensure_parallelism(docs)
    toks = F.size(ws_tokens_col(F.col("text")))
    per_doc = docs.select(
        _split_col(F.col("doc_id")).alias("split"),
        toks.cast("long").alias("t"),
        F.col("n_chars"),
        F.col("lang"),
    )
    agg = per_doc.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("t").alias("total_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    total = Window.partitionBy()
    return agg.withColumn(
        "share", F.round(F.col("n_docs") / F.sum("n_docs").over(total), 6)
    ).orderBy("split")


def dataset_split_sql() -> str:
    toks = ws_tokens_sql("text")
    return f"""
WITH per_doc AS (
  SELECT {_split_case_sql("doc_id")} AS split,
         CAST(len({toks}) AS BIGINT) AS t, n_chars, lang
  FROM documents
)
SELECT split, count(*) AS n_docs,
       CAST(sum(t) AS BIGINT) AS total_tokens,
       round(avg(n_chars), 6) AS avg_chars,
       count(DISTINCT lang) AS n_langs,
       round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS share
FROM per_doc GROUP BY split ORDER BY split
"""


# -- cross-split near-duplicate leakage ---------------------------------------


def _split_col(doc_key) -> "F.Column":
    """The deterministic split label of an arbitrary doc-id Column —
    the same hash-cut arithmetic as :func:`dataset_split`, factored so
    pair endpoints can be labeled WITHOUT joining back to documents."""
    from approximatequeryengine_spark.functions.hashing import (
        fraction_threshold,
        portable_hash_col,
    )

    h = portable_hash_col(doc_key, salt=SPLIT_SALT)
    split = F.lit(SPLIT_CUTS[-1][0])
    for name, cut in reversed(SPLIT_CUTS[:-1]):
        split = F.when(h < F.lit(fraction_threshold(cut)), F.lit(name)).otherwise(split)
    return split


def _split_case_sql(expr: str) -> str:
    from approximatequeryengine_spark.functions.hashing import (
        fraction_threshold,
        portable_hash_sql,
    )

    h = portable_hash_sql(expr, SPLIT_SALT)
    cases = " ".join(
        f"WHEN {h} < {fraction_threshold(cut)} THEN '{name}'"
        for name, cut in SPLIT_CUTS[:-1]
    )
    return f"(CASE {cases} ELSE '{SPLIT_CUTS[-1][0]}' END)"


def split_leakage(
    spark: SparkSession, docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Eval-set leakage audit: near-duplicate pairs (the certified
    MinHash-LSH + exact-Jaccard machinery, `operators/dedup.py`)
    labeled by which train/val/test splits their endpoints land in.
    A pair with `leaky = true` straddles two splits — a document whose
    near-twin sits in an eval split silently inflates eval scores, the
    failure decontamination passes exist to catch. Output one row per
    unordered split pair: (split_a, split_b, leaky, n_pairs), ordered.

    Scale shape: the pair search is the banded-LSH path (sublinear
    candidates); the split labels are PURE EXPRESSIONS over the pair's
    own endpoint ids (the hash-cut arithmetic of `dataset_split`), so
    no join back to the corpus is needed — one O(pairs)→O(9) rollup.
    """
    from approximatequeryengine_spark.operators.dedup import minhash_lsh_pairs

    # verify='join': a leakage audit matters most on dup-heavy corpora
    # (that's what leaks), the dense regime where the keys-only
    # candidate plan wins 4.2× (minhash_lsh_pairs docstring).
    pairs = minhash_lsh_pairs(spark, docs, threshold=threshold, verify="join").select(
        "doc_a", "doc_b"
    )
    sa = _split_col(F.col("doc_a"))
    sb = _split_col(F.col("doc_b"))
    lab = pairs.select(
        F.least(sa, sb).alias("split_a"), F.greatest(sa, sb).alias("split_b")
    )
    return (
        lab.groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leaky"),
            "n_pairs",
        )
        .orderBy("split_a", "split_b")
    )


def split_leakage_sql(threshold: float = 0.5) -> str:
    from approximatequeryengine_spark.operators.dedup import minhash_lsh_pairs_sql

    sa = _split_case_sql("doc_a")
    sb = _split_case_sql("doc_b")
    return f"""
WITH pairs AS ({minhash_lsh_pairs_sql(threshold=threshold)}),
lab AS (
  SELECT least({sa}, {sb}) AS split_a,
         greatest({sa}, {sb}) AS split_b
  FROM pairs
)
SELECT split_a, split_b, split_a <> split_b AS leaky,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY split_a, split_b ORDER BY split_a, split_b
"""


# -- per-source inspection sample -------------------------------------------

SAMPLE_SALT = 11
SAMPLE_PER_SOURCE = 4


def sample_per_source(
    spark: SparkSession, docs: DataFrame, k: int = SAMPLE_PER_SOURCE
) -> DataFrame:
    """The eyeball sample: ``k`` uniformly-random documents from EVERY
    source, deterministic across runs and engines (rank by the portable
    hash of ``doc_id``), so a curation review always inspects the same
    documents until the corpus itself changes.

    One shuffle on ``source``; each partition ranks only its own rows
    (no global sort), the classic per-group top-k. Emits the sampled
    rows' identifiers plus their length so reviewers can spot truncated
    or bloated docs at a glance."""
    from approximatequeryengine_spark.functions.hashing import portable_hash_col

    docs = ensure_parallelism(docs)
    h = portable_hash_col(F.col("doc_id"), salt=SAMPLE_SALT)
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("source", "rank", "doc_id", "lang", "n_chars")
        .orderBy("source", "rank")
    )


def sample_per_source_sql(k: int = SAMPLE_PER_SOURCE) -> str:
    from approximatequeryengine_spark.functions.hashing import portable_hash_sql

    h = portable_hash_sql("doc_id", SAMPLE_SALT)
    return f"""
WITH ranked AS (
  SELECT source, doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY {h} ASC, doc_id ASC) AS rank
  FROM documents
)
SELECT source, rank, doc_id, lang, n_chars
FROM ranked WHERE rank <= {k} ORDER BY source, rank
"""


# -- token-budget mixture planning ------------------------------------------

MIX_TARGET_FRACTION = 0.5  # plan a corpus half the size of the available tokens


def mixture_plan(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The pre-sampling arithmetic of a weighted data mix: given equal
    target weights across languages and a token budget of
    ``MIX_TARGET_FRACTION`` × the available tokens, compute each
    language's available tokens, its target share, the per-language
    sampling rate ``min(1, target/available)``, the tokens the rate
    actually yields, and whether the target is feasible (a language can
    only contribute what it has — rates are capped at 1, never
    oversampled). The emitted rates feed the deterministic-hash sampler
    directly; planning is ONE aggregate over the corpus plus 5-row
    arithmetic, so it costs nothing at any scale."""
    docs = ensure_parallelism(docs)
    toks = F.size(ws_tokens_col(F.col("text")))
    avail = docs.groupBy("lang").agg(F.sum(toks.cast("long")).alias("avail_tokens"))
    total = Window.partitionBy()
    n_langs = F.count(F.lit(1)).over(total)
    budget = F.floor(F.sum("avail_tokens").over(total) * MIX_TARGET_FRACTION)
    target = F.floor(budget / n_langs)
    rate = F.least(F.lit(1.0), target / F.col("avail_tokens"))
    return avail.select(
        "lang",
        "avail_tokens",
        target.cast("long").alias("target_tokens"),
        F.round(rate, 6).alias("sampling_rate"),
        F.floor(
            F.least(target.cast("double"), F.col("avail_tokens").cast("double"))
        ).cast("long").alias("expected_tokens"),
        (F.col("avail_tokens") >= target).alias("feasible"),
    ).orderBy("lang")


def mixture_plan_sql() -> str:
    toks = ws_tokens_sql("text")
    return f"""
WITH avail AS (
  SELECT lang, CAST(sum(len({toks})) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY lang
),
tot AS (
  SELECT lang, avail_tokens,
         CAST(floor(floor(sum(avail_tokens) OVER () * {MIX_TARGET_FRACTION!r})
                    / count(*) OVER ()) AS BIGINT) AS target_tokens
  FROM avail
)
SELECT lang, avail_tokens, target_tokens,
       round(least(1.0, CAST(target_tokens AS DOUBLE) / avail_tokens), 6)
           AS sampling_rate,
       CAST(floor(least(CAST(target_tokens AS DOUBLE),
                        CAST(avail_tokens AS DOUBLE))) AS BIGINT)
           AS expected_tokens,
       avail_tokens >= target_tokens AS feasible
FROM tot ORDER BY lang
"""


# ppm share arithmetic, one copy per engine (tests evaluate BOTH at
# 10^13-token magnitudes to pin the no-overflow contract):
SHARE_PPM_SPARK = (
    "CAST(CAST(avail_tokens AS DECIMAL(38,0)) * 1000000"
    " DIV total_tokens AS BIGINT)"
)
SHARE_PPM_DUCK = (
    "CAST((CAST(avail_tokens AS HUGEINT) * 1000000)"
    " // total_tokens AS BIGINT)"
)


def mixture_temperature(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Temperature-smoothed language sampling weights — the standard
    multilingual-LM mixture formula (q_l ∝ p_l^α, here α = 1/2, the
    published low-resource-upsampling setting): languages are sampled
    proportional to the SQUARE ROOT of their token mass instead of the
    mass itself, boosting rare languages without letting them dominate.

    Everything certified is integer-exact: the un-normalised weight is
    floor(sqrt(tokens)) — the normalisation constant Σt^α cancels, and
    floor∘sqrt on a BIGINT is bit-identical across engines (IEEE-754
    sqrt is correctly rounded, and for t ≪ 2^52 the rounding can never
    cross the floor boundary: the true sqrt of a non-square is at least
    1/(2·sqrt(t)) away from an integer, orders of magnitude more than
    half an ulp). Shares and rates are emitted in ppm via floor
    division (Spark ``DIV`` ≡ DuckDB ``//`` on positives), so there is
    no float fold anywhere in the output. The share numerator
    ``avail_tokens × 10⁶`` is widened to DECIMAL(38,0)/HUGEINT before
    the multiply: a 100 TB corpus holds ~10¹³ tokens and the BIGINT
    product crosses 2⁶³ at ~9.2×10¹² — under ANSI mode that is a
    runtime ARITHMETIC_OVERFLOW crash exactly at production scale
    (the weight numerator stays BIGINT: floor(sqrt(t))·10⁶ < 2⁶³ for
    any t < 2⁶³).

    Planning cost is ONE aggregate over the corpus plus |langs|-row
    arithmetic — free at any corpus size; the rates feed the
    deterministic-hash sampler exactly like ``mixture_plan``'s."""
    docs = ensure_parallelism(docs)
    toks = F.size(ws_tokens_col(F.col("text"))).cast("long")
    avail = docs.groupBy("lang").agg(F.sum(toks).alias("avail_tokens"))
    total = Window.partitionBy()
    out = (
        avail.withColumn(
            "weight",
            F.floor(F.sqrt(F.col("avail_tokens").cast("double"))).cast("long"),
        )
        .withColumn("total_tokens", F.sum("avail_tokens").over(total))
        .withColumn("total_weight", F.sum("weight").over(total))
    )
    return out.select(
        "lang",
        "avail_tokens",
        "weight",
        F.expr(SHARE_PPM_SPARK).alias("share_ppm"),
        F.expr(
            "CAST((weight * 1000000) DIV total_weight AS BIGINT)"
        ).alias("rate_ppm"),
    ).orderBy("lang")


def mixture_temperature_sql() -> str:
    toks = ws_tokens_sql("text")
    return f"""
WITH avail AS (
  SELECT lang, CAST(sum(len({toks})) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, avail_tokens,
         CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE))) AS BIGINT) AS weight
  FROM avail
)
SELECT lang, avail_tokens, weight,
       {SHARE_PPM_DUCK} AS share_ppm,
       CAST((weight * 1000000) // (sum(weight) OVER ()) AS BIGINT)
           AS rate_ppm
FROM (SELECT *, sum(avail_tokens) OVER () AS total_tokens FROM w) w2
ORDER BY lang
"""


# -- RAG-style chunk inventory ----------------------------------------------

CHUNK_SIZE = 128
CHUNK_OVERLAP = 32


def chunk_inventory(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The retrieval-prep accounting pass: split every document into
    fixed-size token chunks with overlap (stride = size − overlap; a
    short document is one chunk) and report per source how many chunks
    the corpus yields, the padding waste in the final partial chunks,
    and the duplicated-token overhead the overlap costs — the numbers
    that size a vector index before anything is embedded.

    Unlike sequence *packing* (which concatenates documents into
    training rows), chunking splits documents individually, so it is a
    pure per-doc arithmetic projection — embarrassingly parallel, one
    aggregate, no shuffle beyond the source rollup."""
    docs = ensure_parallelism(docs)
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    toks = F.size(ws_tokens_col(F.col("text"))).cast("long")
    # A 0-token document yields ZERO chunks (a phantom chunk would
    # inflate n_chunks and dilute fill_ratio — the sizing numbers this
    # operator exists to get right).
    n_chunks = (
        F.when(toks == 0, F.lit(0))
        .when(toks <= CHUNK_SIZE, F.lit(1))
        .otherwise(F.ceil((toks - CHUNK_OVERLAP) / stride).cast("long"))
    )
    # tokens emitted across chunks = tokens + (n_chunks − 1)·overlap
    emitted = toks + F.greatest(n_chunks - 1, F.lit(0)) * CHUNK_OVERLAP
    per_doc = docs.select(
        "source",
        toks.alias("t"),
        n_chunks.alias("nc"),
        emitted.alias("em"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("total_tokens"),
            F.sum("nc").alias("n_chunks"),
            F.round(F.avg("nc"), 6).alias("avg_chunks_per_doc"),
            F.round(
                F.when(
                    F.sum("em") > 0, (F.sum("em") - F.sum("t")) / F.sum("em")
                ),
                6,
            ).alias("overlap_overhead"),
            F.round(
                F.when(F.sum("nc") > 0, F.sum("em") / (F.sum("nc") * CHUNK_SIZE)),
                6,
            ).alias("fill_ratio"),
        )
        .orderBy("source")
    )


def chunk_inventory_sql() -> str:
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    toks = f"CAST(len({ws_tokens_sql('text')}) AS BIGINT)"
    return f"""
WITH per_doc AS (
  SELECT source, {toks} AS t,
         CASE WHEN {toks} = 0 THEN 0
              WHEN {toks} <= {CHUNK_SIZE} THEN 1
              ELSE CAST(ceil(CAST({toks} - {CHUNK_OVERLAP} AS DOUBLE)
                             / {stride}) AS BIGINT) END AS nc
  FROM documents
),
em AS (SELECT source, t, nc,
              t + greatest(nc - 1, 0) * {CHUNK_OVERLAP} AS em FROM per_doc)
SELECT source, count(*) AS n_docs,
       CAST(sum(t) AS BIGINT) AS total_tokens,
       CAST(sum(nc) AS BIGINT) AS n_chunks,
       round(avg(nc), 6) AS avg_chunks_per_doc,
       round(CASE WHEN sum(em) > 0
                  THEN CAST(sum(em) - sum(t) AS DOUBLE) / sum(em) END, 6)
           AS overlap_overhead,
       round(CASE WHEN sum(nc) > 0
                  THEN CAST(sum(em) AS DOUBLE) / (sum(nc) * {CHUNK_SIZE}) END, 6)
           AS fill_ratio
FROM em GROUP BY source ORDER BY source
"""


# -- PII scrubbing stats ----------------------------------------------------

# RE2-compatible (no lookaround/backrefs) so Spark and DuckDB agree.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
DIGIT_RUN_RE = "[0-9]{4,}"


def pii_scrub_stats(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Pre-redaction accounting: per source, how many documents carry
    email/phone-shaped strings and how many long digit runs exist (the
    conservative catch-all most scrubbers redact). The redaction itself
    is ``regexp_replace`` with the same patterns — counting first is
    how a pipeline decides scrubbing is worth a full rewrite pass."""
    docs = ensure_parallelism(docs)
    text = F.col("text")
    n_email = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
    n_phone = F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0))
    n_digits = F.size(F.regexp_extract_all(text, F.lit(DIGIT_RUN_RE), 0))
    per_doc = docs.select(
        F.col("source"),
        n_email.cast("long").alias("e"),
        n_phone.cast("long").alias("p"),
        n_digits.cast("long").alias("d"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("e") + F.col("p") > 0).cast("long")).alias("n_docs_with_pii"),
            F.sum("e").alias("n_emails"),
            F.sum("p").alias("n_phones"),
            F.sum("d").alias("n_digit_runs"),
        )
        .orderBy("source")
    )


def pii_scrub_stats_sql() -> str:
    return f"""
WITH per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '{EMAIL_RE}')) AS e,
         len(regexp_extract_all(text, '{PHONE_RE}')) AS p,
         len(regexp_extract_all(text, '{DIGIT_RUN_RE}')) AS d
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN e + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_with_pii,
       CAST(sum(e) AS BIGINT) AS n_emails,
       CAST(sum(p) AS BIGINT) AS n_phones,
       CAST(sum(d) AS BIGINT) AS n_digit_runs
FROM per_doc GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Weighted sampling without replacement — Efraimidis & Spirakis
# ("Weighted random sampling with a reservoir", IPL 2006): select k
# items with inclusion ∝ weight by ranking on key = u^(1/w). The float
# power is hostile to cross-engine parity, but for INTEGER weights
# max(u₁..u_w) of w independent uniforms has exactly the distribution
# of u^(1/w) — so the key is the MAX OF w INDEPENDENT PORTABLE HASHES,
# pure integer arithmetic, bit-identical in both engines. The training
# -data use case: sample docs ∝ a quality weight so high-quality
# documents are upweighted without hard-filtering the tail.
# ---------------------------------------------------------------------------

WEIGHTED_SALT_BASE = 400  # disjoint from every other salt family in use
WEIGHTED_MAX_W = 8


def _quality_weight_col() -> F.Column:
    """Integer weight 1..8 from document length (the demo weight; any
    positive-integer column works)."""
    return F.least(
        F.lit(1) + (F.col("n_chars") / F.lit(400)).cast("long"),
        F.lit(WEIGHTED_MAX_W),
    ).cast("long")


def _quality_weight_sql() -> str:
    return f"least(1 + CAST(n_chars // 400 AS BIGINT), {WEIGHTED_MAX_W})"


def weighted_sample_docs(
    spark: SparkSession, docs: DataFrame, k: int = 25
) -> DataFrame:
    """Top-k Efraimidis-Spirakis weighted sample of the corpus:
    (doc_id, lang, source, weight, key). Scale shape: the per-row key
    is ≤ WEIGHTED_MAX_W codegen hash evaluations, selection is
    TakeOrderedAndProject(k) — no shuffle beyond the top-k merge, and
    the weight column never leaves the executors."""
    from approximatequeryengine_spark.functions.hashing import portable_hash_col

    w = _quality_weight_col()
    key = F.array_max(
        F.transform(
            F.sequence(F.lit(1), w.cast("int")),
            lambda s: portable_hash_col(
                F.col("doc_id"), salt=F.lit(WEIGHTED_SALT_BASE) + s
            ),
        )
    )
    ranked = docs.select(
        "doc_id", "lang", "source", w.alias("weight"), key.alias("key")
    )
    return (
        ranked.orderBy(F.desc("key"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "lang", "source", "weight", F.col("key").cast("long").alias("key"))
    )


def weighted_sample_docs_sql(k: int = 25) -> str:
    from approximatequeryengine_spark.functions.hashing import portable_hash_sql

    h = portable_hash_sql("doc_id", salt=f"{WEIGHTED_SALT_BASE} + s")
    return f"""
SELECT doc_id, lang, source, weight, CAST(key AS BIGINT) AS key
FROM (
  SELECT doc_id, lang, source, {_quality_weight_sql()} AS weight,
         list_max(list_transform(range(1, {_quality_weight_sql()} + 1), s -> {h})) AS key
  FROM documents
)
ORDER BY key DESC, doc_id ASC
LIMIT {k}
"""
