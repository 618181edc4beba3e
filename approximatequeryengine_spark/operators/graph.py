"""Iterative graph analytics — PageRank over the token co-occurrence
graph, Spark-first.

The repo's other iterative operator (`operators/dedup.py::
dedup_connected_clusters`) is BSP hash-min label propagation; this adds
the NUMERIC iteration class: a fixed number of synchronous PageRank
steps, each one join + one grouped sum, driven by a plain Python loop
that only grows the lazy plan (no collect between steps).

Edge model — SLIDING-WINDOW co-occurrence (the standard TextRank
formulation): tokens co-occur iff their positions are within
``PR_WINDOW`` of each other, rendered as both directed edges and
deduplicated corpus-wide. The build is a strict EQUI-join: each token
emits its ``W`` successor positions as probe keys and joins back on
``(doc_id, pos)``, so edge candidates are O(tokens × W) — never the
per-document all-distinct-pairs self-join (Σ dᵢ² candidates), which a
single 5k-distinct-token document would blow up to 25M pairs.

Determinism contract (what makes the DuckDB oracle exact): ranks are
INTEGER fixed-point (scale 10¹²) and every step is pure integer
arithmetic —

    r'(v) = (15·S) // (100·n)  +  (85 · Σ_{u→v} (r(u) // deg(u))) // 100

Integer sums are order-free, so the result is bit-identical in any
engine and any partitioning; a float formulation would re-associate
the neighbor sums differently per engine and drift across iterations.
The flooring loses a bounded trickle of probability mass per step
(≤ deg(u)⁻¹-scale per contribution) — documented, not hidden; ranking
quality is unaffected at scale 10¹².

The oracle UNROLLS the iterations as chained CTEs (r0 → r1 → …):
recursive CTEs forbid aggregation over the recursive term, and an
unrolled fixed-depth chain is the honest SQL rendering of a
fixed-iteration synchronous algorithm.

At 100 TB: the edge build shuffles O(tokens × W) probe rows on
(doc_id, pos) then deduplicates on (src, dst) — both plain hash
shuffles, no quadratic term anywhere; each iteration is ONE join + one
grouped sum shuffled on the destination token (degree is a per-source
constant, pre-joined onto the edge set once; same key every step, so a
production run would hash-partition ranks+weighted-edges once and reuse
the layout); state is O(vocabulary). The k-row top-k readout is materialized first
and the edge cache released before returning, so long-lived sessions
running many registry entries don't accumulate executor storage. The
reference has no graph machinery at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.text import ws_tokens_sql

PR_SCALE = 10**12
PR_ITERS = 5
PR_TOPK = 20
PR_WINDOW = 3  # co-occurrence = positions within 3 (TextRank-style)


def _token_pairs_pandas(docs: DataFrame, window: int) -> DataFrame:
    """Arrow kernel for the sliding-window co-occurrence pair build
    (round 10): the former expression plan exploded every token ``window``
    more times into probe rows and SHUFFLED tokens×(window+1) string
    rows through a (doc_id, pos) equi-join — the sf10 wall of the
    pagerank entry. Here each task tokenizes its documents once
    (space-only trim + Java-``\\s+`` split + per-token
    lower as the certified text kernels), emits the window pairs in
    both directions directly, and pre-deduplicates per task, so the
    only shuffle left is the corpus-wide ``distinct`` over
    already-thinned edge rows. A per-task text memo skips replica
    documents outright (their pair sets are already in the task's
    seen-set) — on the replica-dense scaling corpora that removes
    ~99% of the tokenize+pair work. The edge set is pinned against a
    Python windowed-pair reference over ``ws_tokens_col`` tokens by
    ``test_token_edges_arrow_matches_expression``."""
    import re

    import pandas as pd

    # ws_tokens_col parity: F.trim (like DuckDB trim) strips SPACES
    # only — a tab-leading text keeps a leading '' token after the
    # Java-\s+ split, and re.split reproduces that (including the
    # trailing empty of limit=-1). Pinned by the edge frame in the
    # token-edges test.
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def kernel(it):
        seen: set = set()  # per-task pair dedup (distinct() still runs)
        done: set = set()  # per-task text memo
        for pdf in it:
            srcs: list = []
            dsts: list = []
            for text in pdf["text"]:
                if text is None or text in done:
                    continue
                if len(done) < 65536:
                    done.add(text)
                t = text.strip(" ")
                toks = [tk.lower() for tk in ws_re.split(t)] if t else []
                n_toks = len(toks)
                for off in range(1, window + 1):
                    for i in range(n_toks - off):
                        a, b = toks[i], toks[i + off]
                        if a == b:
                            continue
                        for p in ((a, b), (b, a)):
                            if p not in seen:
                                if len(seen) < (1 << 22):
                                    seen.add(p)
                                srcs.append(p[0])
                                dsts.append(p[1])
            if srcs:
                yield pd.DataFrame({"src": srcs, "dst": dsts})

    return docs.select("text").mapInPandas(kernel, "src string, dst string")


def _token_edges(docs: DataFrame, window: int = PR_WINDOW) -> DataFrame:
    """Distinct directed sliding-window co-occurrence edges.

    Each token pairs with its ``window`` successor positions:
    O(tokens × window) candidates, probes past the end of a document
    simply find no match. Pairs are emitted in both directions
    (undirected co-occurrence), self-loops dropped, then deduplicated
    corpus-wide, from the per-task Arrow kernel above."""
    from approximatequeryengine_spark.operators import ensure_parallelism

    return _token_pairs_pandas(ensure_parallelism(docs, weight=8.0), window).distinct()


def token_pagerank_topk(
    spark: SparkSession,
    docs: DataFrame,
    iters: int = PR_ITERS,
    k: int = PR_TOPK,
) -> DataFrame:
    """Top-k tokens by fixed-point PageRank after ``iters`` synchronous
    steps. Output: (rank, tok, pr) with pr the exact integer
    fixed-point score."""
    # Round 9: the iteration body is ONE join + one grouped sum. The
    # original shape joined ranks⋈deg⋈out_edges then nodes⋈contrib —
    # three joins per step, 15 broadcast exchanges across the chain,
    # and the wall was dominated by planning/replanning the deep plan
    # (measured 8.3 s warm at sf0.1 for a 31-node graph; 4.3 s after).
    # Two structural facts make the fusion exact:
    #   * deg is a per-edge-source constant across iterations, so the
    #     (src, dst, deg) triple is pre-joined ONCE and persisted —
    #     each step then needs only ranks⋈wedges.
    #   * the edge set is symmetric by construction (fwd ∪ rev), so
    #     every node has at least one in-neighbor and the grouped
    #     contribution sum already covers the full node set — the
    #     nodes-left-join (whose only job was resurrecting
    #     zero-in-degree nodes) is an identity and is dropped.
    edges = _token_edges(docs)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    wedges = (
        edges.join(deg, on="src", how="inner")
        .select(F.col("src").alias("etok"), "dst", "deg")
        .persist()
    )
    try:
        nodes = wedges.select(F.col("etok").alias("tok")).distinct()
        n = nodes.count()  # bounded: |vocabulary|; materializes the cache
        if n == 0:
            # no co-occurrence edges (empty corpus or single-token docs):
            # empty result, never a ZeroDivisionError (the repo's
            # empty-input contract, tests/test_empty_inputs.py)
            return docs.sparkSession.createDataFrame(
                [], "rank int, tok string, pr long"
            )
        base = (15 * PR_SCALE) // (100 * n)
        ranks = nodes.withColumn("pr", F.lit(PR_SCALE // n).cast("long"))
        for _ in range(iters):
            contrib = (
                ranks.join(wedges, F.col("etok") == F.col("tok"), "inner")
                .select(
                    F.col("dst").alias("tok"),
                    F.floor(F.col("pr") / F.col("deg")).cast("long").alias("c"),
                )
                .groupBy("tok")
                .agg(F.sum("c").cast("long").alias("s"))
            )
            ranks = contrib.select(
                "tok",
                (
                    F.lit(base)
                    + F.floor(F.lit(85) * F.coalesce(F.col("s"), F.lit(0)) / F.lit(100))
                )
                .cast("long")
                .alias("pr"),
            )
        # Materialize the k-row readout BEFORE unpersisting so the
        # returned DataFrame never recomputes the edge build (a lazy
        # return would re-run everything at the caller's collect).
        top_rows = (
            ranks.orderBy(F.desc("pr"), F.asc("tok")).limit(k).collect()
        )
    finally:
        wedges.unpersist()
    out = [
        (i + 1, r["tok"], r["pr"]) for i, r in enumerate(top_rows)
    ]
    return spark.createDataFrame(out, "rank int, tok string, pr long")


def token_pagerank_topk_sql(
    iters: int = PR_ITERS, k: int = PR_TOPK, window: int = PR_WINDOW
) -> str:
    """DuckDB oracle: identical sliding-window edges and degrees,
    iterations unrolled as chained CTEs, identical integer arithmetic.
    (The oracle's pair search is a range join on positions — fine for
    an oracle; the Spark side is the strict equi-join.)"""
    toks = f"list_transform({ws_tokens_sql('text')}, t -> lower(t))"
    steps = []
    prev = "r0"
    for i in range(1, iters + 1):
        steps.append(f"""
c{i} AS (
  SELECT e.dst AS tok, CAST(sum({prev}.pr // deg.deg) AS BIGINT) AS s
  FROM {prev} JOIN deg ON deg.src = {prev}.tok
  JOIN edges e ON e.src = {prev}.tok
  GROUP BY 1
),
r{i} AS (
  SELECT nodes.tok,
         CAST((SELECT base FROM consts)
              + (85 * coalesce(c{i}.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes LEFT JOIN c{i} ON c{i}.tok = nodes.tok
)""")
        prev = f"r{i}"
    chain = ",".join(steps)
    return f"""
WITH lists AS (
  SELECT doc_id, {toks} AS l FROM documents
),
toks AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
  FROM lists
),
pairs AS (
  SELECT a.tok AS s, b.tok AS d
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {window}
  WHERE a.tok != b.tok
),
edges AS (
  SELECT s AS src, d AS dst FROM pairs
  UNION
  SELECT d AS src, s AS dst FROM pairs
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS tok FROM edges),
consts AS (
  SELECT (15 * {PR_SCALE}::BIGINT) // (100 * count(*)) AS base,
         {PR_SCALE}::BIGINT // count(*) AS r_init
  FROM nodes
),
r0 AS (SELECT tok, (SELECT r_init FROM consts) AS pr FROM nodes),{chain}
SELECT rank, tok, pr FROM (
  SELECT row_number() OVER (ORDER BY pr DESC, tok ASC) AS rank, tok, pr
  FROM {prev}
) WHERE rank <= {k}
"""
