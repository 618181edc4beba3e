"""Similarity search over embedding columns (``array<float>``).

- **Brute-force top-k**: broadcast the (small) query set against the
  corpus; cosine computed with ``zip_with``/``aggregate`` (JVM-side,
  codegen) → Window top-k per query. Exact; cost O(|queries|·n) — the
  correctness baseline, and still the right plan whenever the query set
  broadcasts.
- **Multi-table banded LSH ANN** (round-2 rework): ``ANN_TABLES``
  independent random-hyperplane signatures of ``ANN_BITS`` each;
  candidates = union of per-table bucket hits, deduped, then
  cosine-verified. Recall (1−(1−p^b)^T) and bucket width (2^-b) are
  independent dials; hyperplane weights ±1 derive from the portable
  hash so both engines and any cluster layout compute identical
  signatures. Signatures come from an Arrow kernel with fold-order bit
  parity (``lsh_band_keys_arrow``).
- **Embedding near-dup pairs** (round-2 rework): banded-LSH candidate
  buckets ``(label, band, key)`` + exact cosine verify — bounded
  blocks instead of the within-label quadratic.
- **IVF ANN**: MLlib k-means coarse quantizer + probed inverted lists
  (iterative training → rows-only driver check).
- **int8-quantized brute force**: 4× memory; cosine from exact integer
  dot/norm arithmetic (scale-invariance), fully oracle-checked.

All operators except IVF have DuckDB oracle renderings; float dot
products are written with the same left-to-right summation order in
both engines so the doubles agree bit-for-bit.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.sources.swap import read_synopsis
from pyspark.sql.window import Window

from approximatequeryengine_spark.functions.hashing import (
    portable_hash_col,
    portable_hash_np,
)
from approximatequeryengine_spark.functions.vector import cosine_sim

DIM = 64  # fixture embedding dimensionality


def valid_vec_col(col: Column) -> Column:
    """Vector-validity policy, one copy: a vector is usable iff it is
    non-NULL and every dimension is finite — a broken encoder emitting
    one NaN/Inf dim invalidates the WHOLE vector (cosines, hyperplane
    signs, PQ codes and the drift grid all become poisoned or raise on
    the integer casts otherwise). SQL twin: :func:`valid_vec_sql`."""
    return col.isNotNull() & ~F.exists(
        col,
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )


def valid_vec_sql(expr: str) -> str:
    """DuckDB rendering of :func:`valid_vec_col`. The element predicate
    includes IS NULL explicitly: a three-valued lambda result would
    make list_filter SKIP a NULL element (counting the vector valid)
    while Spark's ``exists`` returns NULL and the filter drops it —
    the NULL-element vector must be invalid in BOTH engines."""
    return (
        f"({expr} IS NOT NULL AND len(list_filter({expr}, "
        f"x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) "
        f"OR abs(CAST(x AS DOUBLE)) = 'Infinity'::DOUBLE)) = 0)"
    )


def _cosine_sql(a: str, b: str) -> str:
    """DuckDB cosine with explicit sequential sums (matches zip_with +
    aggregate fold order on the Spark side). Vectors of unequal length
    have no cosine (NULL), as on the Spark side, where ``zip_with``
    NULL-pads the shorter one and the dot folds to NULL."""
    dot = f"list_sum(list_transform(range(1, len({a}) + 1), i -> CAST({a}[i] AS DOUBLE) * {b}[i]))"
    na = f"sqrt(list_sum(list_transform({a}, v -> CAST(v AS DOUBLE) * v)))"
    nb = f"sqrt(list_sum(list_transform({b}, v -> CAST(v AS DOUBLE) * v)))"
    return f"(CASE WHEN len({a}) = len({b}) THEN {dot} / ({na} * {nb}) END)"


def _vec_double(col: Column) -> Column:
    return F.transform(col, lambda v: v.cast("double"))


def ann_bruteforce_topk(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors
    (vec_id < n_queries), excluding self. Returns
    (query_id, neighbor_id, rank, cos_sim).

    NULL embeddings are excluded on BOTH sides (query and corpus) —
    the uniform similarity-module policy, mirrored in the oracle: a
    vector without an embedding has no direction, and keeping it would
    otherwise surface as NULL-cosine rows whose rank depends on each
    engine's NULL-ordering default."""
    from approximatequeryengine_spark.functions.vector import dot, l2_norm
    from approximatequeryengine_spark.operators import ensure_parallelism

    # Norms are per-VECTOR quantities: compute them once on each side of
    # the join (O(corpus + queries) fold evaluations) instead of inside
    # cosine_sim per PAIR (O(corpus × queries) — 3× the interpreted
    # higher-order-function work; norms were 2 of the 3 array folds per
    # pair). The post-join projection references the norm as a column of
    # the join inputs, so it is NOT re-inlined. Float-identical to
    # cosine_sim: same fold producing the same norm doubles, same
    # dot/(n_a·n_b) with the same zero-denominator NULL guard. The
    # corpus side also fans out size-proportionally — a single input
    # file must not serialize the scoring scan.
    base = ensure_parallelism(
        emb.filter(valid_vec_col(F.col("embedding"))), weight=4.0
    ).select(
        F.col("vec_id"),
        _vec_double(F.col("embedding")).alias("v"),
    ).select("vec_id", "v", l2_norm(F.col("v")).alias("nv"))
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    denom = F.col("nq") * F.col("nv")
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.when(denom != F.lit(0.0), dot(F.col("qv"), F.col("v")) / denom).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def ann_bruteforce_topk_sql(n_queries: int = 5, k: int = 3) -> str:
    cos = _cosine_sql("q.embedding", "e.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {n_queries}
    AND {valid_vec_sql("q.embedding")} AND {valid_vec_sql("e.embedding")}
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= {k}
"""


def ann_bruteforce_topk_arrow(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
) -> DataFrame:
    """Arrow fast path for exact brute-force top-k — identical results
    to :func:`ann_bruteforce_topk` (and its oracle), different engine
    path: Catalyst evaluates the zip_with/aggregate cosine *interpreted,
    per element*, so the per-pair cost carries expression-tree overhead;
    this kernel computes all |batch|×|queries| cosines with vectorized
    numpy accumulation and emits only each batch's local top-k per query
    (the global top-k is a subset of the per-partition top-k's union —
    the combiner pattern), so the shuffle carries k·|queries| rows per
    partition no matter the corpus size.

    Bit parity with the expression path: dot products and norms
    accumulate SEQUENTIALLY over dimensions (one vectorized step per
    dimension — the exact left-to-right float64 fold of ``aggregate`` /
    ``list_sum``), so the cosines are bit-identical, not merely close
    (a matmul's pairwise summation would differ at the ulp). Pinned in
    ``test_bruteforce_arrow_matches_expression_path``."""
    import numpy as np
    import pandas as pd

    emb = emb.filter(valid_vec_col(F.col("embedding")))  # module NULL policy
    q_rows = sorted(
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if not q_rows:
        raise ValueError("no query vectors with vec_id < n_queries")
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in q_rows])
    dim = Q.shape[1]
    qn = np.zeros(len(Q))
    for d in range(dim):  # sequential: fold-order parity
        qn += Q[:, d] * Q[:, d]
    qn = np.sqrt(qn)

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            ids = pdf["vec_id"].to_numpy()
            dot = np.zeros((len(X), len(Q)))
            xn = np.zeros(len(X))
            for d in range(dim):  # sequential: fold-order parity
                dot += X[:, d : d + 1] * Q[None, :, d]
                xn += X[:, d] * X[:, d]
            cos = dot / (qn[None, :] * np.sqrt(xn)[:, None])
            out_q, out_n, out_c = [], [], []
            for j in range(len(Q)):
                mask = ids != qids[j]
                c, nb = cos[mask, j], ids[mask]
                take = np.lexsort((nb, -c))[:k]  # cos desc, neighbor asc
                out_q.extend([qids[j]] * len(take))
                out_n.extend(nb[take])
                out_c.extend(c[take])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_c}
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


# -- LSH (random hyperplane) ------------------------------------------------


@lru_cache(maxsize=None)
def _hyperplane_signs(bit: int) -> tuple[int, ...]:
    """Deterministic ±1 weights of hyperplane ``bit`` over the ``DIM``
    dimensions: bit 16 of the portable hash of key ``bit·DIM + d`` (the
    low bits of a multiplicative hash are weak), one vectorised
    ``portable_hash_np`` call, so Spark/DuckDB/any-layout agree."""
    h = portable_hash_np(bit * DIM + np.arange(DIM))
    return tuple(np.where((h >> 16) & 1, 1, -1).tolist())


def _hyperplane_bit_col(vec: Column, bit: int) -> Column:
    """Sign bit of hyperplane ``bit``'s projection (0/1 as long).

    The sign array is sliced to the vector's length: the projection
    runs over the first ``min(len, DIM)`` dimensions in both engines
    (DuckDB's rendering already truncates via ``range(1, len+1)``;
    an unsliced zip_with would null-pad short vectors and zero out
    every bit)."""
    signs = _hyperplane_signs(bit)
    sign_arr = F.slice(
        F.array(*[F.lit(s).cast("double") for s in signs]),
        F.lit(1),
        F.least(F.size(vec), F.lit(DIM)),
    )
    proj = F.aggregate(
        F.zip_with(
            F.slice(vec, F.lit(1), F.least(F.size(vec), F.lit(DIM))),
            sign_arr,
            lambda v, s: v.cast("double") * s,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))


@lru_cache(maxsize=None)
def _hyperplane_bit_expr(vec: str, bit: int) -> str:
    """Spark-SQL text twin of :func:`_hyperplane_bit_col` — same slice
    bounds, same left-to-right double fold, same sign literals (the
    ``D`` suffix keeps them DOUBLE; a bare ``1.0`` would be DECIMAL in
    Spark SQL). Exists because the Column builder creates ``DIM`` (64)
    literal Columns per bit through py4j — measured as the dominant
    cost of building the IVF/PQ plans (seconds of driver time per
    query); one ``F.expr`` parse is one round trip, and the text is
    lru-cached. Value equality with the Column path is pinned by
    ``test_ivf_expr_builders_match_column_path``."""
    signs = ", ".join(f"{float(s)}D" for s in _hyperplane_signs(bit))
    ln = f"least(size({vec}), {DIM})"
    proj = (
        f"aggregate(zip_with(slice({vec}, 1, {ln}), "
        f"slice(array({signs}), 1, {ln}), "
        f"(a, s) -> CAST(a AS DOUBLE) * s), 0.0D, (acc, x) -> acc + x)"
    )
    return (
        f"(CASE WHEN {proj} > 0 THEN CAST(1 AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )


@lru_cache(maxsize=None)
def _ivf_cell_expr(vec: str, bits: int) -> str:
    """The packed LSH-cell id as ONE Spark-SQL text (see
    :func:`_hyperplane_bit_expr` for why text)."""
    terms = " + ".join(
        f"({_hyperplane_bit_expr(vec, b)} * CAST({2 ** b} AS BIGINT))"
        for b in range(bits)
    )
    return f"CAST(({terms}) AS INT)"


def _hyperplane_bit_sql(vec: str, bit: int) -> str:
    signs = ", ".join(f"{s}.0" for s in _hyperplane_signs(bit))
    proj = (
        f"list_sum(list_transform(range(1, least(len({vec}), {DIM}) + 1), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ([{signs}])[i]))"
    )
    return f"(CASE WHEN {proj} > 0 THEN 1 ELSE 0 END)"


def lsh_band_keys_col(vec: Column, n_bands: int, bits_per_band: int) -> list[Column]:
    """One integer bucket key per band; band t packs hyperplane bits
    ``[t·b, (t+1)·b)``. Two vectors are LSH *candidates* iff they agree
    on ALL bits of at least one band — the banding trade (more bands →
    higher recall, wider bands → smaller buckets) identical in shape to
    the MinHash banding in ``operators/dedup.py``."""
    keys = []
    for t in range(n_bands):
        total = F.lit(0).cast("long")
        for j in range(bits_per_band):
            total = total + _hyperplane_bit_col(vec, t * bits_per_band + j) * F.lit(2**j).cast("long")
        keys.append(total)
    return keys


def lsh_band_keys_sql(vec: str, n_bands: int, bits_per_band: int) -> list[str]:
    keys = []
    for t in range(n_bands):
        terms = [
            f"({_hyperplane_bit_sql(vec, t * bits_per_band + j)} * {2**j})"
            for j in range(bits_per_band)
        ]
        keys.append("(" + " + ".join(terms) + ")")
    return keys


def lsh_band_keys_arrow(
    emb: DataFrame,
    n_bands: int,
    bits_per_band: int,
    carry: tuple[str, ...] = (),
    carry_schema: str = "",
) -> DataFrame:
    """Arrow fast path for the band keys: Catalyst evaluates the
    higher-order zip_with/aggregate projections *interpreted, per
    element* — 64 hyperplane bits over 64-dim vectors measured ~20×
    slower than brute-force cosine at sf0.1. This kernel computes the
    identical bits with one vectorized accumulation per dimension.

    Bit parity with ``lsh_band_keys_col`` and the DuckDB oracle's
    ``lsh_band_keys_sql``: the accumulation loops over dimensions IN
    ORDER with a single accumulator — the exact left-to-right float64
    summation of the fold / list_sum — so the ``proj > 0`` sign can
    never disagree (a numpy matmul's pairwise summation could, at
    |proj| ≈ ulp).
    Equivalence is pinned in ``test_band_keys_arrow_matches_expression``.

    Returns ``[*carry, vec_id, v (double), keys (array<long>)]``."""
    import numpy as np
    import pandas as pd

    nbits = n_bands * bits_per_band
    signs = np.array([_hyperplane_signs(b) for b in range(nbits)], dtype=np.float64)
    weights = 2 ** np.arange(bits_per_band, dtype=np.int64)

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            lens = pdf["embedding"].map(len)
            for dim_val, sub in pdf.groupby(lens):
                x = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in sub["embedding"]]
                )
                dim = min(int(dim_val), DIM)
                acc = np.zeros((len(sub), nbits))
                for d in range(dim):  # sequential: fold-order parity
                    acc += x[:, d : d + 1] * signs[None, :, d]
                bits = (acc > 0).astype(np.int64)
                keys = np.stack(
                    [
                        bits[:, t * bits_per_band : (t + 1) * bits_per_band] @ weights
                        for t in range(n_bands)
                    ],
                    axis=1,
                )
                data = {c: sub[c] for c in carry}
                data["vec_id"] = sub["vec_id"]
                data["v"] = list(x)
                data["keys"] = list(keys)
                yield pd.DataFrame(data)

    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    prefix = f"{carry_schema}, " if carry_schema else ""
    return (
        # NULL embeddings carry no direction: excluded from the
        # signature table — the SQL twins reach the same end state via
        # NULL band keys (equality joins never match them).
        emb.filter(valid_vec_col(F.col("embedding")))
        .repartition(n_parts, "vec_id")
        .select(*carry, "vec_id", "embedding")
        .mapInPandas(
            batches,
            schema=f"{prefix}vec_id long, v array<double>, keys array<long>",
        )
        # Exchange barrier: downstream plans consume the signatures
        # from the shuffle (ReusedExchange) instead of re-running the
        # kernel per subtree (corpus + query branches).
        .repartition(n_parts, "vec_id")
    )


ANN_TABLES = 16
ANN_BITS = 4


def ann_lsh_topk(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    n_tables: int = ANN_TABLES,
    bits_per_table: int = ANN_BITS,
) -> DataFrame:
    """Approximate top-k via **multi-table banded LSH**: ``n_tables``
    independent signatures of ``bits_per_table`` hyperplane bits each;
    a corpus vector is a candidate for a query iff it lands in the
    query's bucket in ≥1 table, and candidates are cosine-verified and
    ranked.

    Round-1 review flagged the single 8-bit-signature variant: 256
    buckets means ~n/256 candidates per bucket AND poor recall (a true
    neighbor must match all 8 bits at once). Multiple narrower tables
    fix both dials independently — recall = 1 − (1 − p^b)^T (p =
    1 − θ/π per bit), candidate fraction per table = ~2^-b. Defaults
    (16 × 4) hit ≥0.9 recall on the fixture's moderate-cosine
    neighbors; production corpora with tighter neighbors (cos ≥ 0.8)
    would use fewer, wider tables (e.g. 4 × 16) for a far smaller
    candidate set. At scale the exploded (table, key) column is the
    partition key: each query probes T buckets, never the corpus.

    The tiny query set is broadcast; dedup of the union of bucket hits
    happens before any cosine is computed. The signatures come from the
    vectorized kernel ``lsh_band_keys_arrow``."""
    sigs = lsh_band_keys_arrow(emb, n_tables, bits_per_table)
    banded = sigs.select("vec_id", "v", F.posexplode("keys").alias("tbl", "key"))
    queries = banded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        "tbl",
        "key",
    )
    cand = (
        banded.join(F.broadcast(queries), on=["tbl", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), "v")
        # a candidate colliding in k tables appears k times — keep one
        # BEFORE the cosine so verification cost is |unique candidates|.
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_sim(F.col("qv"), F.col("v")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def ann_lsh_topk_sql(
    n_queries: int = 5,
    k: int = 3,
    n_tables: int = ANN_TABLES,
    bits_per_table: int = ANN_BITS,
) -> str:
    keys = lsh_band_keys_sql("embedding", n_tables, bits_per_table)
    key_cols = ", ".join(f"{key} AS k{t}" for t, key in enumerate(keys))
    any_tbl = " OR ".join(f"q.k{t} = e.k{t}" for t in range(n_tables))
    cos = _cosine_sql("q.embedding", "e.embedding")
    return f"""
WITH sigs AS (SELECT vec_id, embedding, {key_cols} FROM embeddings
              WHERE {valid_vec_sql("embedding")}),
cand AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM sigs q JOIN sigs e ON e.vec_id != q.vec_id AND ({any_tbl})
  WHERE q.vec_id < {n_queries}
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= {k}
"""


def _assign_cells_pandas(base: DataFrame, bits: int) -> DataFrame:
    """NumPy kernel for the per-vector LSH-cell assignment (round 10):
    the interpreted hyperplane folds were the linear-term wall of every
    assignment-heavy operator — ``bits × DIM`` lambda evaluations per
    vector, measured 7.5 s for 200k vectors at 10 bits (sf10
    semantic-cells, noop-sinked in isolation). Projections accumulate
    SEQUENTIALLY over dimensions (the exact left-to-right double fold
    of ``aggregate``), signs are the same ``_hyperplane_signs`` floats,
    the bit test is the same strict ``> 0``, and vectors are sliced to
    ``min(len, DIM)`` exactly as the expression's ``slice`` — so cell
    ids are bit-identical. Pinned against the Spark-SQL text
    ``_ivf_cell_expr`` by ``test_ivf_assign_arrow_matches_expression``."""
    import numpy as np
    import pandas as pd

    signs = np.array([_hyperplane_signs(b) for b in range(bits)], dtype=np.float64)

    def kernel(it):
        for pdf in it:
            n = len(pdf)
            if not n:
                continue
            vals = pdf["v"].to_numpy()
            lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
            cluster = np.zeros(n, dtype=np.int64)
            for ln in np.unique(lens):
                sel = np.nonzero(lens == ln)[0]
                width = int(min(ln, DIM))
                if not width:
                    continue  # empty slice folds to 0.0 → all bits 0
                V = np.stack(
                    [np.asarray(v, dtype=np.float64)[:width] for v in vals[sel]]
                )
                for b in range(bits):
                    proj = np.zeros(len(sel))
                    for d in range(width):  # sequential: fold-order parity
                        proj += V[:, d] * signs[b, d]
                    cluster[sel] += (proj > 0).astype(np.int64) << b
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": vals,
                    "cluster": cluster.astype(np.int32),
                }
            )

    return base.mapInPandas(
        kernel, schema="vec_id long, v array<double>, cluster int"
    )


def _ivf_assign(emb: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic LSH-cell assignment shared by every IVF surface
    (in-memory top-k, index write, index append): ``log2(n_centroids)``
    hyperplane-sign bits pack into the cell id. Extracted so the
    append==rebuild and index==in-memory guarantees are STRUCTURAL (one
    definition) rather than merely test-enforced. Returns
    (vec_id, v double-array, cluster int)."""
    bits = max(1, (n_centroids - 1).bit_length())
    if 2 ** bits != n_centroids:
        raise ValueError(f"n_centroids must be a power of two, got {n_centroids}")
    # vector-validity policy at the shared chokepoint: every IVF
    # surface (topk, index write, append, PQ) assigns through here
    base = emb.filter(valid_vec_col(F.col("embedding"))).select(
        F.col("vec_id"), _vec_double(F.col("embedding")).alias("v")
    )
    return _assign_cells_pandas(base, bits)


def _ivf_centroids(assigned: DataFrame) -> DataFrame:
    """Per-cell empirical centroid (component means on the shared
    6-decimal grid) — the single definition the in-memory operator, the
    index builder, and the refresh all use. Returns (cluster, cvec)."""
    return (
        assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cvec")
        )
    )


def _ivf_probes(
    emb: DataFrame,
    centroids: DataFrame,
    n_queries: int,
    n_probe: int,
    with_rank: bool = False,
) -> DataFrame:
    """Probe selection: each query's ``n_probe`` most cosine-similar
    cells (ties → lower cell id). Returns (query_id, qv, cluster);
    ``with_rank=True`` additionally keeps the probe rank ``prn`` —
    because the order is TOTAL, the top-``m`` probes for any m ≤
    n_probe are exactly the rows with ``prn <= m`` (what lets the
    recall profile score all probe settings from one selection)."""
    queries = (
        emb.filter(valid_vec_col(F.col("embedding")))
        .select(F.col("vec_id"), _vec_double(F.col("embedding")).alias("v"))
        .filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("cluster"))
    ranked = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "qv", "cluster",
            cosine_sim(F.col("qv"), F.col("cvec")).alias("c_sim"),
        )
        .withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= n_probe)
    )
    cols = ["query_id", "qv", "cluster"] + (["prn"] if with_rank else [])
    return ranked.select(*cols)


def _ivf_rank(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cluster", "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


def ann_ivf_topk(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN with a DETERMINISTIC coarse quantizer:
    LSH cells instead of iterative k-means. ``log2(n_centroids)``
    hyperplane-sign bits (the certified ``_hyperplane_bit`` family)
    partition the corpus into cells; each cell's empirical centroid is
    its per-component mean (ONE grouped aggregate, rounded to 6
    decimals); a query probes the ``n_probe`` cells whose centroids are
    most cosine-similar and brute-forces only inside them.

    Why not k-means: an iterative, initialization-sensitive trainer has
    no tractable cross-engine replay (round-3 left this entry as the
    repo's only rows-only ANN check). The LSH-cell quantizer keeps the
    IVF structure and asymptotics — scan per query ~N·n_probe/n_cells,
    index = one small-int cell column, centroid table is cell-count
    sized — while making training a single deterministic pass that the
    DuckDB oracle re-derives end-to-end (:func:`ann_ivf_topk_sql`):
    identical hyperplane bits, centroid means on the shared rounding
    grid, identical left-to-right cosine folds, identical tie-breaks
    (cell id, then neighbor id).

    Plan shape at scale: one grouped centroid aggregate (shuffles the
    slim (cell, pos, val) projection), a broadcast of |queries|·n_probe
    probe rows onto the cell-partitioned corpus, and a per-query top-k
    window over ~N·n_probe/n_cells candidates. ``n_centroids`` must be
    a power of two."""
    assigned = _ivf_assign(emb, n_centroids)
    probes = _ivf_probes(emb, _ivf_centroids(assigned), n_queries, n_probe)
    scored = (
        assigned.join(F.broadcast(probes), on="cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cluster"),
            cosine_sim(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
    )
    return _ivf_rank(scored, k)

def ann_ivf_topk_sql(
    n_queries: int = 5,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> str:
    """DuckDB oracle for :func:`ann_ivf_topk` — re-derives the ENTIRE
    pipeline: cell assignment (identical hyperplane bits), centroid
    means (same 6-decimal grid), probe selection, in-cell scoring, and
    ranking, with the same tie-breaks."""
    bits = max(1, (n_centroids - 1).bit_length())
    cell = "(" + " + ".join(
        f"({_hyperplane_bit_sql('embedding', b)} * {2 ** b})" for b in range(bits)
    ) + ")"
    cos_probe = _cosine_sql("q.qv", "c.cvec")
    cos_cand = _cosine_sql("p.qv", "a.v")
    return f"""
WITH a AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST({cell} AS INTEGER) AS cluster
  FROM embeddings WHERE {valid_vec_sql("embedding")}
),
cm AS (
  SELECT cluster, pos, round(avg(val), 6) AS m FROM (
    SELECT cluster, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM a
  ) GROUP BY cluster, pos
),
cent AS (SELECT cluster, list(m ORDER BY pos) AS cvec FROM cm GROUP BY cluster),
q AS (SELECT vec_id AS query_id, v AS qv FROM a WHERE vec_id < {n_queries}),
pr AS (
  SELECT query_id, qv, cluster FROM (
    SELECT q.query_id, q.qv, c.cluster,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_probe} DESC, c.cluster ASC) AS prn
    FROM q CROSS JOIN cent c
  ) WHERE prn <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.cluster,
         {cos_cand} AS cos_sim
  FROM pr p JOIN a ON a.cluster = p.cluster AND a.vec_id != p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cluster, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, cluster, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= {k}
"""


def ann_ivf_write_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
) -> None:
    """Persist the IVF index: cell-PARTITIONED vector parquet
    (``path/vectors/cluster=<c>/``) plus a tiny centroid table
    (``path/centroids``). Building uses the same ``_ivf_assign`` /
    ``_ivf_centroids`` definitions as :func:`ann_ivf_topk`, so a query
    against the persisted index returns EXACTLY what the in-memory
    operator returns — one oracle covers both paths, and the identity
    is structural, not merely test-enforced.

    The partitioning is the point at scale: each probe reads ONLY its
    cell's directory, so a query scans ~n_probe/n_cells of the corpus
    off disk (plan-gated via PartitionFilters in
    ``test_ivf_index_matches_in_memory_and_prunes_partitions``) — index
    construction cost is paid once, not per query batch."""
    # persist across the two writes: the assignment subtree otherwise
    # re-runs per write job (synchronous builds, so unpersist is safe)
    assigned = _ivf_assign(emb, n_centroids).persist()
    try:
        assigned.write.partitionBy("cluster").mode("overwrite").parquet(
            f"{path}/vectors"
        )
        _ivf_centroids(assigned).write.mode("overwrite").parquet(f"{path}/centroids")
    finally:
        assigned.unpersist()


def ann_ivf_query_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    n_queries: int = 5,
    k: int = 3,
    n_probe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index (:func:`ann_ivf_write_index`):
    probe selection against the tiny centroid table, then an IN-list
    filter on the partition column so the vector scan touches only the
    probed cells' directories (partition pruning — the 100 TB win).
    Results are identical to :func:`ann_ivf_topk` with the same
    parameters, hence certified by the same DuckDB oracle.

    The probe frame is |queries|·n_probe rows, so it is collected ONCE
    and re-enters the plan as literals — both the IN-list and the
    broadcast probe table derive from that single collect (recomputing
    the probe subplan per consumer would double the centroid-scan +
    window work)."""
    centroids = read_synopsis(spark, f"{path}/centroids")
    probe_rows = _ivf_probes(emb, centroids, n_queries, n_probe).collect()
    cells = sorted({r["cluster"] for r in probe_rows})
    probes = spark.createDataFrame(
        [(r["query_id"], r["qv"], r["cluster"]) for r in probe_rows],
        "query_id long, qv array<double>, cluster int",
    )
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cluster").isin(cells)
    )
    scored = (
        vectors.join(F.broadcast(probes), on="cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cluster"),
            cosine_sim(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
    )
    return _ivf_rank(scored, k)


def ann_ivf_append_index(
    spark: SparkSession,
    new_emb: DataFrame,
    path: str,
    n_centroids: int = 16,
) -> None:
    """Append new vectors to a persisted IVF index WITHOUT rebuilding:
    because the coarse quantizer is data-independent (fixed hyperplane
    cells, not k-means centroids), cell membership of existing vectors
    can never be invalidated by new data — appends are a pure
    partitioned write of the new batch's assignments. This is the
    design advantage over k-means IVF, where drift forces periodic
    re-clustering of the whole corpus. Call
    :func:`ann_ivf_refresh_centroids` afterwards to fold the new
    vectors into the probe-selection means (one grouped aggregate over
    the index — centroids only steer probing; in-cell results are exact
    either way)."""
    _ivf_assign(new_emb, n_centroids).write.partitionBy("cluster").mode(
        "append"
    ).parquet(f"{path}/vectors")


def ann_ivf_refresh_centroids(spark: SparkSession, path: str) -> None:
    """Recompute the centroid table from the index's current vectors
    (``_ivf_centroids``, same 6-decimal grid as the builder) — after
    this, a freshly-built index over the union and an appended+refreshed
    index are bit-identical in both tables. Reads ``path/vectors``;
    the centroid table is replaced via the crash-safe staged swap
    (sources/swap.py) so a failure mid-refresh never leaves the index
    without a centroid table."""
    from approximatequeryengine_spark.sources.swap import staged_swap

    assigned = spark.read.parquet(f"{path}/vectors")
    staged_swap(
        spark,
        f"{path}/centroids",
        lambda p: _ivf_centroids(assigned).write.mode("overwrite").parquet(p),
        name="ann_ivf_refresh_centroids",
    )



NEARDUP_BANDS = 4
NEARDUP_BITS = 2


def embedding_neardup_pairs(
    spark: SparkSession,
    emb: DataFrame,
    threshold: float = 0.95,
    n_bands: int = NEARDUP_BANDS,
    bits_per_band: int = NEARDUP_BITS,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ τ): banded-LSH candidate
    generation + exact cosine verification inside buckets.

    Round-1 review flagged the plain within-``label`` self-join as
    O(n²/|labels|) — a scale-killer at 10 labels. Candidates now come
    from ``(label, band, band-key)`` buckets: a pair is compared iff it
    agrees on all bits of ≥1 signature band, so the quadratic work is
    bounded by bucket size (|label-stratum| / 2^bits per band) and the
    whole pipeline is two narrow shuffles (band explode + verify).

    This is *candidate-generation* LSH, so recall < 1 by construction:
    P(candidate) = 1 − (1 − p^bits)^bands with p = 1 − θ/π. Defaults
    (4 bands × 2 bits) give ≈0.85 at the fixture's τ=0.35 verification
    band and ≈0.999 at the production τ=0.95. The DuckDB oracle mirrors
    the same bands bit-for-bit (hyperplane signs are the portable-hash
    family; dot products use identical left-to-right summation), so the
    driver check certifies the full candidate+verify pipeline.
    Signatures come from the vectorized kernel ``lsh_band_keys_arrow``,
    which also applies the vector-validity policy."""
    sigs = lsh_band_keys_arrow(
        emb, n_bands, bits_per_band, carry=("label",), carry_schema="label int"
    )
    base = sigs.select(
        "label", "vec_id", "v", F.posexplode("keys").alias("band", "key")
    )
    # Keys-only candidate generation (the minhash verify='join' payload
    # lesson, re-applied after the sf1 full-registry sweep read 54.5 s
    # here): the band join and the pair dedup shuffle move only
    # (label, band-key, ids) — the double vectors are re-joined from
    # the slim per-vector relation for SURVIVING pairs, so per-pair
    # payload is O(1) however dup-dense the corpus. On a 10-clique
    # corpus each pair appears in up to n_bands buckets; carrying two
    # vectors per appearance made the dedup shuffle the bottleneck.
    vecs = base.select("vec_id", "v").dropDuplicates(["vec_id"])
    cand = (
        base.drop("v").alias("a")
        .join(base.drop("v").alias("b"), on=["label", "band", "key"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("label"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        # a pair agreeing in k bands appears k times — keep one.
        .dropDuplicates(["vec_a", "vec_b"])
    )
    pairs = (
        cand.join(vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va")), "vec_a")
        .join(vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")), "vec_b")
        .select(
            "label",
            "vec_a",
            "vec_b",
            cosine_sim(F.col("va"), F.col("vb")).alias("cos_sim"),
        )
    )
    return pairs.filter(F.col("cos_sim") >= threshold).select(
        "label", "vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim")
    )


def embedding_neardup_pairs_sql(
    threshold: float = 0.95,
    n_bands: int = NEARDUP_BANDS,
    bits_per_band: int = NEARDUP_BITS,
) -> str:
    keys = lsh_band_keys_sql("embedding", n_bands, bits_per_band)
    key_cols = ", ".join(f"{k} AS k{t}" for t, k in enumerate(keys))
    any_band = " OR ".join(f"a.k{t} = b.k{t}" for t in range(n_bands))
    cos = _cosine_sql("x.embedding", "y.embedding")
    return f"""
WITH s AS (SELECT label, vec_id, embedding, {key_cols} FROM embeddings
           WHERE {valid_vec_sql("embedding")}),
cand AS (
  SELECT DISTINCT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM s a JOIN s b
    ON a.label = b.label AND a.vec_id < b.vec_id AND ({any_band})
)
SELECT c.label, c.vec_a, c.vec_b, round({cos}, 6) AS cos_sim
FROM cand c JOIN embeddings x ON c.vec_a = x.vec_id
            JOIN embeddings y ON c.vec_b = y.vec_id
WHERE {cos} >= {threshold}
"""


# -- int8 quantization (4x memory vs float32 at 100 TB) ---------------------


def quantize_embeddings_int8(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: q = round(x·127/s) with
    s = max|x| (stored alongside for dequantization). A numpy
    mapInPandas kernel — quantizing a billion-vector corpus is
    embarrassingly parallel, and int8+scale is 4× smaller than float32
    (the difference between an in-memory and a spilled ANN index)."""
    import numpy as np

    def batches(it):
        for pdf in it:
            ids, qs, scales = [], [], []
            for vec_id, v in zip(pdf["vec_id"], pdf["embedding"]):
                x = np.asarray(v, dtype=np.float64)
                s = float(np.max(np.abs(x))) or 1.0
                q = np.clip(np.rint(x * 127.0 / s), -127, 127).astype(np.int8)
                ids.append(vec_id)
                qs.append(q.tolist())
                scales.append(s)
            yield pd.DataFrame({"vec_id": ids, "q": qs, "scale": scales})

    import pandas as pd  # noqa: F811 (local for executor pickling)

    return (
        emb.select("vec_id", "embedding")
        .filter(valid_vec_col(F.col("embedding")))  # module NULL policy
        .mapInPandas(batches, schema="vec_id long, q array<tinyint>, scale double")
    )


def ann_bruteforce_topk_int8(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
) -> DataFrame:
    """Brute-force top-k over the int8-quantized corpus: integer dot
    products (numpy, SIMD-friendly) — the memory-bound scale path
    (int8 + one scale double is 4× smaller than float32).

    Cosine is scale-invariant, so it is computed PURELY from the
    quantized integers: ``cos = dot(qa,qb) / √(Σqa²·Σqb²)`` — the dot
    and squared norms are exact int64 sums (127²·64 ≪ 2⁶³), and the
    single float division+sqrt at the end is one IEEE op sequence both
    engines share. That makes the quantized search fully
    DuckDB-oracle-checkable (round-1 shipped it rows-only); the
    remaining float sensitivity — the quantization rounding itself —
    uses banker's rounding in both engines (numpy ``rint`` /
    DuckDB ``round_even``). Recall vs the float path is pinned in
    ``test_int8_topk_overlap``."""
    import numpy as np

    q8 = quantize_embeddings_int8(emb)
    queries = q8.filter(F.col("vec_id") < n_queries)

    def score(it, qrows):
        qids = np.array([r["vec_id"] for r in qrows])
        qmat = np.stack([np.asarray(r["q"], dtype=np.int64) for r in qrows])
        qsq = (qmat * qmat).sum(axis=1)  # exact integer Σq²
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            sq = (mat * mat).sum(axis=1)
            dots = mat @ qmat.T  # exact integer
            denom2 = np.outer(sq, qsq)  # exact integer
            cos = np.where(
                denom2 > 0, dots / np.sqrt(denom2.astype(np.float64)), 0.0
            )
            n, m = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), m),
                    "cos_sim": cos.T.ravel(),
                }
            )

    import pandas as pd  # noqa: F811

    qrows = queries.collect()  # n_queries rows — tiny, broadcast by closure
    scored = q8.mapInPandas(
        lambda it: score(it, qrows),
        schema="query_id long, neighbor_id long, cos_sim double",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def ann_int8_topk_sql(n_queries: int = 5, k: int = 3) -> str:
    """DuckDB oracle for the int8 path: same symmetric quantization
    (banker's rounding), same integer dot/norm arithmetic, same single
    ``dot/√(sqa·sqb)`` float step."""
    s = "greatest(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 0.0)"
    qexpr = (
        "list_transform(embedding, v -> CAST(greatest(-127.0, least(127.0, "
        "round_even(CAST(v AS DOUBLE) * 127.0 / s1, 0))) AS BIGINT))"
    )
    dot = (
        "list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i]))"
    )
    return f"""
WITH scaled AS (
  SELECT vec_id, embedding,
         CASE WHEN {s} = 0.0 THEN 1.0 ELSE {s} END AS s1
  FROM embeddings WHERE {valid_vec_sql("embedding")}
),
q8 AS (
  SELECT vec_id, {qexpr} AS q,
         CAST(list_sum(list_transform({qexpr}, x -> x * x)) AS BIGINT) AS sq
  FROM scaled
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CASE WHEN a.sq * b.sq > 0
              THEN CAST({dot} AS DOUBLE) / sqrt(CAST(a.sq * b.sq AS DOUBLE))
              ELSE 0.0 END AS cos_sim
  FROM q8 a JOIN q8 b ON b.vec_id != a.vec_id
  WHERE a.vec_id < {n_queries}
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# LSH parameter autotuning (round 3)
#
# Round 2's review: the fixed 16×4-bit tables admit ~60% of a
# weak-similarity corpus as candidates. The dials (T tables, b bits)
# should come from the DATA. An analytic tuner (per-bit collision
# p = 1 − acos(c)/π raised to the b-th power) was tried first and
# OVER-predicted selectivity by ~8× on clustered corpora: hyperplane
# bits drawn over structured data are positively correlated, so bucket
# collision probability is nowhere near p^b. The shipped tuner is
# therefore EMPIRICAL — measure, don't model:
#
# 1. Sample ``n_sample`` vectors deterministically (smallest portable
#    hash of vec_id) and form their ~n²/2 pairs.
# 2. For every pair, compute actual bucket-collision rates of the REAL
#    hash family: 8 probe bands of 24 hyperplane bits each; the b-bit
#    collision rate for every grid ``b`` falls out of ONE key per band
#    via low-bit masking (key mod 2^b), so 9 grid points share 8 keys.
# 3. "Neighbor" pairs = the top (1−q) fraction by cosine (rank-based,
#    deterministic). pn(b) = their measured collision rate; ebg(b) =
#    the all-pairs rate.
# 4. Grid-search: T(b) = ⌈ln(1−recall)/ln(1−pn(b))⌉ tables to hit the
#    recall target; feasible iff T ≤ max_tables and the implied
#    candidate fraction 1 − (1 − ebg(b))^T ≤ max_cand_frac. Smallest
#    candidate fraction wins (ties → fewer tables, fewer bits); if
#    nothing is feasible the corpus lacks cosine contrast for
#    hyperplane LSH and the tuner routes to the IVF index.
#
# Everything is deterministic (portable-hash sample, fixed grid,
# rank-based neighbor set, rounded intermediates) so the whole
# derivation re-runs as one DuckDB SQL oracle — the
# ladder-re-derivation trick from ``adaptive_clt_sum`` applied to
# index tuning.

TUNE_SAMPLE = 64
TUNE_BITS_GRID = (4, 6, 8, 10, 12, 14, 16, 20, 24)
TUNE_PROBE_TABLES = 8
TUNE_MAX_BITS = 24  # == max(TUNE_BITS_GRID); probe keys carry this many bits
TUNE_MAX_TABLES = 64
TUNE_RECALL = 0.9
TUNE_MAX_CAND = 0.05
TUNE_NEIGHBOR_Q = 0.99
_T_CAP = 1e9  # clamp for the table count before ceil→long (ANSI-safe)


def _tune_near_k(n_sample: int, neighbor_q: float) -> int:
    n_pairs = n_sample * (n_sample - 1) // 2
    return max(1, int(round((1.0 - neighbor_q) * n_pairs)))


def ann_tune_profile(
    spark: SparkSession,
    emb: DataFrame,
    n_sample: int = TUNE_SAMPLE,
    recall_target: float = TUNE_RECALL,
    max_cand_frac: float = TUNE_MAX_CAND,
    max_tables: int = TUNE_MAX_TABLES,
    neighbor_q: float = TUNE_NEIGHBOR_Q,
    bits_grid: tuple[int, ...] = TUNE_BITS_GRID,
) -> DataFrame:
    """One-row tuning decision: ``(method, n_tables, bits,
    est_cand_frac, neighbor_cos, n_pairs)`` — see the module-section
    comment for the measurement design.

    Determinism/portability: intermediates are rounded (rates 6dp, the
    T-ratio 6dp, fractions 4dp) BEFORE every comparison/ceiling so the
    Spark and DuckDB renderings agree despite libm ulp differences; the
    neighbor set is rank-based (cosine desc, id tiebreak) rather than a
    quantile threshold so no float boundary can flip membership. The
    8×24 probe keys come from the vectorized kernel
    ``lsh_band_keys_arrow`` — the 192-hyperplane-bit *expression* tree
    cost ~40 s of Catalyst compile time alone; the decision is pinned
    against ``ann_tune_profile_sql`` in DuckDB by
    ``test_ann_autotune_arrow_matches_expression``.

    At scale: the sample is O(n_sample) rows via TakeOrdered, pairs are
    a broadcast self-join of a 64-row table, the grid is 9 rows —
    driver cost is one row regardless of corpus size.
    """
    samp0 = (
        # NULL policy BEFORE sampling so sample membership matches the
        # oracle's (which filters in its own sample CTE).
        emb.filter(valid_vec_col(F.col("embedding")))
        .select("vec_id", "embedding")
        .withColumn("h", portable_hash_col("vec_id"))
        .orderBy("h", "vec_id")
        .limit(n_sample)
        .select("vec_id", "embedding")
    )
    samp = lsh_band_keys_arrow(samp0, TUNE_PROBE_TABLES, TUNE_MAX_BITS).select(
        "vec_id", "v", F.col("keys").alias("ks")
    )
    a = samp.select(
        F.col("vec_id").alias("ida"), F.col("v").alias("va"), F.col("ks").alias("ka")
    )
    b = samp.select(
        F.col("vec_id").alias("idb"), F.col("v").alias("vb"), F.col("ks").alias("kb")
    )
    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb")).select(
        "ida", "idb", "ka", "kb", cosine_sim(F.col("va"), F.col("vb")).alias("c")
    )
    # Rank-based neighbor set: the top (1−q) share of pairs by cosine.
    k_near = _tune_near_k(n_sample, neighbor_q)
    pairs = pairs.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.desc("c"), F.asc("ida"), F.asc("idb"))
        ),
    )
    near = F.col("r") <= F.lit(k_near)

    def _nm(bv: int) -> Column:
        m = F.lit(2 ** bv).cast("long")
        hits = F.zip_with(
            F.col("ka"),
            F.col("kb"),
            lambda x, y: F.when(x % m == y % m, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        total = F.aggregate(hits, F.lit(0.0), lambda acc, x: acc + x)
        return total / F.lit(float(TUNE_PROBE_TABLES))

    aggs = [
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.min(F.when(near, F.col("c"))), 6).alias("ncos"),
    ]
    for bv in bits_grid:
        nm = _nm(bv)
        aggs.append(F.round(F.avg(nm), 6).alias(f"ebg_{bv}"))
        aggs.append(F.round(F.avg(F.when(near, nm)), 6).alias(f"pn_{bv}"))
    stats = pairs.agg(*aggs)

    grid = stats.select(
        "n_pairs",
        "ncos",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bv).alias("b"),
                        F.col(f"ebg_{bv}").alias("ebg"),
                        F.col(f"pn_{bv}").alias("pn"),
                    )
                    for bv in bits_grid
                ]
            )
        ).alias("g"),
    ).select(
        "n_pairs",
        "ncos",
        F.col("g.b").alias("b"),
        F.col("g.ebg").alias("ebg"),
        F.col("g.pn").alias("pn"),
    )

    # Clamp before the logs: keeps every T finite (ANSI-safe ceil→long)
    # with identical cliff behavior in the SQL rendering.
    pnc = F.least(F.greatest(F.col("pn"), F.lit(1e-9)), F.lit(1.0 - 1e-9))
    lnr = F.round(
        F.log(F.lit(1.0 - recall_target)) / F.log(F.lit(1.0) - pnc), 6
    )
    t = F.greatest(F.lit(1.0), F.least(F.ceil(lnr).cast("double"), F.lit(_T_CAP)))
    cand = F.round(F.lit(1.0) - F.pow(F.lit(1.0) - F.col("ebg"), t), 4)
    calc = grid.select(
        "n_pairs",
        "ncos",
        "b",
        t.alias("t"),
        cand.alias("cand"),
        (
            (t <= F.lit(float(max_tables))) & (cand <= F.lit(max_cand_frac))
        ).alias("feasible"),
    )
    pick = calc.orderBy(
        F.col("feasible").desc(), F.col("cand"), F.col("t"), F.col("b")
    ).limit(1)
    return pick.select(
        F.when(F.col("feasible"), F.lit("lsh")).otherwise(F.lit("ivf")).alias("method"),
        F.col("t").cast("long").alias("n_tables"),
        F.col("b").cast("long").alias("bits"),
        F.col("cand").alias("est_cand_frac"),
        F.round(F.col("ncos"), 4).alias("neighbor_cos"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
    )


def ann_tune_profile_sql(
    n_sample: int = TUNE_SAMPLE,
    recall_target: float = TUNE_RECALL,
    max_cand_frac: float = TUNE_MAX_CAND,
    max_tables: int = TUNE_MAX_TABLES,
    neighbor_q: float = TUNE_NEIGHBOR_Q,
    bits_grid: tuple[int, ...] = TUNE_BITS_GRID,
) -> str:
    from approximatequeryengine_spark.functions.hashing import portable_hash_sql

    k_near = _tune_near_k(n_sample, neighbor_q)
    key_sqls = lsh_band_keys_sql("embedding", TUNE_PROBE_TABLES, TUNE_MAX_BITS)
    key_cols = ",\n         ".join(
        f"{k} AS k{t}" for t, k in enumerate(key_sqls)
    )
    cos = _cosine_sql("a.embedding", "b.embedding")

    def _nm_sql(bv: int) -> str:
        m = 2 ** bv
        hits = " + ".join(
            f"CASE WHEN a.k{t} % {m} = b.k{t} % {m} THEN 1.0 ELSE 0.0 END"
            for t in range(TUNE_PROBE_TABLES)
        )
        return f"(({hits}) / {float(TUNE_PROBE_TABLES)})"

    nm_cols = ",\n         ".join(f"{_nm_sql(bv)} AS nm_{bv}" for bv in bits_grid)
    stat_cols = ",\n         ".join(
        f"round(avg(nm_{bv}), 6) AS ebg_{bv},\n         "
        f"round(avg(CASE WHEN r <= {k_near} THEN nm_{bv} END), 6) AS pn_{bv}"
        for bv in bits_grid
    )
    case_ebg = " ".join(f"WHEN {bv} THEN ebg_{bv}" for bv in bits_grid)
    case_pn = " ".join(f"WHEN {bv} THEN pn_{bv}" for bv in bits_grid)
    grid_vals = ", ".join(f"({bv})" for bv in bits_grid)
    return f"""
WITH samp0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE {valid_vec_sql("embedding")}
  ORDER BY {portable_hash_sql('vec_id')}, vec_id LIMIT {n_sample}
),
samp AS (
  SELECT vec_id, embedding,
         {key_cols}
  FROM samp0
),
pairs0 AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb, {cos} AS c,
         {nm_cols}
  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
),
pairs AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY c DESC, ida, idb) AS r FROM pairs0
),
stats AS (
  SELECT count(*) AS n_pairs,
         round(min(CASE WHEN r <= {k_near} THEN c END), 6) AS ncos,
         {stat_cols}
  FROM pairs
),
grid AS (
  SELECT n_pairs, ncos, b,
         CASE b {case_ebg} END AS ebg,
         CASE b {case_pn} END AS pn
  FROM stats CROSS JOIN (VALUES {grid_vals}) g(b)
),
calc1 AS (
  SELECT n_pairs, ncos, b, ebg,
         greatest(1.0, least(ceil(round(
             ln({1.0 - recall_target})
             / ln(1.0 - least(greatest(pn, 1e-9), 1.0 - 1e-9)), 6)),
             {_T_CAP})) AS t
  FROM grid
),
calc AS (
  SELECT n_pairs, ncos, b, t,
         round(1.0 - power(1.0 - ebg, t), 4) AS cand,
         (t <= {float(max_tables)}
          AND round(1.0 - power(1.0 - ebg, t), 4) <= {max_cand_frac}) AS feasible
  FROM calc1
),
pick AS (
  SELECT * FROM calc ORDER BY feasible DESC, cand, t, b LIMIT 1
)
SELECT CASE WHEN feasible THEN 'lsh' ELSE 'ivf' END AS method,
       CAST(t AS BIGINT) AS n_tables,
       CAST(b AS BIGINT) AS bits,
       cand AS est_cand_frac,
       round(ncos, 4) AS neighbor_cos,
       CAST(n_pairs AS BIGINT) AS n_pairs
FROM pick
"""


def ann_auto_topk(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    **tune_kwargs,
) -> DataFrame:
    """Auto-tuned ANN: run the tuner (one-row collect — bounded), then
    dispatch to multi-table LSH with the tuned (T, b), or to the IVF
    index when the tuner declares hyperplane LSH infeasible for this
    corpus' cosine contrast."""
    choice = ann_tune_profile(spark, emb, **tune_kwargs).collect()[0]
    if choice["method"] == "lsh":
        return ann_lsh_topk(
            spark,
            emb,
            n_queries=n_queries,
            k=k,
            n_tables=int(choice["n_tables"]),
            bits_per_table=int(choice["bits"]),
        )
    return ann_ivf_topk(spark, emb, n_queries=n_queries, k=k).drop("cluster")


# ---------------------------------------------------------------------------
# IVF + Product Quantization (ADC scoring) — the canonical billion-scale
# ANN memory layout (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011): the coarse quantizer prunes the scan to
# probed cells and PQ compresses each residual-free vector to M small
# codes, scored via an Asymmetric Distance Computation table built once
# per query. Beyond the reference (it has no vector search at all).
#
# Determinism: both quantizers are LSH-cell (hyperplane-sign) designs —
# the same trick that made `ann_ivf_topk` oracle-able — and the ADC
# partial dot products are scaled to integers before the per-candidate
# sum, so the only float reduction is the fixed left-to-right query-norm
# fold. The DuckDB oracle re-derives codebook training, encoding, probe
# selection, ADC table construction, and ranking end-to-end.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_BITS = 4  # 16 codes per subspace
PQ_BIT_BASE = 101  # disjoint hyperplane-sign key space vs the coarse bits
PQ_SCALE = 1_000_000  # integer grid for ADC partials


def _pq_signs(m: int, b: int) -> tuple[int, ...]:
    return _hyperplane_signs(PQ_BIT_BASE + m * PQ_BITS + b)[:PQ_SUB]


@lru_cache(maxsize=None)
def _pq_code_expr(sl: str, m: int) -> str:
    """Spark-SQL text twin of :func:`_pq_code_col` (same fold, same
    DOUBLE sign literals — see :func:`_hyperplane_bit_expr` for why
    text). ``sl`` is the slice expression text."""
    terms = []
    for b in range(PQ_BITS):
        signs = ", ".join(f"{float(s)}D" for s in _pq_signs(m, b))
        proj = (
            f"aggregate(zip_with({sl}, array({signs}), (a, s) -> a * s), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        terms.append(
            f"((CASE WHEN {proj} > 0 THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END) * CAST({2 ** b} AS BIGINT))"
        )
    return "(" + " + ".join(terms) + ")"


@lru_cache(maxsize=None)
def _pq_codes_expr(vec: str) -> str:
    """The full M-code array as ONE Spark-SQL text."""
    return (
        "array("
        + ", ".join(
            _pq_code_expr(f"slice({vec}, {m * PQ_SUB + 1}, {PQ_SUB})", m)
            for m in range(PQ_M)
        )
        + ")"
    )


def _pq_code_col(sl: Column, m: int) -> Column:
    """Subspace ``m`` code (0..2^PQ_BITS-1) of an 8-dim slice: PQ_BITS
    hyperplane-sign bits over the slice, signs from the portable hash
    with a per-(subspace, bit) key."""
    total = F.lit(0).cast("long")
    for b in range(PQ_BITS):
        signs = F.array(*[F.lit(float(s)) for s in _pq_signs(m, b)])
        proj = F.aggregate(
            F.zip_with(sl, signs, lambda v, s: v * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        total = total + bit * F.lit(2**b).cast("long")
    return total


def _pq_code_sql(sl: str, m: int) -> str:
    terms = []
    for b in range(PQ_BITS):
        signs = ", ".join(f"{s}.0" for s in _pq_signs(m, b))
        proj = (
            f"list_sum(list_transform(range(1, {PQ_SUB} + 1), "
            f"i -> CAST(({sl})[i] AS DOUBLE) * ([{signs}])[i]))"
        )
        terms.append(f"((CASE WHEN {proj} > 0 THEN 1 ELSE 0 END) * {2**b})")
    return "(" + " + ".join(terms) + ")"


def _pq_centroids(base: DataFrame) -> DataFrame:
    """Train all M codebooks in ONE pass: explode each vector into its
    (m, code, slice) rows, then per-component means on the shared
    6-decimal grid. Returns (m, code, cvec) — at most M·2^PQ_BITS rows
    (128 here), broadcastable at any corpus size.

    When ``base`` already carries the encoded ``codes`` column, the
    (m, code) pairs come from it directly — no re-derivation of the
    32 hyperplane folds (same values by construction: ``codes[m]`` IS
    the subspace-m code of ``v``)."""
    if "codes" in base.columns:
        sub = base.select(
            F.col("v"), F.posexplode("codes").alias("m", "code")
        ).select(
            "m",
            "code",
            F.posexplode(
                F.slice(F.col("v"), F.col("m") * PQ_SUB + 1, F.lit(PQ_SUB))
            ).alias("pos", "val"),
        )
    else:
        structs = ", ".join(
            f"struct(CAST({m} AS INT) AS m, "
            f"{_pq_code_expr(f'slice(v, {m * PQ_SUB + 1}, {PQ_SUB})', m)} AS code, "
            f"slice(v, {m * PQ_SUB + 1}, {PQ_SUB}) AS sl)"
            for m in range(PQ_M)
        )
        sub = base.select(
            F.expr(f"explode(array({structs}))").alias("s")
        ).select("s.m", "s.code", F.posexplode("s.sl").alias("pos", "val"))
    return (
        sub.groupBy("m", "code", "pos")
        .agg(F.round(F.avg("val"), 6).alias("mu"))
        .groupBy("m", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                lambda s: s["mu"],
            ).alias("cvec")
        )
    )


def _int_grid(x: Column) -> Column:
    """floor(x·PQ_SCALE + 0.5) as BIGINT — round-half-up toward +inf,
    spelled identically in DuckDB, so both engines land on the same
    integer and every downstream sum is exact integer arithmetic."""
    return F.floor(x * F.lit(float(PQ_SCALE)) + F.lit(0.5)).cast("long")


def _pq_encode(assigned: DataFrame) -> DataFrame:
    """Attach the M-code array to an assigned frame (vec_id, v, cluster)
    — the single encoding definition shared by the in-memory operator,
    the index builder, and the index append (codes are data-independent
    hyperplane signs, so batch encoding == full-corpus encoding)."""
    # one F.expr parse instead of M×PQ_BITS×PQ_SUB literal Columns
    # (py4j chatter; see _hyperplane_bit_expr)
    return assigned.withColumn("codes", F.expr(_pq_codes_expr("v")))


def _ivfpq_rank(
    enc: DataFrame,
    probes: DataFrame,
    cent_pq: DataFrame,
    k: int,
    shortlist: int,
) -> DataFrame:
    """ADC shortlist + exact rerank over an encoded candidate frame
    ``enc`` (vec_id, v, cluster, codes) — shared by the in-memory
    operator and the persisted-index query so the scoring arithmetic
    (integer ADC partials, tie-breaks, rerank) has ONE definition.
    ``probes`` is (query_id, qv, cluster, qnorm); every shortlist
    neighbor lies in a probed cell, so ``enc`` may be pre-pruned to
    those cells without losing rerank candidates."""
    adc = (
        probes.select("query_id", "qv").distinct()
        .crossJoin(F.broadcast(cent_pq))
        .select(
            "query_id",
            "m",
            "code",
            _int_grid(
                F.aggregate(
                    F.zip_with(
                        F.slice(F.col("qv"), F.col("m") * PQ_SUB + 1, PQ_SUB),
                        F.col("cvec"),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("pdot_i"),
            _int_grid(
                F.aggregate(F.col("cvec"), F.lit(0.0), lambda acc, x: acc + x * x)
            ).alias("pnorm_i"),
        )
    )
    cand = (
        enc.select("vec_id", "cluster", "codes")
        .join(F.broadcast(probes.select("query_id", "cluster", "qnorm")), on="cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "qnorm",
            F.posexplode("codes").alias("m", "code"),
        )
        .join(F.broadcast(adc), on=["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum("pdot_i").alias("adot_i"),
            F.sum("pnorm_i").alias("anorm_i"),
            F.max("qnorm").alias("qnorm"),
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                (F.col("adot_i").cast("double") / F.lit(float(PQ_SCALE)))
                / (F.col("qnorm") * F.sqrt(F.col("anorm_i").cast("double") / F.lit(float(PQ_SCALE))))
            ).alias("adc_cos"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc_cos"), F.asc("neighbor_id"))
    short = (
        cand.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # Exact rerank: fetch original vectors ONLY for the shortlist
    # (broadcast — |queries|·shortlist rows against the vector store).
    rer = (
        enc.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
        .join(F.broadcast(short), on="neighbor_id")
        .join(F.broadcast(probes.select("query_id", "qv").distinct()), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("nv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _with_qnorm(probes: DataFrame) -> DataFrame:
    """Attach the fixed left-to-right query-norm fold (the one float
    reduction both engines spell identically)."""
    return probes.select(
        "query_id",
        "qv",
        "cluster",
        F.sqrt(
            F.aggregate(F.col("qv"), F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("qnorm"),
    )


def ann_ivfpq_topk(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    shortlist: int = 12,
) -> DataFrame:
    """IVF-PQ ANN with exact reranking: coarse LSH-cell pruning (shared
    with :func:`ann_ivf_topk` — same `_ivf_assign`/`_ivf_probes`),
    PQ-ADC scoring inside the probed cells to select a per-query
    ``shortlist``, then an exact-cosine rerank of the shortlist from the
    original vectors — the FAISS ``IVFPQ + refine`` pipeline. ADC alone
    cannot rank same-cluster neighbors (codes capture which cluster a
    vector is in, not its within-cluster offset — measured fidelity vs
    in-cell exact ranking is <0.35 at 8×4-bit codes); the rerank
    restores accuracy while touching full vectors for only
    ``shortlist × |queries|`` rows.

    Plan shape at scale: codebook training is one grouped aggregate over
    the slim (m, code, pos, val) projection; the trained codebook
    (M·2^PQ_BITS rows) and the per-query ADC table (|queries|·M·2^PQ_BITS
    rows) broadcast; candidate scoring explodes each candidate's M codes
    and reduces M integer partials per (query, candidate) — the scan
    touches ~N·n_probe/n_cells candidates and materializes full vectors
    only for the broadcast shortlist join (codes are M small ints, the
    PQ memory win: 64 floats → 8 codes per vector). ``shortlist`` is
    the accuracy/IO dial.

    Returns (query_id, neighbor_id, rank, cos_sim): exact cosine of the
    reranked top-k. Requires ``size(embedding) == DIM``."""
    # Round 9: persist the encoded frame and derive codebook training
    # and probe steering FROM it — assignment + the 32-fold interpreted
    # PQ encode used to re-run in four plan subtrees (enc twice inside
    # _ivfpq_rank, plus _pq_centroids and _ivf_centroids re-deriving
    # from `assigned`), and the duplicated giant expression trees
    # dominated driver planning time (wall ≫ task time, measured).
    assigned = _ivf_assign(emb, n_centroids)
    enc = _pq_encode(assigned).persist()
    cent_pq = _pq_centroids(enc.select("v", "codes"))
    probes = _with_qnorm(
        _ivf_probes(
            emb, _ivf_centroids(enc.select("cluster", "v")), n_queries, n_probe
        )
    )
    return _ivfpq_rank(enc, probes, cent_pq, k, shortlist)


def ann_ivfpq_write_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
) -> None:
    """Persist the IVF-PQ index: cell-PARTITIONED parquet of
    (vec_id, v, codes) under ``path/vectors/cluster=<c>/`` plus the two
    tiny model tables — coarse centroids (``path/centroids``, probe
    steering) and the trained PQ codebook (``path/pq_codebook``,
    M·2^PQ_BITS rows). This is the round-4 verdict's ask: queries pay
    ADC + rerank only, never the full-table re-encode — encoding and
    codebook training are ingest-time costs, amortized across every
    subsequent query batch. Same ``_ivf_assign``/``_pq_encode``/
    ``_pq_centroids`` definitions as :func:`ann_ivfpq_topk`, so index
    queries return exactly what the in-memory operator returns and the
    one DuckDB oracle certifies both paths."""
    # persist across the three writes: assignment + the 32-fold PQ
    # encode otherwise re-run per write job (synchronous, so unpersist
    # is safe). Centroids/codebook derive from the encoded frame — same
    # rows, one cached scan.
    enc = _pq_encode(_ivf_assign(emb, n_centroids)).persist()
    try:
        enc.write.partitionBy("cluster").mode("overwrite").parquet(
            f"{path}/vectors"
        )
        _ivf_centroids(enc.select("cluster", "v")).write.mode("overwrite").parquet(
            f"{path}/centroids"
        )
        _pq_centroids(enc.select("v", "codes")).write.mode("overwrite").parquet(
            f"{path}/pq_codebook"
        )
    finally:
        enc.unpersist()


def ann_ivfpq_query_index(
    spark: SparkSession,
    emb: DataFrame,
    path: str,
    n_queries: int = 5,
    k: int = 3,
    n_probe: int = 4,
    shortlist: int = 12,
) -> DataFrame:
    """Query a persisted IVF-PQ index (:func:`ann_ivfpq_write_index`):
    probe selection against the tiny centroid table, an IN-list filter
    on the partition column so the scan touches ONLY the probed cells'
    directories, then the shared ADC-shortlist + exact-rerank stage
    over the STORED codes and vectors — no per-query encoding, no
    codebook training. The probe frame is |queries|·n_probe rows,
    collected once and re-entering the plan as literals (IN-list +
    broadcast probe table from a single collect)."""
    centroids = read_synopsis(spark, f"{path}/centroids")
    probe_rows = _ivf_probes(emb, centroids, n_queries, n_probe).collect()
    cells = sorted({r["cluster"] for r in probe_rows})
    probes = _with_qnorm(
        spark.createDataFrame(
            [(r["query_id"], r["qv"], r["cluster"]) for r in probe_rows],
            "query_id long, qv array<double>, cluster int",
        )
    )
    enc = spark.read.parquet(f"{path}/vectors").filter(F.col("cluster").isin(cells))
    cent_pq = read_synopsis(spark, f"{path}/pq_codebook")
    return _ivfpq_rank(enc, probes, cent_pq, k, shortlist)


def ann_ivfpq_append_index(
    spark: SparkSession,
    new_emb: DataFrame,
    path: str,
    n_centroids: int = 16,
) -> None:
    """Append a new batch to a persisted IVF-PQ index without touching
    existing rows: cell assignment AND PQ codes are data-independent
    hyperplane signs, so the batch's (vec_id, v, codes) rows are valid
    forever — a pure partitioned append, O(batch) not O(corpus). Call
    :func:`ann_ivfpq_refresh` afterwards to fold the new vectors into
    the two model tables (means shift with data; codes never do)."""
    _pq_encode(_ivf_assign(new_emb, n_centroids)).write.partitionBy(
        "cluster"
    ).mode("append").parquet(f"{path}/vectors")


def ann_ivfpq_refresh(spark: SparkSession, path: str) -> None:
    """Recompute both model tables from the index's current vectors —
    after this, append+refresh and a fresh rebuild over the union are
    bit-identical (same grouped means on the shared 6-decimal grid over
    the same row set). One grouped aggregate each over the slim
    projections; the raw corpus is never re-encoded. Each model table
    is replaced via the crash-safe staged swap; a crash BETWEEN the two
    swaps leaves new centroids with the old codebook — both are pure
    functions of ``path/vectors``, so re-running this refresh (or
    recover_synopsis per table) converges the pair."""
    from approximatequeryengine_spark.sources.swap import staged_swap

    assigned = spark.read.parquet(f"{path}/vectors")
    staged_swap(
        spark,
        f"{path}/centroids",
        lambda p: _ivf_centroids(assigned).write.mode("overwrite").parquet(p),
        name="ann_ivfpq_refresh",
    )
    staged_swap(
        spark,
        f"{path}/pq_codebook",
        lambda p: _pq_centroids(assigned.select("v"))
        .write.mode("overwrite")
        .parquet(p),
        name="ann_ivfpq_refresh",
    )


def ann_ivfpq_topk_sql(
    n_queries: int = 5,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    shortlist: int = 12,
) -> str:
    """DuckDB oracle for :func:`ann_ivfpq_topk` — re-derives coarse
    cells, PQ codebooks, encoding, probes, the integer ADC table, the
    shortlist, and the exact rerank with identical arithmetic and
    tie-breaks."""
    bits = max(1, (n_centroids - 1).bit_length())
    cell = "(" + " + ".join(
        f"({_hyperplane_bit_sql('embedding', b)} * {2 ** b})" for b in range(bits)
    ) + ")"
    cos_probe = _cosine_sql("q.qv", "c.cvec")
    pq_rows = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, "
        f"{_pq_code_sql(f'v[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]', m)} AS code, "
        f"v[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}] AS sl FROM a"
        for m in range(PQ_M)
    )
    qslice = f"q.qv[c.m * {PQ_SUB} + 1:(c.m + 1) * {PQ_SUB}]"
    pdot = (
        f"list_sum(list_transform(range(1, {PQ_SUB} + 1), "
        f"i -> CAST(({qslice})[i] AS DOUBLE) * c.cvec[i]))"
    )
    pnorm = "list_sum(list_transform(c.cvec, x -> x * x))"
    qnorm = "sqrt(list_sum(list_transform(qv, x -> x * x)))"
    return f"""
WITH a AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST({cell} AS INTEGER) AS cluster
  FROM embeddings WHERE {valid_vec_sql("embedding")}
),
pq AS ({pq_rows}),
cm AS (
  SELECT m, code, pos, round(avg(val), 6) AS mu FROM (
    SELECT m, code, unnest(sl) AS val, generate_subscripts(sl, 1) AS pos FROM pq
  ) GROUP BY m, code, pos
),
cent AS (SELECT m, code, list(mu ORDER BY pos) AS cvec FROM cm GROUP BY m, code),
ccm AS (
  SELECT cluster, pos, round(avg(val), 6) AS m FROM (
    SELECT cluster, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM a
  ) GROUP BY cluster, pos
),
ccent AS (SELECT cluster, list(m ORDER BY pos) AS cvec FROM ccm GROUP BY cluster),
q AS (SELECT vec_id AS query_id, v AS qv, {qnorm} AS qnorm FROM a WHERE vec_id < {n_queries}),
pr AS (
  SELECT query_id, qnorm, cluster FROM (
    SELECT q.query_id, q.qnorm, c.cluster,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_probe} DESC, c.cluster ASC) AS prn
    FROM q CROSS JOIN ccent c
  ) WHERE prn <= {n_probe}
),
adc AS (
  SELECT q.query_id, c.m, c.code,
         CAST(floor({pdot} * {PQ_SCALE} + 0.5) AS BIGINT) AS pdot_i,
         CAST(floor({pnorm} * {PQ_SCALE} + 0.5) AS BIGINT) AS pnorm_i
  FROM q CROSS JOIN cent c
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.qnorm,
         sum(d.pdot_i) AS adot_i, sum(d.pnorm_i) AS anorm_i
  FROM pr p
  JOIN a ON a.cluster = p.cluster AND a.vec_id != p.query_id
  JOIN pq ON pq.vec_id = a.vec_id
  JOIN adc d ON d.query_id = p.query_id AND d.m = pq.m AND d.code = pq.code
  GROUP BY p.query_id, a.vec_id, p.qnorm
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY (CAST(adot_i AS DOUBLE) / {PQ_SCALE})
                                         / (qnorm * sqrt(CAST(anorm_i AS DOUBLE) / {PQ_SCALE})) DESC,
                                       neighbor_id ASC) AS srn
    FROM cand
  ) WHERE srn <= {shortlist}
),
rer AS (
  SELECT s.query_id, s.neighbor_id, {_cosine_sql("q.qv", "a.v")} AS cos_sim
  FROM short s
  JOIN a ON a.vec_id = s.neighbor_id
  JOIN q ON q.query_id = s.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM rer
)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Semantic dedup over embedding cells — the SemDeDup recipe (Abbas et
# al., "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", 2023): cluster the corpus in embedding space, then
# drop near-duplicate members within each cluster, keeping one
# representative. Text-level MinHash misses paraphrases; cosine
# similarity inside a cluster catches them.
# ---------------------------------------------------------------------------


def _dominated_groups_pandas(paired: DataFrame, threshold: float) -> DataFrame:
    """Arrow kernel for the in-cell pair scoring (round 10): the
    CPU-quadratic term of semantic dedup is |cell|² cosine dots, and the
    interpreted ``zip_with``+``aggregate`` fold paid expression-tree
    overhead per element per pair (the registry's most load-sensitive
    row — 2.3 s idle / 18.8 s under load at sf0.1). This computes each
    batch's dots with vectorized NumPy accumulating SEQUENTIALLY over
    dimensions — the exact left-to-right float64 fold of ``aggregate``,
    so cosines are bit-identical, not merely close (the
    ``ann_bruteforce_topk_arrow`` fold-parity contract). Pinned against
    ``semantic_dedup_cells_sql`` in DuckDB by
    ``test_semantic_dedup_arrow_matches_expression``.

    Edge parity with the SQL cosine:
    - zero denominator → the cosine is NULL, which no
      ``>= threshold`` passes → masked out here;
    - unequal vector lengths → no cosine (``_cosine_sql``'s length
      guard; ``zip_with`` NULL-pads on the Column side) → the pair is
      dropped → length-mismatched pairs masked out;
    - NaN/Inf dims cannot reach here (``valid_vec_col`` at the shared
      ``_ivf_assign`` chokepoint).
    Emits only the dominated (cluster, gid) rows — the kernel output is
    a tiny fraction of its quadratic input."""
    import numpy as np
    import pandas as pd

    cluster_t = dict(paired.dtypes)["cluster"]

    def kernel(it):
        for pdf in it:
            n = len(pdf)
            if not n:
                continue
            la = np.fromiter((len(v) for v in pdf["va"]), dtype=np.int64, count=n)
            lb = np.fromiter((len(v) for v in pdf["vb"]), dtype=np.int64, count=n)
            denom = pdf["na"].to_numpy() * pdf["nb"].to_numpy()
            keep = np.zeros(n, dtype=bool)
            for ln in np.unique(la[la == lb]):
                idx = np.nonzero((la == ln) & (lb == ln))[0]
                va, vb = pdf["va"].to_numpy()[idx], pdf["vb"].to_numpy()[idx]
                VA = np.stack([np.asarray(v, dtype=np.float64) for v in va])
                VB = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
                dotv = np.zeros(len(idx))
                for d in range(int(ln)):  # sequential: fold-order parity
                    dotv += VA[:, d] * VB[:, d]
                dsub = denom[idx]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dotv / dsub
                keep[idx] = (dsub != 0.0) & (cos >= threshold)
            if not keep.any():
                continue
            ida = pdf["id_a"].to_numpy()[keep]
            idb = pdf["id_b"].to_numpy()[keep]
            yield pd.DataFrame(
                {
                    "cluster": pdf["cluster"].to_numpy()[keep],
                    "gid": np.maximum(ida, idb),
                }
            )

    return paired.select(
        "cluster", "id_a", "id_b", "va", "vb", "na", "nb"
    ).mapInPandas(kernel, schema=f"cluster {cluster_t}, gid long")


def semantic_dedup_cells(
    spark: SparkSession,
    emb: DataFrame,
    threshold: float = 0.35,
    n_cells: int = 16,
    n_chunks: int | None = None,
) -> DataFrame:
    """Per-cell semantic-dedup accounting: (cluster, n_docs, n_dropped,
    n_kept).

    The cluster step reuses the deterministic LSH-cell quantizer
    (`_ivf_assign`), so the whole pipeline re-derives in the DuckDB
    oracle. The drop rule is keep-min: a vector is dropped iff some
    LOWER-id vector in its cell is ≥ ``threshold`` cosine-similar —
    deterministic and one-pass, slightly more aggressive than SemDeDup's
    sequential greedy (a doc similar only to an already-dropped doc
    still drops; both rules keep ≥1 representative per similarity
    neighborhood).

    Scale shape: the pairwise step is an equi-join on (cell id, chunk
    pair) — quadratic only WITHIN a cell, the same contract as
    SemDeDup's within-cluster pass; ``n_cells`` grows with the corpus
    to hold cell sizes constant. Each cell is additionally split into
    ``n_chunks`` deterministic hash chunks and the C·(C+1)/2 chunk
    PAIRS become join keys (a triangle join): parallelism is
    n_cells·C(C+1)/2 tasks instead of |cells|, at a replication cost
    of ~(C+1)/2 per side. This matters because the pair join is
    CPU-quadratic but byte-small — AQE's size-based partition
    coalescing otherwise collapses it onto 1–2 tasks (measured at sf1:
    655 s on 2 tasks unchunked vs the chunked plan using the full
    core count; the explicit ``repartition`` below is what pins the
    parallelism against AQE coalescing). Output is invariant to
    ``n_chunks``. One shuffle on the chunk-pair key, then a
    map-side-combined rollup to |cells| rows."""
    if n_chunks is None:
        # Enough chunk-pair keys to oversubscribe the cores even when
        # n_cells is small relative to the cluster, AND a floor of 4
        # regardless: hyperplane LSH cells are heavily skewed on
        # clustered embeddings, and what bounds the straggler is how
        # many ways the LARGEST cell's quadratic work splits
        # (C(C+1)/2), not the total key count — measured at sf1:
        # 256 cells with C=1 ran 190 s on one straggler task vs 79 s
        # for 16 cells with C=4.
        par = spark.sparkContext.defaultParallelism
        n_chunks = 4
        while n_cells * n_chunks * (n_chunks + 1) // 2 < 4 * par:
            n_chunks += 1
    assigned = _ivf_assign(emb, n_cells)
    # Replica collapse (round 7 — the simhash lesson applied here): the
    # pairwise step runs over DISTINCT vectors per cell, not rows.
    # Bit-identical vectors share every cosine, so a group of n copies
    # behaves as one point: (a) if a LOWER-gid similar group exists in
    # the cell, all n drop; (b) else the group min survives and the
    # other n−1 drop iff the group is self-similar (cos(v,v) ≥ t —
    # computed, not assumed: a zero vector's NaN cosine keeps its
    # copies, exactly as the row-level rule would). On the 100-replica
    # sf10 corpus (200k rows, 2k distinct) this is 10,000× less
    # quadratic work; on all-distinct corpora it is one extra groupBy.
    # Row-level-rule equivalence is test-pinned.
    from approximatequeryengine_spark.functions.vector import l2_norm

    groups = assigned.groupBy("cluster", "v").agg(
        F.min("vec_id").alias("gid"), F.count(F.lit(1)).alias("gn")
    ).withColumn(
        "chunk", F.pmod(portable_hash_col(F.col("gid"), salt=7), F.lit(n_chunks)).cast("int")
    ).withColumn(
        # Norms are per-VECTOR quantities (the ann_bruteforce_topk
        # lesson, round 9): hoisted to the group rows so the quadratic
        # in-cell pair filter below runs ONE interpreted fold per pair
        # (the dot) instead of three — float-identical to cosine_sim
        # (same norm fold, same dot/(n_a·n_b), same zero-denominator
        # NULL guard that no >= threshold predicate passes).
        "nv", l2_norm(F.col("v"))
    )
    # The NumPy scoring cuts per-pair CPU ~2 orders of magnitude, so
    # the partition count only needs to cover the cores — every
    # partition is one Python-worker task invocation (~5-10 ms each),
    # and sizing partitions to the CHUNK-PAIR KEY COUNT (1280 at sf0.1,
    # 4096 at sf1) made task overhead the wall: measured 9.7 s vs 2.2 s
    # for the interpreted fold at sf0.1. The key space still splits the
    # largest cell's quadratic work; hashing many keys onto
    # defaultParallelism partitions balances fine.
    n_part = spark.sparkContext.defaultParallelism
    # a-side: chunk ca joins every cb >= ca; b-side mirrors with cb's
    # row emitting every ca <= cb — each cross-chunk pair meets exactly
    # once, diagonal (ca == cb) pairs meet twice and are folded by the
    # DISTINCT below. greatest() orients the drop to the higher gid, so
    # keep-min semantics are identical to the unchunked join.
    a = groups.select(
        F.col("cluster"), F.col("chunk").alias("ca"), F.col("gid").alias("id_a"),
        F.col("v").alias("va"), F.col("nv").alias("na"),
    ).withColumn("cb", F.explode(F.sequence(F.col("ca"), F.lit(n_chunks - 1))))
    b = groups.select(
        F.col("cluster"), F.col("chunk").alias("cb"), F.col("gid").alias("id_b"),
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    ).withColumn("ca", F.explode(F.sequence(F.lit(0), F.col("cb"))))
    paired = (
        a.repartition(n_part, "cluster", "ca", "cb")
        .join(b.repartition(n_part, "cluster", "ca", "cb"), on=["cluster", "ca", "cb"])
        .filter(F.col("id_a") != F.col("id_b"))
    )
    # Round 10: the quadratic pair scoring runs in a NumPy kernel (one
    # MapInPandas node in the same stage as the join) instead of an
    # interpreted fold per pair — see _dominated_groups_pandas for the
    # bit-parity contract.
    scored = _dominated_groups_pandas(paired, threshold)
    dominated = scored.distinct().withColumn("dom", F.lit(True))
    per_group = groups.join(dominated, on=["cluster", "gid"], how="left").select(
        "cluster",
        F.when(F.col("dom").isNotNull(), F.col("gn"))
        .when(
            cosine_sim(F.col("v"), F.col("v")) >= F.lit(threshold),
            F.col("gn") - 1,
        )
        .otherwise(F.lit(0))
        .alias("g_dropped"),
        F.col("gn"),
    )
    return (
        per_group.groupBy("cluster")
        .agg(
            F.sum("gn").cast("long").alias("n_docs"),
            F.sum("g_dropped").cast("long").alias("n_dropped"),
        )
        .select(
            "cluster",
            "n_docs",
            "n_dropped",
            (F.col("n_docs") - F.col("n_dropped")).cast("long").alias("n_kept"),
        )
    )


SEMDEDUP_TARGET_CELL = 20  # vectors per cell the scale rule aims for
SEMDEDUP_MIN_BITS = 4
SEMDEDUP_MAX_BITS = 10


def semdedup_scaled_bits(n: int) -> int:
    """Cells ∝ corpus, integer-exact: the smallest bit count whose cell
    grid holds ~SEMDEDUP_TARGET_CELL vectors per cell, clamped to
    [2^4, 2^10]. Pure integer arithmetic (ceil-division + power ladder)
    so the DuckDB oracle re-derives the SAME cell count from count(*)
    — no float log2 whose rounding could diverge between engines."""
    cells_needed = (max(n, 1) + SEMDEDUP_TARGET_CELL - 1) // SEMDEDUP_TARGET_CELL
    bits = SEMDEDUP_MIN_BITS
    while bits < SEMDEDUP_MAX_BITS and 2**bits < cells_needed:
        bits += 1
    return bits


def semantic_dedup_cells_scaled(
    spark: SparkSession,
    emb: DataFrame,
    threshold: float = 0.35,
) -> DataFrame:
    """:func:`semantic_dedup_cells` in its SCALE configuration — the
    shape you'd actually run (SCALING.md round-4 finding: the fixed
    16-cell shape is 4.8× off the scale shape at sf1). Two dials set
    deterministically from the data:

    - ``n_cells`` grows with the corpus (``semdedup_scaled_bits``:
      ~SEMDEDUP_TARGET_CELL vectors/cell, power-of-two, capped) — the
      SemDeDup contract that keeps within-cell quadratic work per
      document constant as the corpus grows; measured 16.3 s vs 78.9 s
      at sf1 for 10× data.
    - ``n_chunks`` keeps its C ≥ 4 floor via the base operator's
      auto-rule — hyperplane cells are skewed, and the straggler is
      bounded by how many ways the LARGEST cell's quadratic work
      splits, not by total key count. Output is invariant to C.

    One bounded count job picks the cell grid; the oracle replays the
    identical integer rule from ``count(*)``, so the certified entry IS
    the scale configuration."""
    n_cells = 2 ** semdedup_scaled_bits(emb.count())
    return semantic_dedup_cells(spark, emb, threshold=threshold, n_cells=n_cells)


def semantic_dedup_cells_scaled_sql(threshold: float = 0.35) -> str:
    """DuckDB oracle for the scale configuration: re-derives the bit
    count from ``count(*)`` with the same integer ladder, then masks
    the per-row hyperplane bits to that count — identical cells,
    identical keep-min drop rule."""
    ladder = " ".join(
        f"WHEN cn <= {2 ** b} THEN {b}"
        for b in range(SEMDEDUP_MIN_BITS, SEMDEDUP_MAX_BITS)
    )
    cell = "(" + " + ".join(
        f"({_hyperplane_bit_sql('embedding', b)} * {2 ** b}"
        + (f" * (CASE WHEN {b} < nn.bits THEN 1 ELSE 0 END))"
           if b >= SEMDEDUP_MIN_BITS else ")")
        for b in range(SEMDEDUP_MAX_BITS)
    ) + ")"
    cos = _cosine_sql("a.v", "b.v")
    return f"""
WITH nn AS (
  SELECT CASE {ladder} ELSE {SEMDEDUP_MAX_BITS} END AS bits FROM (
    SELECT (greatest(count(*), 1) + {SEMDEDUP_TARGET_CELL - 1}) // {SEMDEDUP_TARGET_CELL} AS cn
    FROM embeddings
  )
),
asg AS (
  -- the bits ladder (nn) counts ALL rows like the Spark emb.count();
  -- only the assignment itself applies the vector-validity policy
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST({cell} AS INTEGER) AS cluster
  FROM embeddings, nn WHERE {valid_vec_sql("embedding")}
),
dropped AS (
  SELECT DISTINCT a.cluster, b.vec_id
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold!r}
),
dcnt AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_dropped FROM dropped GROUP BY 1)
SELECT s.cluster, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(max(d.n_dropped), 0) AS BIGINT) AS n_dropped,
       CAST(count(*) - coalesce(max(d.n_dropped), 0) AS BIGINT) AS n_kept
FROM asg s LEFT JOIN dcnt d ON d.cluster = s.cluster
GROUP BY s.cluster
"""


def semantic_dedup_cells_sql(threshold: float = 0.35, n_cells: int = 16) -> str:
    bits = max(1, (n_cells - 1).bit_length())
    cell = "(" + " + ".join(
        f"({_hyperplane_bit_sql('embedding', b)} * {2 ** b})" for b in range(bits)
    ) + ")"
    cos = _cosine_sql("a.v", "b.v")
    return f"""
WITH asg AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST({cell} AS INTEGER) AS cluster
  FROM embeddings WHERE {valid_vec_sql("embedding")}
),
dropped AS (
  SELECT DISTINCT a.cluster, b.vec_id
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold!r}
),
dcnt AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_dropped FROM dropped GROUP BY 1)
SELECT s.cluster, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(max(d.n_dropped), 0) AS BIGINT) AS n_dropped,
       CAST(count(*) - coalesce(max(d.n_dropped), 0) AS BIGINT) AS n_kept
FROM asg s LEFT JOIN dcnt d ON d.cluster = s.cluster
GROUP BY s.cluster
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + vector search fused by Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

RRF_K = 60  # Cormack et al. 2009 constant
HYBRID_TOPK = 10


def search_hybrid_rrf(
    spark: SparkSession,
    docs: DataFrame,
    emb: DataFrame,
    k: int = HYBRID_TOPK,
) -> DataFrame:
    """Hybrid search over the aligned documents/embeddings tables:
    the lexical leg is the corpus BM25 top-k (`operators/text.py::
    bm25_search_top10`), the vector leg is the exact cosine top-k for
    the vec_id-0 query embedding, and the two rankings fuse by
    Reciprocal Rank Fusion: ``score(d) = Σ_legs 1/(60 + rank_leg(d))``
    (Cormack et al., SIGIR'09) — the standard rank-based fusion that
    needs NO score normalization between incomparable scales.

    Determinism: each leg ranks by (score DESC, doc_id ASC) — total
    orders — and the fused score is ONE addition of two exact IEEE
    divisions, identical in any engine; missing legs contribute 0 via
    coalesce, never NULL arithmetic. Output:
    (rank, doc_id, rrf_score, bm25_rank, ann_rank), NULL leg ranks
    preserved so the row shows WHY a doc ranked.

    At 100 TB each leg is already scale-shaped (BM25: broadcast query
    terms + one grouped pass + TakeOrdered; cosine: broadcast query
    vector + TakeOrdered) and the fusion joins two ≤k-row frames —
    the fuse step is O(k), independent of corpus size.
    """
    from approximatequeryengine_spark.operators.text import bm25_search_top10

    lex = bm25_search_top10(spark, docs, k=k).select(
        "doc_id", F.col("rank").alias("bm25_rank")
    )
    base = emb.select(F.col("vec_id"), _vec_double(F.col("embedding")).alias("v"))
    qv = base.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        base.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_sim(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    topv = scored.orderBy(F.desc("cos"), F.asc("doc_id")).limit(k)
    wv = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    vec = topv.withColumn("ann_rank", F.row_number().over(wv)).select(
        "doc_id", "ann_rank"
    )
    fused = lex.join(vec, on="doc_id", how="full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("ann_rank")), F.lit(0.0))
    ranked = fused.select(
        "doc_id", "bm25_rank", "ann_rank", F.round(rrf, 9).alias("rrf_score")
    )
    topf = ranked.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(k)
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return topf.withColumn("rank", F.row_number().over(wf)).select(
        "rank", "doc_id", "rrf_score", "bm25_rank", "ann_rank"
    )


def search_hybrid_rrf_sql(k: int = HYBRID_TOPK) -> str:
    """DuckDB oracle: replays both legs (the BM25 oracle verbatim as a
    CTE, the sequential-fold cosine ranking) and the fusion."""
    from approximatequeryengine_spark.operators.text import bm25_search_top10_sql

    cos = _cosine_sql("q.embedding", "e.embedding")
    return f"""
WITH lex AS ({bm25_search_top10_sql(k=k)}),
scored AS (
  SELECT e.vec_id AS doc_id, {cos} AS cos
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id != 0
),
vecleg AS (
  SELECT doc_id, ann_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS ann_rank
    FROM scored
  ) WHERE ann_rank <= {k}
),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         l.rank AS bm25_rank, v.ann_rank,
         round(coalesce(1.0 / (60 + l.rank), 0.0)
             + coalesce(1.0 / (60 + v.ann_rank), 0.0), 9) AS rrf_score
  FROM (SELECT doc_id, rank FROM lex) l
  FULL OUTER JOIN vecleg v ON l.doc_id = v.doc_id
)
SELECT rank, doc_id, rrf_score, bm25_rank, ann_rank FROM (
  SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank,
         doc_id, rrf_score, bm25_rank, ann_rank
  FROM fused
) WHERE rank <= {k}
"""


def ann_filtered_topk(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
) -> DataFrame:
    """Metadata-FILTERED vector search: exact top-k cosine neighbors
    constrained to candidates sharing the query's label (the
    vector-database "filtered search" shape — WHERE label = ? AND
    ORDER BY similarity). PRE-filtering (predicate before ranking) is
    the correct plan: it returns exactly k matching rows. The readout
    also carries ``postfilter_hits`` — how many of the UNfiltered
    global top-k happen to satisfy the predicate — certifying the
    standard failure of post-filtering: it returns fewer than k (often
    0) when the predicate is selective. Output:
    (query_id, neighbor_id, rank, cos_sim, postfilter_hits).

    At 100 TB: identical shape to `ann_bruteforce_topk` (broadcast
    queries, per-partition top-k, TakeOrdered) with the label
    predicate fused into the scan — the filter tightens work, never
    adds a pass. The IVF variants compose the same way (probe lists
    are label-agnostic; the predicate applies at rerank)."""
    base = emb.select(
        F.col("vec_id"), F.col("label"), _vec_double(F.col("embedding")).alias("v")
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            "label",
            F.col("vec_id").alias("neighbor_id"),
            cosine_sim(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    pre = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    post = (
        scored.withColumn("grank", F.row_number().over(w))
        .filter(F.col("grank") <= k)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0))
            .cast("long")
            .alias("postfilter_hits")
        )
    )
    return pre.join(post, on="query_id").select(
        "query_id",
        "neighbor_id",
        "rank",
        F.round("cos_sim", 6).alias("cos_sim"),
        "postfilter_hits",
    )


def ann_filtered_topk_sql(n_queries: int = 5, k: int = 3) -> str:
    cos = _cosine_sql("q.embedding", "e.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS qlabel, e.label,
         e.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
  WHERE q.vec_id < {n_queries}
),
pre AS (
  SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored WHERE label = qlabel
  ) WHERE rank <= {k}
),
post AS (
  SELECT query_id,
         CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS postfilter_hits
  FROM (
    SELECT query_id, qlabel, label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS grank
    FROM scored
  ) WHERE grank <= {k}
  GROUP BY query_id
)
SELECT pre.query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim,
       postfilter_hits
FROM pre JOIN post ON pre.query_id = post.query_id
"""


RECALL_PROBES = (2, 4, 8, 16)


def ann_recall_profile(
    spark: SparkSession,
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    n_probes: tuple[int, ...] = RECALL_PROBES,
    n_centroids: int = 16,
) -> DataFrame:
    """The engine measuring its own index fidelity: the recall@k TUNING
    CURVE of the IVF index against the brute-force ground truth — one
    row per n_probe setting, (n_probe, scan_share, mean_recall,
    worst_recall). The last setting probes every cell, where the index
    degenerates to the exact scan and recall MUST be 1.0 (the built-in
    sanity row). Certified end to end because both sides replay
    deterministically in any engine. The fixture's random embeddings
    have weak cluster structure, so low-probe recall is honestly poor
    (~0.4 at 4/16) — exactly the curve a deployment reads to pick its
    operating point (and why `ann_autotune_profile` exists).

    At 100 TB the ground-truth side is the expensive one — this is an
    OFFLINE evaluation on a query sample, not a query-path operator."""
    # the ground truth is the expensive side — one k·n_queries-row
    # result, persisted so the per-probe union branches reuse it
    bf = (
        ann_bruteforce_topk(spark, emb, n_queries, k)
        .select("query_id", "neighbor_id")
        .persist()
    )
    # Round 9: every probe setting used to rebuild the ENTIRE IVF
    # pipeline (assignment, centroid aggregate, probe window, cosine
    # scan) as an independent subtree — 4× the index build and 4×
    # the candidate cosines in one lazy union (32 jobs at sf0.1).
    # The probe order is TOTAL (desc c_sim, asc cluster), so the
    # top-m probes for m ≤ max are exactly ``prn <= m``: assignment,
    # centroids, probe ranking and candidate COSINES are computed once
    # at the largest setting and each branch filters by probe rank —
    # bit-identical rows per setting, one shared scan. The scored
    # frame persisted here is scalars only (ids, rank, cos_sim), no
    # vector payloads.
    max_probe = max(n_probes)
    assigned = _ivf_assign(emb, n_centroids)
    probes_all = _ivf_probes(
        emb, _ivf_centroids(assigned), n_queries, max_probe, with_rank=True
    )
    scored_all = (
        assigned.join(F.broadcast(probes_all), on="cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cluster"),
            F.col("prn"),
            cosine_sim(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
        .persist()
    )
    try:
        out = _recall_rows(bf, scored_all, n_probes, k, n_centroids)
        # The result is len(n_probes) rows; materialize it while the two
        # caches are live, then release them — a lazily-returned frame
        # would pin executor storage across registry entries (or silently
        # recompute both subtrees per consumer after unpersist).
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        bf.unpersist()
        scored_all.unpersist()


def _recall_rows(bf, scored_all, n_probes, k, n_centroids):
    """All probe settings in ONE linear plan (round 10): the per-np
    branches each re-ranked/joined/aggregated their nested candidate
    subset and unioned — |n_probes| windows + joins + aggregates whose
    AQE stage-jobs dominated the entry's wall (36 jobs at sf0.1 for
    KB-scale data). Because the subsets are nested in prn, exploding
    every candidate into the probe settings it belongs to and ranking
    within (n_probe, query_id) — the SAME (desc cos_sim, asc
    neighbor_id) total order ``_ivf_rank`` uses — produces the
    identical per-setting top-k rows, so every downstream recall
    number is unchanged."""
    probe_lits = F.array(*[F.lit(int(x)) for x in n_probes])
    topk = (
        scored_all.select(
            "query_id", "neighbor_id", "cos_sim",
            F.explode(F.filter(probe_lits, lambda m: F.col("prn") <= m)).alias(
                "n_probe"
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_probe", "query_id").orderBy(
                    F.desc("cos_sim"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("rk") <= k)
        .select(
            F.col("n_probe").alias("np2"),
            F.col("query_id").alias("q2"),
            F.col("neighbor_id").alias("n2"),
        )
    )
    bfx = bf.select(
        "query_id", "neighbor_id", F.explode(probe_lits).alias("n_probe")
    )
    per_q = (
        bfx.join(
            topk,
            (F.col("n_probe") == F.col("np2"))
            & (F.col("query_id") == F.col("q2"))
            & (F.col("neighbor_id") == F.col("n2")),
            "left",
        )
        .groupBy("n_probe", "query_id")
        .agg(
            (
                F.sum(F.when(F.col("n2").isNotNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("r")
        )
    )
    return (
        per_q.groupBy("n_probe")
        .agg(
            F.round(F.avg("r"), 6).alias("mean_recall"),
            F.round(F.min("r"), 6).alias("worst_recall"),
        )
        .select(
            F.col("n_probe").cast("long").alias("n_probe"),
            F.round(F.col("n_probe") / F.lit(float(n_centroids)), 4).alias(
                "scan_share"
            ),
            "mean_recall",
            "worst_recall",
        )
        .orderBy("n_probe")
    )


def ann_recall_profile_sql(
    n_queries: int = 5,
    k: int = 3,
    n_probes: tuple[int, ...] = RECALL_PROBES,
    n_centroids: int = 16,
) -> str:
    parts = []
    for np_ in n_probes:
        parts.append(f"""
SELECT CAST({np_} AS BIGINT) AS n_probe,
       round(CAST({np_ / n_centroids!r} AS DOUBLE), 4) AS scan_share,
       round(avg(r), 6) AS mean_recall, round(min(r), 6) AS worst_recall
FROM (
  SELECT bf.query_id,
         CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS r
  FROM (SELECT query_id, neighbor_id
        FROM ({ann_bruteforce_topk_sql(n_queries, k)}) __bf) bf
  LEFT JOIN (SELECT query_id, neighbor_id
             FROM ({ann_ivf_topk_sql(n_queries, k, n_centroids=n_centroids, n_probe=np_)}) __ivf) ivf
    ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
  GROUP BY 1
) __pq""")
    body = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({body}) __all ORDER BY n_probe"
