"""Count-Min sketch over a token stream (Cormode & Muthukrishnan 2005).

The exact heavy-hitter query (``heavy_hitters_tokens``) shuffles one row
per distinct token per partition; a Count-Min sketch replaces that with
``depth × width`` integer counters — constant memory however large the
vocabulary, mergeable across partitions/days/shards by plain addition
(the same re-aggregatable property as the HLL rollup). Estimates are
biased UP only: ``exact ≤ est ≤ exact + ε·total`` w.h.p., with
``ε ≈ e/width``.

The depth rows use the AVALANCHE hash family (``with_avalanche_u``),
not the multiplicative sampling hash: the latter folds its salt
additively into the input, so two tokens colliding in one row collide
in EVERY row (constant pairwise delta survives the mixing) and the
min-over-depth never recovers — measured 2× inflation on the fixture.
The avalanche xor-mix rounds destroy pairwise deltas, making the depth
rows behave independently (the same reason the bootstrap uses it for
replicate weights — see ``plans/bootstrap.py``).

Spark-first shape: token explode → depth fan-out → ONE
map-side-combined ``groupBy(row, idx)`` — the sketch never exists as a
driver-side object. Point queries broadcast the candidate tokens
against the (tiny) sketch and take the min over rows. Everything is
integer/float arithmetic identical in both engines, so the DuckDB
oracle reproduces the sketch — and therefore every estimate —
bit-for-bit (unlike the DataSketches HLL entries, which are rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    HASH_SPACE,
    avalanche_hash_sql_steps,
    avalanche_np,
    with_avalanche_u,
)
from approximatequeryengine_spark.functions.text import str_hash32_col, str_hash32_sql
from approximatequeryengine_spark.operators import ensure_parallelism

CM_DEPTH = 4
CM_WIDTH = 512
CM_SALT0 = 9203  # sketch row r hashes with avalanche salt CM_SALT0 + r


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")


def _with_idx(df: DataFrame, width: int) -> DataFrame:
    """Attach idx = floor(u·width) for (h, row). u·width is exact in
    doubles (h < 2³², width a power of two), so floor can never
    straddle an engine boundary."""
    df = with_avalanche_u(
        df, F.col("h"), F.lit(CM_SALT0) + F.col("row"), u_col="__u"
    )
    return df.withColumn(
        "idx", F.floor(F.col("__u") * F.lit(width)).cast("long")
    ).drop("__u")


def _sketch_arrow(hashed: DataFrame, depth: int, width: int) -> DataFrame:
    """The (row, idx, cnt) sketch of the ``h`` column: per-task partial
    counters from an Arrow kernel, summed by one map-side-combined
    groupBy (round 10). Exploding ``depth`` rows per input hash and
    running the 5-projection avalanche chain on each was linear in
    tokens×depth through codegen'd-but-per-row expressions (20.2 s at
    sf10). Here each task folds the depth dimension into ``depth``
    vectorized NumPy passes over its batches and emits one bounded
    partial — ≤ depth·width rows per task.

    Cell index = ``floor(avalanche_np(h, CM_SALT0 + row) / 2³² · width)``
    in integers — the probes' ``_with_idx`` spelling, whose double steps
    are exact for h < 2³² and width ≤ 2²¹. ``mapInArrow`` rather than
    ``mapInPandas``: the input is ONE narrow int64 column in the
    session's small Arrow batches (sized for blob payloads), and the
    pandas wrapper per batch cost more than the counting itself at
    sf10. NULL hashes (NULL join keys on the join-size path) are
    dropped: they could never equi-join a probe. Pinned against
    ``_with_idx`` and ``cms_join_size_sql`` by
    ``test_countmin_arrow_matches_expression``."""
    import numpy as np
    import pyarrow as pa

    def kernel(it):
        counts = np.zeros((depth, width), dtype=np.int64)
        seen = False
        for batch in it:
            col = batch.column(0)
            if col.null_count:
                col = col.drop_null()
            if not len(col):
                continue
            seen = True
            h = col.to_numpy(zero_copy_only=False)
            for r in range(depth):
                idx = (avalanche_np(h, CM_SALT0 + r) * width) // HASH_SPACE
                counts[r] += np.bincount(idx, minlength=width)
        if seen:
            rows, idxs = np.nonzero(counts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(rows.astype(np.int32), pa.int32()),
                    pa.array(idxs, pa.int64()),
                    pa.array(counts[rows, idxs], pa.int64()),
                ],
                names=["row", "idx", "cnt"],
            )

    return (
        hashed.select("h")
        .mapInArrow(kernel, schema="row int, idx long, cnt long")
        .groupBy("row", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )


def countmin_sketch(
    docs: DataFrame,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """The sketch as a DataFrame of (row, idx, cnt) — ≤ depth·width rows,
    built in one map-side-combined aggregation."""
    # Fan out the DOCS, not the exploded tokens: the optimizer's size
    # estimate is solid at the scan (the post-explode estimate is a
    # guess that sized this to ~1 task — measured 6.5 s single-task at
    # sf0.1). weight 16: tokenize + depth×avalanche-mix runs ~10 ms/KB
    # of input, ~20× the quantum calibration's light-text rate.
    toks = _tokens(ensure_parallelism(docs, weight=16.0))
    return _sketch_arrow(
        toks.select(str_hash32_col(F.col("token")).alias("h")), depth, width
    )


def countmin_topk_estimates(
    spark: SparkSession,
    docs: DataFrame,
    k: int = 20,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """For the exact top-``k`` tokens: exact count, Count-Min estimate,
    and the inflation ratio — certifying the sketch arithmetic against
    ground truth in one result. At scale the exact side would be a
    candidate list from any source (the sketch answers point queries);
    here it doubles as the accuracy report."""
    sketch = countmin_sketch(docs, depth, width)
    toks = _tokens(ensure_parallelism(docs, weight=16.0))
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(k)
    )
    probes = top.select(
        "token",
        "exact_cnt",
        str_hash32_col(F.col("token")).alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    probes = _with_idx(probes, width).select("token", "exact_cnt", "row", "idx")
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


def countmin_topk_sql(
    k: int = 20, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> str:
    h32 = str_hash32_sql("token")
    steps, h_final = avalanche_hash_sql_steps("h", f"{CM_SALT0} + row")
    u = f"(CAST({h_final} AS DOUBLE) / {float(HASH_SPACE)!r})"
    idx = f"CAST(floor(({u}) * {width}) AS BIGINT)"
    return f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
), toks_f AS (SELECT token FROM toks WHERE token <> ''),
hashed AS (SELECT token, {h32} AS h FROM toks_f),
fan AS (SELECT h, v.row FROM hashed,
        (SELECT unnest(generate_series(0, {depth - 1})) AS row) v),
cells AS (SELECT h, row, {steps} FROM fan),
sketch AS (SELECT row, {idx} AS idx, count(*) AS cnt FROM cells GROUP BY row, idx),
top AS (
  SELECT token, count(*) AS exact_cnt FROM toks_f GROUP BY token
  ORDER BY exact_cnt DESC, token ASC LIMIT {k}
),
top_fan AS (SELECT token, exact_cnt, {h32} AS h, v.row FROM top,
            (SELECT unnest(generate_series(0, {depth - 1})) AS row) v),
top_cells AS (SELECT token, exact_cnt, row, h, {steps} FROM top_fan),
probes AS (SELECT token, exact_cnt, row, {idx} AS idx FROM top_cells),
est AS (
  SELECT p.token, p.exact_cnt, min(coalesce(s.cnt, 0)) AS cms_est
  FROM probes p LEFT JOIN sketch s ON p.row = s.row AND p.idx = s.idx
  GROUP BY p.token, p.exact_cnt
)
SELECT token, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
       round(CAST(cms_est AS DOUBLE) / exact_cnt, 6) AS inflation
FROM est ORDER BY exact_cnt DESC, token ASC
"""


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    key: str,
    depth: int = CM_DEPTH,
    width: int = 4096,
) -> DataFrame:
    """Equi-join SIZE estimation from two Count-Min sketches WITHOUT
    running the join (AMS/CMS inner product, Cormode & Muthukrishnan §4):
    |L ⋈ R on k| = Σ_k c_L(k)·c_R(k), estimated by
    ``min_row Σ_idx cmsL[row][idx]·cmsR[row][idx]``. One-sided like all
    CMS estimates: exact ≤ est ≤ exact + (e/width)·|L|·|R| w.h.p. —
    the answer a planner needs ("will this join explode?") from two
    constant-memory, mergeable sketches that never shuffle the tables
    against each other. The default width is wider than the heavy-hitter
    sketch because the inner-product noise scales with |L|·|R|/width,
    not |L|/width.

    Output (1 row): ``(exact_join_size, cms_est, width, depth)`` — the
    exact side is the |key|-cardinality groupBy product, feasible at
    fixture scale and doubling as the accuracy report (the oracle
    recomputes both identically)."""

    def sketch_of(df: DataFrame) -> DataFrame:
        return _sketch_arrow(
            df.select(F.abs(F.col(key)).cast("long").alias("h")), depth, width
        )

    # Self-join fast path (round 10): when the caller passes the SAME
    # frame for both sides (the F2/self-join entries do), the two
    # sketches are identical and the (row, idx) cells are unique, so
    # the equi-join is exactly the diagonal — Σ cnt² per row — and the
    # sketch (and below, the key-count table) builds ONCE instead of
    # twice. Identical integers by construction.
    same = left is right
    if same:
        per_row = (
            sketch_of(left)
            .groupBy("row")
            .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("ip"))
        )
    else:
        sl = sketch_of(left).withColumnRenamed("cnt", "cl")
        sr = sketch_of(right).withColumnRenamed("cnt", "cr")
        per_row = (
            sl.join(sr, on=["row", "idx"])  # absent cells contribute 0
            .groupBy("row")
            .agg(F.sum(F.col("cl") * F.col("cr")).alias("ip"))
        )
    # A sketch row where NO cell coincides must still contribute its
    # true inner product of 0 to the min — dropping it from the join
    # would inflate disjoint-key estimates past the documented bound.
    spine = left.sparkSession.range(depth).select(F.col("id").alias("row"))
    per_row = spine.join(per_row, on="row", how="left").select(
        "row", F.coalesce("ip", F.lit(0)).alias("ip")
    )
    est = per_row.agg(F.min("ip").alias("cms_est"))
    # Exact side groups the RAW key (abs() is only for the hash; folding
    # -k onto k here would overstate the exact join size).
    lc = left.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("c"))
    if same:
        # Diagonal of the self equi-join; NULL keys never join, so
        # they are excluded here exactly as the join would.
        exact = (
            lc.filter(F.col("k").isNotNull())
            .agg(F.sum(F.col("c") * F.col("c")).alias("exact_join_size"))
        )
    else:
        rc = right.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("c"))
        exact = (
            lc.join(rc, on="k")
            .agg(F.sum(lc["c"] * rc["c"]).alias("exact_join_size"))
        )
    return exact.crossJoin(est).select(
        F.coalesce(F.col("exact_join_size"), F.lit(0)).cast("long").alias("exact_join_size"),
        F.coalesce(F.col("cms_est"), F.lit(0)).cast("long").alias("cms_est"),
        F.lit(width).cast("long").alias("width"),
        F.lit(depth).cast("long").alias("depth"),
    )


def cms_join_size_sql(
    left_sql: str,
    right_sql: str,
    key: str,
    depth: int = CM_DEPTH,
    width: int = 4096,
) -> str:
    """Oracle over two ``SELECT {key} FROM ...`` subqueries."""
    steps, h_final = avalanche_hash_sql_steps("h", f"{CM_SALT0} + row")
    u = f"(CAST({h_final} AS DOUBLE) / {float(HASH_SPACE)!r})"
    idx = f"CAST(floor(({u}) * {width}) AS BIGINT)"
    return f"""
WITH l AS ({left_sql}), r AS ({right_sql}),
lfan AS (SELECT abs({key}) AS h, v.row FROM l,
         (SELECT unnest(generate_series(0, {depth - 1})) AS row) v),
lcells AS (SELECT h, row, {steps} FROM lfan),
lsketch AS (SELECT row, {idx} AS idx, count(*) AS cl FROM lcells GROUP BY row, idx),
rfan AS (SELECT abs({key}) AS h, v.row FROM r,
         (SELECT unnest(generate_series(0, {depth - 1})) AS row) v),
rcells AS (SELECT h, row, {steps} FROM rfan),
rsketch AS (SELECT row, {idx} AS idx, count(*) AS cr FROM rcells GROUP BY row, idx),
per_row0 AS (
  SELECT a.row, sum(a.cl * b.cr) AS ip
  FROM lsketch a JOIN rsketch b ON a.row = b.row AND a.idx = b.idx
  GROUP BY a.row
),
spine AS (SELECT unnest(generate_series(0, {depth - 1})) AS row),
per_row AS (
  SELECT s.row, coalesce(p.ip, 0) AS ip
  FROM spine s LEFT JOIN per_row0 p ON s.row = p.row
),
est AS (SELECT min(ip) AS cms_est FROM per_row),
lc AS (SELECT {key} AS k, count(*) AS c FROM l GROUP BY 1),
rc AS (SELECT {key} AS k, count(*) AS c FROM r GROUP BY 1),
exact AS (SELECT sum(lc.c * rc.c) AS exact_join_size FROM lc JOIN rc ON lc.k = rc.k)
SELECT CAST(coalesce(exact_join_size, 0) AS BIGINT) AS exact_join_size,
       CAST(coalesce(cms_est, 0) AS BIGINT) AS cms_est,
       CAST({width} AS BIGINT) AS width,
       CAST({depth} AS BIGINT) AS depth
FROM exact CROSS JOIN est
"""
