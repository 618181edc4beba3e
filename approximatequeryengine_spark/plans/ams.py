"""AMS F₂ sketch — second frequency moment / self-join size
estimation (Alon, Matias, Szegedy: "The space complexity of
approximating the frequency moments", STOC 1996; the tug-of-war
sketch of Alon, Gibbons, Matias, Szegedy, PODS 1999).

F₂ = Σᵢ fᵢ² over the key frequencies is the SELF-JOIN size — the row
count of ``T ⋈ T`` on the key — and the quantity that decides whether
a planned join explodes: the engine's Count-Min inner product
(`plans/countmin.py`) estimates cross-join sizes, AMS completes the
family with the self-join/skew side (F₂/n² is a direct skew score; a
uniform key has F₂ ≈ n²/d).

The sketch is ``groups × k`` signed counters:

    c_j = Σ_rows s_j(key),   s_j(key) ∈ {−1, +1}

Each c_j² is an unbiased estimate of F₂; means over k estimators cut
variance (Var ≤ 2F₂²/k), the median over independent groups adds
robustness (median-of-means). Everything is integer arithmetic over
the engine's portable hash — the sign is the TOP bit of the hash
COMPOSED WITH ITSELF, ``h(h(key, salt), salt+50) ≥ 2³¹``: one round
of the multiplicative mix produces low-discrepancy (anti-correlated)
sign sequences over sequential keys — measured 79–94% F₂
UNDERESTIMATES for every single bit of one-round output — while the
composed hash lands at the ~√(2/k)/√groups error theory predicts
(12% mean over salt trials at k=8, groups=6). The DuckDB oracle
replays every counter bit-for-bit. The hash family is the repo's
empirically-near-independent salted mix, not a provably 4-wise
independent one; the variance bound is therefore heuristic (same
honesty note as the minhash family).

Scale shape: ONE map-side-combined aggregate pass producing
``groups·k`` BIGINTs — constant state, no shuffle beyond the 1-row
final combine — and the counters are LINEAR in the data: sketches of
shards/batches ADD (merge == rebuild, pinned), making the sketch
maintainable under ingest and shard-parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    portable_hash_np,
    portable_hash_sql,
)

K_DEFAULT = 8  # estimators per group (mean)
GROUPS_DEFAULT = 6  # groups (median)
_SALT2 = 50  # second-round salt offset of the composed hash


def _sign_sql(key_sql: str, salt: int) -> str:
    hh = portable_hash_sql(f"({portable_hash_sql(key_sql, salt)})", salt + _SALT2)
    return f"((CAST(floor(({hh}) / 2147483648.0) AS BIGINT) % 2) * 2 - 1)"


def ams_f2_counters(
    df: DataFrame,
    key: Column,
    k: int = K_DEFAULT,
    groups: int = GROUPS_DEFAULT,
) -> DataFrame:
    """The raw sketch: one row of ``groups·k`` signed-counter sums
    (columns ``c0..c{gk-1}``) plus ``n_rows``. Linear in the data —
    counters of two frames add.

    Batch AND streaming frames take the Arrow kernel
    (:func:`_ams_counters_pandas`): a Spark expression path evaluated
    ``groups·k`` two-round modular chains per row in codegen, which
    measured 4.3 s at sf0.1 vs ~0.6 s for the vectorized kernel (and
    8.6 → 3.2 s for the streaming entry, round 10). The kernel is a
    STATELESS per-partition partial-sum projection — on a stream the
    complete-mode aggregate state is the final counter sum either way,
    and counters are linear, so partials accumulate across
    micro-batches exactly like raw rows."""
    return _ams_counters_pandas(df, key, k=k, groups=groups)


def _ams_counters_pandas(
    df: DataFrame, key: Column, k: int = K_DEFAULT, groups: int = GROUPS_DEFAULT
) -> DataFrame:
    """Arrow fast path: per-batch numpy sign sums → per-batch partial
    counters → one tiny final aggregate. The composed hash is
    ``portable_hash_np`` twice — the NumPy form of ``_sign_sql``'s
    ``portable_hash_sql``, pinned by ``tests/test_hashing.py``; the
    counters are pinned against the DuckDB twin's
    (``_counters_sql``) in ``tests/test_ams.py``.
    The kernel loops over salts with ONE in-place n-vector buffer
    (``out=``) — the broadcasted n×48 formulation allocates 230 MB
    temporaries per op at sf0.1 and measured 24× slower (memory-bound,
    not compute). The repartition spreads the kernel across cores: a
    single parquet file would otherwise pin it to a handful of input
    splits."""
    import numpy as np
    import pandas as pd

    gk = groups * k

    def batches(it):
        # fold the partition's Arrow batches into ONE vector first:
        # per-batch processing pays the 48-salt Python loop once per
        # 10k-row batch (thousands of tiny numpy calls); per-partition
        # it runs once over ~N/cores rows (a few MB of int64).
        # NULL keys: SQL sums sign(NULL) = NULL (the aggregate skips
        # it) while count(*) still counts the row — mirror that exactly (a raw to_numpy(int64) would crash on
        # the NaN/NA a nullable long column arrives as).
        n_all = 0
        chunks = []
        for pdf in it:
            col = pdf["__k"]
            n_all += len(col)
            nn = col.dropna()
            if len(nn):
                chunks.append(nn.to_numpy(dtype=np.int64))
        keys = np.concatenate(chunks) if chunks else np.empty(0, np.int64)
        buf = np.empty_like(keys)
        row = {}
        for j in range(gk):
            portable_hash_np(keys, j, out=buf)
            portable_hash_np(buf, j + _SALT2, out=buf)
            row[f"c{j}"] = [int((2 * ((buf >> 31) & 1) - 1).sum())]
        row["n_rows"] = [n_all]
        yield pd.DataFrame(row)

    schema = ", ".join([f"c{j} long" for j in range(gk)] + ["n_rows long"])
    sc = df.sparkSession.sparkContext
    partials = (
        df.select(key.cast("long").alias("__k"))
        .repartition(sc.defaultParallelism)
        .mapInPandas(batches, schema=schema)
    )
    aggs = [F.sum(f"c{j}").cast("long").alias(f"c{j}") for j in range(gk)]
    aggs.append(F.sum("n_rows").cast("long").alias("n_rows"))
    return partials.agg(*aggs)


def ams_f2_readout(
    counters: DataFrame, k: int = K_DEFAULT, groups: int = GROUPS_DEFAULT
) -> DataFrame:
    """Median-of-means over a 1-row counters frame (from
    :func:`ams_f2_counters`, a merge of shard counters, or a drained
    streaming aggregate — counters are linear, so all three agree):
    one row ``(f2_estimate, n_rows)``. The counter squares and group
    means are exact in double (|c| ≤ n ≪ 2²⁶·⁵); the median
    interpolates between the two central groups — identical
    arithmetic in the DuckDB oracle."""
    ests = F.array(
        *[
            (
                sum(
                    (F.col(f"c{g * k + i}") * F.col(f"c{g * k + i}")).cast("double")
                    for i in range(k)
                )
                / F.lit(float(k))
            )
            for g in range(groups)
        ]
    )
    stacked = counters.select(
        F.explode(ests).alias("gmean"), F.col("n_rows")
    )
    return stacked.groupBy("n_rows").agg(
        F.percentile(F.col("gmean"), F.lit(0.5)).alias("f2_estimate")
    ).select(
        F.round(F.col("f2_estimate"), 2).alias("f2_estimate"),
        F.col("n_rows"),
    )


def ams_f2_estimate(
    df: DataFrame, key: Column, k: int = K_DEFAULT, groups: int = GROUPS_DEFAULT
) -> DataFrame:
    """One-pass sketch + readout: ``(f2_estimate, n_rows)``."""
    return ams_f2_readout(ams_f2_counters(df, key, k=k, groups=groups), k=k, groups=groups)


def _counters_sql(
    table: str,
    key_sql: str,
    where: str = "TRUE",
    k: int = K_DEFAULT,
    groups: int = GROUPS_DEFAULT,
) -> str:
    """DuckDB twin of :func:`ams_f2_counters`: the one-row counters
    ``c0..c{gk-1}`` plus ``n_rows``."""
    csels = ", ".join(
        f"CAST(sum({_sign_sql(key_sql, j)}) AS BIGINT) AS c{j}"
        for j in range(groups * k)
    )
    return f"""SELECT {csels}, CAST(count(*) AS BIGINT) AS n_rows
  FROM {table} WHERE {where}"""


def ams_f2_estimate_sql(
    table: str,
    key_sql: str,
    where: str = "TRUE",
    k: int = K_DEFAULT,
    groups: int = GROUPS_DEFAULT,
) -> str:
    """DuckDB oracle — replays every counter, group mean, and the
    interpolated median."""
    gmeans = ", ".join(
        "("
        + " + ".join(
            f"CAST(c{g * k + i} AS DOUBLE) * c{g * k + i}" for i in range(k)
        )
        + f") / {float(k)!r} AS g{g}"
        for g in range(groups)
    )
    gvals = ", ".join(f"(g{g})" for g in range(groups))
    return f"""
WITH counters AS (
  {_counters_sql(table, key_sql, where, k, groups)}
),
means AS ( SELECT {gmeans}, n_rows FROM counters ),
stacked AS (
  SELECT n_rows, unnest([{gvals}]) AS gmean FROM means
)
SELECT round(quantile_cont(gmean, 0.5), 2) AS f2_estimate, n_rows
FROM stacked GROUP BY n_rows
"""
