"""Sample-based distinct-count estimation (Chao1 species richness).

The naive "COUNT(DISTINCT x) in the sample" strictly undercounts (values
entirely outside the sample are invisible). Chao1 corrects from the
sample's abundance spectrum:

    D̂ = D_obs + f1² / (2·f2)        (f2 > 0)
    D̂ = D_obs + f1·(f1−1) / 2       (f2 = 0, bias-corrected form)

where f1/f2 are the counts of values seen exactly once/twice (Chao 1984).
Complements the HLL++ sketch (`sketch_approx_distinct`): Chao1 needs only
a sample (works on top of any deterministic design here); HLL needs a
full scan but gives tighter error.

Everything is integer-derived arithmetic over the deterministic hash
sample — no float summation — so one SQL text is bit-identical in Spark
and DuckDB (the CAST AS DOUBLE inside round() pins the result type,
which DuckDB would otherwise widen to DECIMAL).

Scale shape: one scan with the codegen sample predicate → one shuffle on
(group, value) for the frequency table → map-side-combined rollup to
|groups| rows. The frequency shuffle carries only sampled rows.
"""

from __future__ import annotations

from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    sampling_where_sql,
)


def chao1_sql(
    table: str,
    column: str,
    spec: SamplingSpec,
    group_col: str | None = None,
) -> str:
    """Engine-portable Chao1 SQL (global, or per ``group_col``)."""
    where = sampling_where_sql(spec)
    g_sel = f"{group_col} AS g, " if group_col else ""
    g_key = "g, " if group_col else ""
    g_head = f"g AS {group_col}, " if group_col else ""
    g_tail = " GROUP BY g ORDER BY g" if group_col else ""
    f1 = "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)"
    f2 = "sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)"
    chao = (
        f"CASE WHEN {f2} > 0 THEN ({f1} * {f1}) / (2.0 * {f2}) "
        f"ELSE ({f1} * ({f1} - 1)) / 2.0 END"
    )
    return (
        f"WITH s AS (SELECT {g_sel}{column} FROM {table} WHERE {where}), "
        f"freq AS (SELECT {g_key}{column}, count(*) AS c FROM s "
        f"         GROUP BY {g_key}{column}) "
        f"SELECT {g_head}count(*) AS d_obs, "
        f"CAST({f1} AS BIGINT) AS f1, CAST({f2} AS BIGINT) AS f2, "
        f"round(CAST(count(*) + {chao} AS DOUBLE), 2) AS d_chao1 "
        f"FROM freq{g_tail}"
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k / k-minimum-values) distinct sketch — Bar-Yossef et al.
# (RANDOM'02) / Beyer et al. (SIGMOD'07): keep the k smallest hash
# values over the distinct keys; if the k-th smallest normalized hash is
# U_(k), then D̂ = (k−1)/U_(k). The bottom-k set is simultaneously a
# uniform sample of the DISTINCT values (not of rows — the property
# row-level sampling cannot give) and a mergeable synopsis: the sketch
# of a union is the k smallest of the sketches' union, which the tests
# pin as the merge law. Fills the sketch-family gap between Chao1
# (sample-only, no scan) and HLL (full scan, register-based).
# ---------------------------------------------------------------------------

_KMV_Z = 1.959963984540054


def kmv_distinct_ci(df, key: str, k: int = 256, z: float = _KMV_Z):
    """Single-row KMV readout: (est_distinct, ci_lower, ci_upper,
    k_used, kth_hash).

    Plan shape: one scan computing the stepwise avalanche hash (pure
    codegen), a map-side-combined hash dedup, then
    TakeOrderedAndProject(k) — no global sort, and only k rows ever
    reach the driver side of the final aggregate. The CI uses the
    standard KMV relative-error factor 1/√(k−2) (Beyer et al. §4) with
    integer margins. When fewer than k distinct hashes exist the sketch
    IS the exact distinct set and the estimate degenerates to the exact
    count (margin 0). 32-bit hash space: fine up to ~10⁷ distincts
    (birthday collisions shave <0.1%); at 10⁹+ promote the same
    construction to a 64-bit mix.
    """
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        portable_hash_col,
        with_avalanche_h,
    )

    if k < 3:
        raise ValueError(f"k must be >= 3 for the KMV estimator, got {k}")
    # The order statistic D̂ = (k−1)/U_(k) is exquisitely sensitive to
    # low-tail uniformity — the bare 2-round avalanche clumps
    # sequential keys ~20% low there (measured: est 2445 for 2000 true
    # distincts, outside its own CI). Chaining the multiplicative
    # portable hash IN FRONT restores uniformity (est 2008 on the same
    # keys) at the cost of one extra codegen expression.
    hashed = with_avalanche_h(
        df.filter(F.col(key).isNotNull()).select(key),
        portable_hash_col(F.col(key)),
        F.lit(0),
        h_col="__h",
    )
    bottom = hashed.select("__h").distinct().orderBy("__h").limit(k)
    agg = bottom.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.max("__h").cast("long").alias("kth"),
    )
    est = F.when(
        F.col("nb") < k, F.col("nb")
    ).otherwise(
        F.floor((F.lit(float(k - 1)) * F.lit(float(HASH_SPACE))) / F.col("kth") + F.lit(0.5)).cast("long")
    )
    margin = F.when(F.col("nb") < k, F.lit(0).cast("long")).otherwise(
        F.round(est * F.lit(z / (k - 2) ** 0.5), 0).cast("long")
    )
    return agg.select(
        est.alias("est_distinct"),
        (est - margin).alias("ci_lower"),
        (est + margin).alias("ci_upper"),
        F.col("nb").alias("k_used"),
        F.col("kth").alias("kth_hash"),
    )


def kmv_distinct_ci_sql(table: str, key: str, k: int = 256, z: float = _KMV_Z) -> str:
    """DuckDB oracle — identical hash steps, dedup, bottom-k,
    estimate, and integer margin."""
    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        avalanche_hash_sql_steps,
        portable_hash_sql,
    )

    steps, final = avalanche_hash_sql_steps(portable_hash_sql(key))
    est = (
        f"CASE WHEN nb < {k} THEN nb "
        f"ELSE CAST(floor(({float(k - 1)!r} * {float(HASH_SPACE)!r}) / kth + 0.5) AS BIGINT) END"
    )
    margin = (
        f"CASE WHEN nb < {k} THEN 0 "
        f"ELSE CAST(round(({est}) * {z / (k - 2) ** 0.5!r}, 0) AS BIGINT) END"
    )
    return f"""
WITH hashed AS (
  SELECT {steps} FROM {table} WHERE {key} IS NOT NULL
),
b AS (SELECT DISTINCT {final} AS h FROM hashed ORDER BY h LIMIT {k}),
s AS (SELECT CAST(count(*) AS BIGINT) AS nb, CAST(max(h) AS BIGINT) AS kth FROM b)
SELECT {est} AS est_distinct,
       ({est}) - ({margin}) AS ci_lower,
       ({est}) + ({margin}) AS ci_upper,
       nb AS k_used, kth AS kth_hash
FROM s
"""


# ---------------------------------------------------------------------------
# KMV/theta set operations — Dasgupta et al. "Theta sketch framework"
# (2016); Beyer et al. SIGMOD'07 §5. Two bottom-k sketches support
# DIRECT union/intersection/Jaccard estimation: with θ = min of the
# sketches' k-th minimum hashes, every retained hash < θ is a uniform
# θ/2³²-rate sample of the combined DISTINCT key space, so
# D̂_X = c_X · 2³²/θ for any set expression X evaluated on the retained
# hashes. Unlike HLL inclusion-exclusion (`sketch_hll_overlap`), the
# intersection is estimated directly — the error does not blow up when
# |A∩B| ≪ |A∪B|.
# ---------------------------------------------------------------------------


def kmv_set_ops(df_a, df_b, key: str, k: int = 256):
    """One-row readout (theta, c_intersect, c_union, est_intersect,
    est_union, jaccard) from two bottom-k sketches.

    exact-mode degeneracy: a side with fewer than k distinct hashes
    contributes θ_side = 2³², so when BOTH sides are exact the
    estimates are exact counts (2³²/θ = 1 exactly). The scaling
    c·2³²/θ keeps c·2³² ≤ 512·2³² < 2⁵³, so the multiply is exact and
    the divide IEEE-rounded — bit-identical in DuckDB.

    Scale shape: two scans (one per side) each ending in
    TakeOrderedAndProject(k); everything downstream operates on ≤ 2k
    rows (the 1-row θ frame attaches via a broadcast nested-loop, the
    repo's audited scalar-attachment shape).
    """
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        portable_hash_col,
        with_avalanche_h,
    )

    if k < 3:
        raise ValueError(f"k must be >= 3, got {k}")

    def bottom(df):
        hashed = with_avalanche_h(
            df.filter(F.col(key).isNotNull()).select(key),
            portable_hash_col(F.col(key)),
            F.lit(0),
            h_col="__h",
        )
        return hashed.select("__h").distinct().orderBy("__h").limit(k)

    sa = bottom(df_a).select(
        F.col("__h").alias("h"), F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    sb = bottom(df_b).select(
        F.col("__h").alias("h"), F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    side_theta = lambda s: F.when(  # noqa: E731
        F.count(F.lit(1)) < k, F.lit(HASH_SPACE).cast("long")
    ).otherwise(F.max("h").cast("long"))
    ta = sa.agg(side_theta(sa).alias("th_a"))
    tb = sb.agg(side_theta(sb).alias("th_b"))
    theta_df = ta.crossJoin(tb).select(
        F.least("th_a", "th_b").alias("theta")
    )
    merged = (
        sa.unionByName(sb)
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    f = merged.crossJoin(F.broadcast(theta_df)).filter(F.col("h") < F.col("theta"))
    c_int = F.sum(F.col("in_a") * F.col("in_b")).cast("long")
    c_uni = F.count(F.lit(1)).cast("long")
    est = lambda c: F.floor(  # noqa: E731
        c.cast("double") * F.lit(float(HASH_SPACE)) / F.max("theta").cast("double")
        + F.lit(0.5)
    ).cast("long")
    return f.agg(
        F.max("theta").cast("long").alias("theta"),
        c_int.alias("c_intersect"),
        c_uni.alias("c_union"),
        est(c_int).alias("est_intersect"),
        est(c_uni).alias("est_union"),
        F.when(c_uni == 0, F.lit(0.0)).otherwise(
            F.round(c_int.cast("double") / c_uni.cast("double"), 6)
        ).alias("jaccard"),
    )


def kmv_set_ops_sql(table_a: str, table_b: str, key: str, k: int = 256) -> str:
    """DuckDB oracle — identical hashes, bottom-k sets, θ rule,
    retained-hash filter, and scaling arithmetic."""
    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        avalanche_hash_sql_steps,
        portable_hash_sql,
    )

    steps, final = avalanche_hash_sql_steps(portable_hash_sql(key))
    side = (
        f"CASE WHEN count(*) < {k} THEN {HASH_SPACE} "
        f"ELSE CAST(max(h) AS BIGINT) END"
    )
    est = lambda c: (  # noqa: E731
        f"CAST(floor(CAST({c} AS DOUBLE) * {float(HASH_SPACE)!r} "
        f"/ CAST(t AS DOUBLE) + 0.5) AS BIGINT)"
    )
    return f"""
WITH ha AS (SELECT {steps} FROM {table_a} WHERE {key} IS NOT NULL),
ba AS (SELECT DISTINCT {final} AS h FROM ha ORDER BY h LIMIT {k}),
hb AS (SELECT {steps} FROM {table_b} WHERE {key} IS NOT NULL),
bb AS (SELECT DISTINCT {final} AS h FROM hb ORDER BY h LIMIT {k}),
st AS (SELECT least((SELECT {side} FROM ba), (SELECT {side} FROM bb)) AS theta),
m AS (
  SELECT h, max(ina) AS in_a, max(inb) AS in_b FROM (
    SELECT h, 1 AS ina, 0 AS inb FROM ba
    UNION ALL
    SELECT h, 0 AS ina, 1 AS inb FROM bb
  ) GROUP BY h
),
f AS (SELECT m.*, st.theta FROM m, st WHERE m.h < st.theta),
agg AS (
  SELECT CAST(max(theta) AS BIGINT) AS t,
         CAST(sum(in_a * in_b) AS BIGINT) AS ci,
         CAST(count(*) AS BIGINT) AS cu
  FROM f
)
SELECT t AS theta, ci AS c_intersect, cu AS c_union,
       {est('ci')} AS est_intersect,
       {est('cu')} AS est_union,
       CASE WHEN cu = 0 THEN 0.0
            ELSE round(CAST(ci AS DOUBLE) / CAST(cu AS DOUBLE), 6) END AS jaccard
FROM agg
"""


def kmv_distinct_where(
    df,
    key: str,
    dim,
    dim_key: str,
    pred,
    k: int = 256,
):
    """Distinct-value sampling (Beyer et al. SIGMOD'07 §5's flagship
    application): the bottom-k sketch is a UNIFORM sample of the
    DISTINCT key values — a property row sampling cannot give — so
    "how many distinct keys satisfy a dimension predicate" is
    estimated as D̂_total · (matching sampled keys / k). One readout
    row: (est_distinct, k_used, n_match, est_distinct_where).

    ``dim`` must be unique on ``dim_key`` (a left join from the k
    sampled keys; absent keys count as non-matching). The final
    scaling is the (2am+b) div (2b) round-half-up identity — pure
    BIGINT, mirrored in the oracle.

    Scale shape: one distinct shuffle on the key + TakeOrdered(k),
    then a k-row broadcast join against the dimension — the dimension
    is never shuffled.
    """
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        portable_hash_col,
        with_avalanche_h,
    )

    if k < 3:
        raise ValueError(f"k must be >= 3, got {k}")
    hashed = with_avalanche_h(
        df.filter(F.col(key).isNotNull()).select(key).distinct(),
        portable_hash_col(F.col(key)),
        F.lit(0),
        h_col="__h",
    )
    bottom = hashed.orderBy("__h", key).limit(k)
    joined = F.broadcast(bottom).join(
        dim, bottom[key] == dim[dim_key], "left"
    )
    agg = joined.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.max("__h").cast("long").alias("kth"),
        F.coalesce(F.sum(F.when(pred, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("m"),
    )
    est = F.when(F.col("nb") < k, F.col("nb")).otherwise(
        F.floor(
            (F.lit(float(k - 1)) * F.lit(float(HASH_SPACE))) / F.col("kth")
            + F.lit(0.5)
        ).cast("long")
    )
    return agg.select(
        est.alias("est_distinct"),
        F.col("nb").alias("k_used"),
        F.col("m").alias("n_match"),
    ).withColumn(
        "est_distinct_where",
        F.expr(
            "CASE WHEN k_used = 0 THEN CAST(0 AS BIGINT) "
            "ELSE (2 * est_distinct * n_match + k_used) div (2 * k_used) END"
        ),
    )


def kmv_distinct_where_sql(
    table: str,
    key: str,
    dim_table: str,
    dim_key: str,
    pred_sql: str,
    k: int = 256,
) -> str:
    """DuckDB oracle — identical hash, (h, key)-ordered bottom-k,
    left-join match count, and integer scaling."""
    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        avalanche_hash_sql_steps,
        portable_hash_sql,
    )

    steps, final = avalanche_hash_sql_steps(portable_hash_sql(key))
    est = (
        f"CASE WHEN nb < {k} THEN nb "
        f"ELSE CAST(floor(({float(k - 1)!r} * {float(HASH_SPACE)!r}) / kth + 0.5) AS BIGINT) END"
    )
    return f"""
WITH dk AS (SELECT DISTINCT {key} FROM {table} WHERE {key} IS NOT NULL),
hashed AS (SELECT {key}, {steps} FROM dk),
bottom AS (SELECT {key}, {final} AS h FROM hashed ORDER BY h, {key} LIMIT {k}),
j AS (
  SELECT b.h, CASE WHEN d.{dim_key} IS NOT NULL AND ({pred_sql}) THEN 1 ELSE 0 END AS mt
  FROM bottom b LEFT JOIN {dim_table} d ON b.{key} = d.{dim_key}
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS nb, CAST(max(h) AS BIGINT) AS kth,
         CAST(sum(mt) AS BIGINT) AS m
  FROM j
)
SELECT {est} AS est_distinct, nb AS k_used, coalesce(m, 0) AS n_match,
       CASE WHEN nb = 0 THEN CAST(0 AS BIGINT)
            ELSE (2 * ({est}) * coalesce(m, 0) + nb) // (2 * nb) END
         AS est_distinct_where
FROM a
"""
