"""Wander join — random-walk estimation over many-to-many joins
(Li, Wu, Yi, Zhao: "Wander Join: Online Aggregation via Random Walks",
SIGMOD 2016 best paper — adapted to deterministic walks so the DuckDB
oracle can replay them).

The engine already estimates m:m joins two ways: per-key universe
sampling (`operators/joins.py::universe_join_pairs`) when the measure
FACTORS through per-key aggregates, and the Count-Min inner product
for bare sizes. Wander join covers the remaining case: a measure that
needs the PAIR — e.g. ``|click_value − purchase_value|`` — where
per-key pre-aggregation cannot compress and materializing the join is
O(pairs).

A walk: pick a left row a (Bernoulli via the portable hash), then
pick ONE uniformly-chosen right partner b among a's key matches. The
contribution ``x = v(a, b) · n_right(a.key)`` makes the walk unbiased
for Σ_b v(a, b), and Horvitz-Thompson over the left inclusion gives

    Ê = Σ_walks x / p ,   E[Ê] = Σ_{(a,b)} v(a, b).

The right-side pick is NOT an array lookup: partners are ranked with
``row_number()`` per key and the walk equi-joins on
``(key, rank = h(a) mod n + 1)`` — no per-key arrays to blow up on hot
keys, two co-partitioned shuffles total, walk count f·|A| regardless
of fan-out. Everything is integer arithmetic over deterministic
hashes and a deterministic rank order, so the oracle replays every
walk bit-for-bit.

CI note (honest): the margin uses the engine's HT form
``z·√(Σx²(1−p)/p²)`` over the REALIZED walk contributions, which
folds the partner-pick randomness in empirically rather than through
the paper's explicit two-stage variance; coverage is pinned in tests.

At 100 TB: both shuffles hash-partition on the join key; the ranked
side pays one window per key (sort within partition); the walk side
is f·|A| rows. Skewed keys cost only their rank sort — a walk touches
ONE partner row however hot the key is, which is exactly the paper's
point versus computing the full join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    fraction_threshold,
    portable_hash_col,
    portable_hash_sql,
)
from approximatequeryengine_spark.plans.estimators import (
    Z_95,
    finite_col,
    finite_sql,
    ht_integer_margin,
)
from approximatequeryengine_spark.plans.sampling import sql_double
WALK_SALT = 17  # partner-pick hash family (left inclusion uses salt 0)


def wander_join_abs_gap(
    events: DataFrame,
    fraction: float = 0.2,
    left_type: str = "click",
    right_type: str = "purchase",
    z: float = Z_95,
) -> DataFrame:
    """Estimate Σ |click_cents − purchase_cents| over all same-user
    (click, purchase) pairs via deterministic wander-join walks: one
    row ``(join_sum_value, ci_lower, ci_upper, n_walks)`` in dollars.
    """
    cents = F.floor(finite_col(F.col("value")) * 100.0 + 0.5).cast("long")
    right = events.filter(F.col("event_type") == right_type).select(
        F.col("user_id"), cents.alias("cents_r"), F.col("event_id")
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    right_ranked = right.withColumn("rk", F.row_number().over(w))
    n_right = right.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )

    thr = fraction_threshold(fraction)
    left = (
        events.filter(F.col("event_type") == left_type)
        .filter(portable_hash_col(F.col("event_id")) < F.lit(thr))
        .select(F.col("user_id"), cents.alias("cents_l"), F.col("event_id"))
    )
    lw = left.join(n_right, on="user_id").withColumn(
        "pick",
        (portable_hash_col(F.col("event_id"), salt=WALK_SALT) % F.col("n_r")) + 1,
    )
    rr = right_ranked.select(
        F.col("user_id").alias("r_user"), F.col("cents_r"), F.col("rk")
    )
    # rank equality INSIDE the equi-join condition: the walk hash-joins
    # on (key, rank) and touches exactly one partner row per walk — a
    # key-only join followed by a rank filter would fan out to all
    # partners first, which is the O(pairs) cost walks exist to avoid.
    walks = lw.join(
        rr,
        on=(lw["user_id"] == rr["r_user"]) & (lw["pick"] == rr["rk"]),
        how="inner",
    ).select((F.abs(F.col("cents_l") - F.col("cents_r")) * F.col("n_r")).alias("x"))
    p = float(fraction)
    m = walks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # s1 in DECIMAL(38,0), not BIGINT: x = |Δcents|·n_r can reach
        # ~1e14 per walk under hot keys, and a BIGINT Σx would wrap
        # SILENTLY in Spark while DuckDB widens — the same cross-engine
        # hazard s2 (kept in double) and the Gini entry already dodge.
        # Decimal sums are exact and order-free in both engines.
        F.coalesce(
            F.sum(F.col("x").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s1"),
        # x² in DOUBLE like the sibling estimators: a hot key with n_r
        # partners makes x ~ |Δcents|·n_r, and x² overflows int64
        # silently in Spark (wraps) but raises in DuckDB — the margin
        # is integer-rounded anyway, so double noise is absorbed.
        F.coalesce(
            F.sum(F.col("x").cast("double") * F.col("x")), F.lit(0.0)
        ).alias("s2"),
    )
    est_cents = F.col("s1") * F.lit(1.0 / p)
    margin_d = ht_integer_margin(
        "n", f"s2 * {sql_double((1.0 - p) / (p * p) / 10000.0)}", z
    )
    return m.select(
        F.round(est_cents / F.lit(100.0), 2).alias("join_sum_value"),
        F.round(est_cents / F.lit(100.0) - margin_d, 2).alias("ci_lower"),
        F.round(est_cents / F.lit(100.0) + margin_d, 2).alias("ci_upper"),
        F.col("n").alias("n_walks"),
    )


def wander_join_abs_gap_sql(
    fraction: float = 0.2,
    left_type: str = "click",
    right_type: str = "purchase",
    z: float = Z_95,
) -> str:
    """DuckDB oracle — identical ranks, picks, and HT arithmetic."""
    thr = fraction_threshold(fraction)
    p = float(fraction)
    h_in = portable_hash_sql("event_id", 0)
    h_pick = portable_hash_sql("event_id", WALK_SALT)
    return f"""
WITH right_ranked AS (
  SELECT user_id,
         CAST(floor({finite_sql("value")} * 100.0 + 0.5) AS BIGINT) AS cents_r,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rk
  FROM events WHERE event_type = '{right_type}'
),
n_right AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_r
  FROM events WHERE event_type = '{right_type}' GROUP BY 1
),
lft AS (
  SELECT user_id,
         CAST(floor({finite_sql("value")} * 100.0 + 0.5) AS BIGINT) AS cents_l,
         event_id
  FROM events
  WHERE event_type = '{left_type}' AND {h_in} < {thr}
),
walks AS (
  SELECT abs(l.cents_l - r.cents_r) * n.n_r AS x
  FROM lft l
  JOIN n_right n ON l.user_id = n.user_id
  JOIN right_ranked r
    ON l.user_id = r.user_id
   AND r.rk = (({h_pick.replace('event_id', 'l.event_id')}) % n.n_r) + 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(CAST(x AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS s1,
         coalesce(sum(CAST(x AS DOUBLE) * x), 0.0) AS s2
  FROM walks
),
calc AS (
  SELECT n, s1 * {1.0 / p!r} AS est_cents,
         CASE WHEN n >= 2
              THEN {z!r} * sqrt(greatest(s2 * {(1.0 - p) / (p * p) / 10000.0!r}, 0.0))
              ELSE 0.0 END AS m0
  FROM m
)
SELECT round(est_cents / 100.0, 2) AS join_sum_value,
       round(est_cents / 100.0 - (CASE WHEN m0 > 0 THEN greatest(round(m0, 0), 1.0) ELSE 0.0 END), 2) AS ci_lower,
       round(est_cents / 100.0 + (CASE WHEN m0 > 0 THEN greatest(round(m0, 0), 1.0) ELSE 0.0 END), 2) AS ci_upper,
       n AS n_walks
FROM calc
"""
