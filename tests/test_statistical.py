"""Statistical correctness of the estimator layer (SURVEY.md §5):
unbiasedness and 95% CI coverage over many independent samples.

All replicate estimates are computed in ONE Spark job: cross-join the
table with a salt dimension, filter each (row, salt) pair through the
salted portable hash, and aggregate per salt — the distributed-friendly
form of "run the estimator 100 times", with no driver loop.
"""

import os

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    HASH_SPACE,
    M31,
    MULT,
    MULT2,
    OFFSET,
    SALT_STRIDE,
    fraction_threshold,
)
from approximatequeryengine_spark.plans.estimators import Z_95
from tests.conftest import SF_DIR

KEY = "l_orderkey * 8 + l_linenumber"
FRACTION = 0.1
N_SALTS = 100


def _salted_hash(k, salt):
    t1 = (F.abs(k.cast("long")) + salt * F.lit(SALT_STRIDE)) % F.lit(M31)
    t2 = (t1 * F.lit(MULT) + F.lit(OFFSET)) % F.lit(HASH_SPACE)
    return ((t2 % F.lit(M31)) * F.lit(MULT2) + F.lit(144)) % F.lit(HASH_SPACE)


@pytest.fixture(scope="module")
def replicates(engine, spark):
    """Per-salt (estimate, ci_lower, ci_upper) for a fraction-0.1
    HT SUM of l_extendedprice, plus the exact answer."""
    df = engine.catalog.table("lineitem").selectExpr(
        f"{KEY} AS k", "l_extendedprice AS x"
    )
    truth = df.agg(F.sum("x")).collect()[0][0]

    salts = spark.range(N_SALTS).select(F.col("id").cast("int").alias("salt"))
    thr = fraction_threshold(FRACTION)
    sampled = df.crossJoin(salts).filter(
        _salted_hash(F.col("k"), F.col("salt")) < F.lit(thr)
    )
    m = sampled.groupBy("salt").agg(
        F.count("x").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    est = s1 / F.lit(FRACTION)
    # The engine's HT-variance CI (estimators.py, quirk Q8):
    # margin = z·√(Σ x²(1−p)/p²) = z·√(s2·(1−f)/f²) for constant f.
    margin = F.lit(Z_95) * F.sqrt(
        s2 * F.lit((1.0 - FRACTION) / (FRACTION * FRACTION))
    )
    rows = m.select(
        "salt", "n",
        est.alias("est"),
        (est - margin).alias("lo"),
        (est + margin).alias("hi"),
    ).collect()
    assert len(rows) == N_SALTS
    return truth, rows


def test_ci_coverage_near_nominal(replicates):
    truth, rows = replicates
    covered = sum(1 for r in rows if r["lo"] <= truth <= r["hi"])
    # Binomial(100, 0.95): ±3σ ≈ ±6.5 around 95.
    assert covered >= 87, f"CI coverage {covered}/100 far below nominal 95%"


def test_unbiasedness(replicates):
    truth, rows = replicates
    mean_est = sum(r["est"] for r in rows) / len(rows)
    # SE of the replicate mean ≈ 0.25%; 1% tolerance = ~4σ.
    assert mean_est == pytest.approx(truth, rel=0.01), (
        f"mean of {len(rows)} estimates {mean_est} vs truth {truth}"
    )


def test_stratified_ci_coverage(engine, spark):
    """Coverage must also hold with per-row varying inclusion
    probabilities (stratified design): the HT variance term
    Σ x²(1−p)/p² handles unequal p by construction."""
    fracs = {"N": 0.25, "A": 0.05, "R": 0.1}
    df = engine.catalog.table("lineitem").selectExpr(
        f"{KEY} AS k", "l_extendedprice AS x", "l_returnflag AS g"
    )
    truth = df.agg(F.sum("x")).collect()[0][0]
    p = F.lit(None).cast("double")
    for v, f in fracs.items():
        p = F.when(F.col("g") == v, F.lit(float(f))).otherwise(p)
    salts = spark.range(N_SALTS).select(F.col("id").cast("int").alias("salt"))
    joined = df.withColumn("p", p).crossJoin(salts)
    thr = F.floor(F.col("p") * F.lit(float(HASH_SPACE))).cast("long")
    sampled = joined.filter(_salted_hash(F.col("k"), F.col("salt")) < thr)
    x, pp = F.col("x"), F.col("p")
    m = sampled.groupBy("salt").agg(
        F.sum(x / pp).alias("est"),
        F.sum(x * x * (F.lit(1.0) - pp) / (pp * pp)).alias("vht"),
    )
    rows = m.select(
        "est",
        (F.col("est") - F.lit(Z_95) * F.sqrt("vht")).alias("lo"),
        (F.col("est") + F.lit(Z_95) * F.sqrt("vht")).alias("hi"),
    ).collect()
    assert len(rows) == N_SALTS
    covered = sum(1 for r in rows if r["lo"] <= truth <= r["hi"])
    assert covered >= 87, f"stratified CI coverage {covered}/100"
    mean_est = sum(r["est"] for r in rows) / len(rows)
    assert mean_est == pytest.approx(truth, rel=0.02)


def test_salt_independence(replicates):
    """Different salts must give genuinely different samples — near-zero
    variance across replicates would mean correlated hash functions."""
    truth, rows = replicates
    ests = [r["est"] for r in rows]
    mean = sum(ests) / len(ests)
    cv = (sum((e - mean) ** 2 for e in ests) / (len(ests) - 1)) ** 0.5 / mean
    assert cv > 0.001, "replicate estimates are suspiciously identical"
    sizes = {r["n"] for r in rows}
    assert len(sizes) > 10, "per-salt sample sizes almost constant — salts correlated"


def test_grouped_median_ci_covers_true_medians(spark):
    """Each group's binomial order-statistic CI must cover the group's
    true (full-data) median — deterministic sample, so stable."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    est = {
        r["l_returnflag"]: (r["ci_lower"], r["ci_upper"])
        for r in QUERIES["approx_grouped_median_ci"](spark, sf).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    truth = {
        r["l_returnflag"]: r["med"]
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("med"))
        .collect()
    }
    assert set(est) == set(truth) and len(est) >= 3
    for g, (lo, hi) in est.items():
        assert lo <= truth[g] <= hi, (g, lo, truth[g], hi)


def test_chao1_beats_naive_sample_distinct(spark):
    """Chao1's undercount correction must move the estimate strictly
    closer to the true distinct count than the raw sample-distinct."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    row = QUERIES["approx_distinct_chao1"](spark, sf).collect()[0]
    truth = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert abs(row["d_chao1"] - truth) < abs(row["d_obs"] - truth)
    assert abs(row["d_chao1"] - truth) / truth < 0.10


def test_bootstrap_ci_covers_and_agrees_with_ht(spark):
    """The Poissonized bootstrap CI must cover the exact SUM, and its
    width must agree with the closed-form HT-variance CI within 2×
    (both estimate the same sampling variance)."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    b = QUERIES["approx_sum_bootstrap32"](spark, sf).collect()[0]
    exact = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .agg(F.sum("l_extendedprice"))
        .collect()[0][0]
    )
    assert b["ci_lower"] <= exact <= b["ci_upper"]
    ht = QUERIES["approx_sum_uniform10"](spark, sf).collect()[0]
    w_boot = b["ci_upper"] - b["ci_lower"]
    w_ht = ht["ci_upper"] - ht["ci_lower"]
    assert 0.5 < w_boot / w_ht < 2.0, (w_boot, w_ht)
    # Same deterministic sample → same point estimate (both HT-scaled).
    assert b["estimate"] == pytest.approx(ht["sum_l_extendedprice"], rel=1e-6)


def test_avalanche_uniform_on_selected_keys():
    """The bootstrap's avalanche hash must stay uniform and
    cross-salt-independent when conditioned on keys SELECTED by the
    sampling hash (where the multiplicative family fails badly)."""
    import math

    from approximatequeryengine_spark.functions.hashing import (
        AVALANCHE_MULT,
        HASH_SPACE,
        SALT_STRIDE,
    )

    def g(k):  # the sampling hash (salt 0)
        t1 = abs(k) % (1 << 31)
        t2 = (t1 * 2654435761 + 2654435769) % HASH_SPACE
        return ((t2 % (1 << 31)) * 1779033703 + 144) % HASH_SPACE

    def av(k, salt):
        x = (abs(k) + salt * SALT_STRIDE) % HASH_SPACE
        for _ in range(2):
            x ^= x >> 16
            x = (x * AVALANCHE_MULT) % HASH_SPACE
        return x ^ (x >> 16)

    keys = [o * 8 + l for o in range(1, 20000) for l in range(1, 4)]
    sel = [k for k in keys if g(k) < 0.1 * HASH_SPACE]
    assert len(sel) > 5000
    p0 = math.exp(-1.0)
    for r in range(4):
        us = [av(k, 7001 + r) / HASH_SPACE for k in sel]
        assert abs(sum(us) / len(us) - 0.5) < 0.02
        frac0 = sum(1 for u in us if u < p0) / len(us)
        assert abs(frac0 - p0) < 0.02


def test_pps_covers_and_tightens_vs_uniform(spark):
    """PPS must cover the exact SUM and yield a narrower CI than
    uniform sampling at the same expected sample size (it allocates
    inclusion probability where the variance lives)."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    p = QUERIES["approx_sum_pps10"](spark, sf).collect()[0]
    exact = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .agg(F.sum("l_extendedprice"))
        .collect()[0][0]
    )
    assert p["ci_lower"] <= exact <= p["ci_upper"]
    u = QUERIES["approx_sum_uniform10"](spark, sf).collect()[0]
    w_pps = p["ci_upper"] - p["ci_lower"]
    w_uni = u["ci_upper"] - u["ci_lower"]
    assert w_pps < w_uni, (w_pps, w_uni)
    # Comparable budget: expected n is f·N for both designs.
    assert 0.8 < p["n_samples"] / u["n_samples"] < 1.2


def test_pps_rejects_nonpositive_measure(spark):
    from approximatequeryengine_spark.plans.pps import pps_sum_ci

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    has_nonpos = events.filter(F.col("value") <= 0).count() > 0
    if not has_nonpos:
        events = events.withColumn(
            "value", F.when(F.col("event_id") % 100 == 0, -1.0).otherwise(F.col("value"))
        )
    import pytest

    with pytest.raises(ValueError, match="strictly positive"):
        pps_sum_ci(events, "value", "event_id", fraction=0.10)


def test_cluster_join_ci_covers_exact(spark):
    """Parent-sampled (cluster) fan-out join estimation: the CI over
    cluster totals must cover the exact child-table SUM."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    r = QUERIES["approx_cluster_join_sum"](spark, sf).collect()[0]
    exact = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .agg(F.sum("l_extendedprice"))
        .collect()[0][0]
    )
    assert r["ci_lower"] <= exact <= r["ci_upper"]
    assert abs(r["estimate"] - exact) / exact < 0.10
    assert r["n_clusters"] > 100


def test_grouped_bootstrap_ci_covers_per_group(spark):
    """Each group's bootstrap CI must cover that group's exact SUM."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    est = {
        r["l_returnflag"]: (r["ci_lower"], r["ci_upper"])
        for r in QUERIES["approx_grouped_sum_bootstrap32"](spark, sf).collect()
    }
    truth = {
        r["l_returnflag"]: r["s"]
        for r in spark.read.parquet(f"{sf}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("s"))
        .collect()
    }
    assert set(est) == set(truth) and len(est) >= 3
    covered = sum(1 for g, (lo, hi) in est.items() if lo <= truth[g] <= hi)
    assert covered == len(est), (covered, est, truth)


def test_hll_union_rollup_accuracy(spark):
    """Per-group HLL sketches unioned to a global estimate must land
    within 5% of the exact global distinct count (and NOT equal the
    sum of per-group distincts, which double-counts the overlap)."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = {r["level"]: r["est_distinct"] for r in QUERIES[
        "sketch_mergeable_rollup"
    ](spark, sf).collect()}
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    exact = li.select("l_partkey").distinct().count()
    est = rows["global_from_group_sketches"]
    assert abs(est - exact) / exact < 0.05, (est, exact)
    group_sum = sum(v for k, v in rows.items() if k.startswith("group_"))
    assert group_sum > 1.5 * exact  # overlap double-counted if summed


def test_pps_ci_coverage_over_salts(spark):
    """PPS CI coverage sweep: 100 independent salt draws in ONE job
    (salt fan-out, per-salt HT estimate + HT-variance margin); the 95%
    CI must cover the exact SUM for >= 88/100 draws (binomial slack)."""
    from approximatequeryengine_spark.functions.hashing import with_avalanche_u
    from approximatequeryengine_spark.plans.estimators import Z_95

    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    exact = li.agg(F.sum("l_extendedprice")).collect()[0][0]
    f = 0.10
    base = li.select(
        F.col("l_extendedprice").cast("double").alias("x"),
        F.expr("l_orderkey * 8 + l_linenumber").cast("long").alias("k"),
    )
    tot = base.agg(F.count(F.lit(1)).alias("N"), F.sum("x").alias("sx"))
    rep = base.select(
        "x", "k", F.explode(F.sequence(F.lit(0), F.lit(99))).alias("s")
    )
    hashed = with_avalanche_u(rep, F.col("k"), F.lit(211) + F.col("s") * 17)
    withp = hashed.crossJoin(F.broadcast(tot)).withColumn(
        "pi", F.least(F.lit(1.0), F.lit(f) * F.col("N") * F.col("x") / F.col("sx"))
    )
    agg = (
        withp.filter(F.col("__u") < F.col("pi"))
        .groupBy("s")
        .agg(
            F.sum(F.col("x") / F.col("pi")).alias("ht"),
            F.sum(
                F.col("x") * F.col("x") * (F.lit(1.0) - F.col("pi"))
                / (F.col("pi") * F.col("pi"))
            ).alias("vht"),
        )
        .select(
            "s",
            (F.col("ht") - F.lit(Z_95) * F.sqrt("vht")).alias("lo"),
            (F.col("ht") + F.lit(Z_95) * F.sqrt("vht")).alias("hi"),
        )
        .collect()
    )
    assert len(agg) == 100
    covered = sum(1 for r in agg if r["lo"] <= exact <= r["hi"])
    assert covered >= 88, f"coverage {covered}/100"


def test_ratio_ci_covers_true_rate(spark):
    """The delta-method ratio CI must cover each group's true discount
    rate SUM(price*disc)/SUM(price)."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    est = {
        r["l_returnflag"]: (r["ratio_est"], r["ci_lower"], r["ci_upper"])
        for r in QUERIES["approx_ratio_discount_rate"](spark, sf).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    truth = {
        r["l_returnflag"]: r["rate"]
        for r in li.groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.expr("l_extendedprice * l_discount"))
                / F.sum("l_extendedprice")
            ).alias("rate")
        )
        .collect()
    }
    assert set(est) == set(truth) and len(est) >= 3
    for g, (r, lo, hi) in est.items():
        assert lo <= truth[g] <= hi, (g, lo, truth[g], hi)
        assert abs(r - truth[g]) / truth[g] < 0.05


def test_multi_measure_block_cis_cover(spark):
    """Every measure in the one-pass Q1-style block must have its CI
    cover the corresponding exact per-group value."""
    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.01"
    est = {r["l_returnflag"]: r for r in QUERIES[
        "approx_q1_block_uniform10"
    ](spark, sf).collect()}
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    truth = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.expr("l_extendedprice * (1 - l_discount)")).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
        )
        .collect()
    }
    assert set(est) == set(truth) and len(est) >= 3
    for g, e in est.items():
        t = truth[g]
        for m in ("sum_qty", "sum_disc_price", "avg_qty"):
            assert e[f"{m}_lo"] <= t[m] <= e[f"{m}_hi"], (g, m, e[f"{m}_lo"], t[m], e[f"{m}_hi"])


# ---------------------------------------------------------------------------
# Round-3: portable HyperLogLog


def test_portable_hll_accuracy_across_cardinalities(spark):
    """m=64 → ~13% standard error; the avalanche-hash registers must
    land within 3σ of truth across three orders of magnitude (the
    cheaper portable_hash measurably does NOT — 2-10× bias)."""
    from approximatequeryengine_spark.plans.hll import portable_hll_rollup

    for n in (100, 2000, 50000):
        df = spark.range(1, n + 1).select(
            F.col("id").alias("k"), F.lit("g").alias("grp")
        )
        row = portable_hll_rollup(df, "k", "grp").collect()
        est = {r["level"]: r["est_distinct"] for r in row}
        assert est["group_g"] == est["merged_global"]
        assert abs(est["group_g"] / n - 1.0) < 0.4, (n, est)


def test_portable_hll_merge_equals_whole(spark):
    """Merge law: registers of two disjoint halves, merged by max,
    must equal the registers (and estimate) of the union."""
    from approximatequeryengine_spark.plans.hll import (
        hll_registers,
        portable_hll_rollup,
    )

    whole = spark.range(0, 10000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 5000, "lo").otherwise("hi").alias("grp"),
    )
    # Per-group registers merged by max == registers of the union.
    regs = hll_registers(whole, "k", "grp")
    merged = {
        (r["j"]): r["r"]
        for r in regs.groupBy("j").agg(F.max("r").alias("r")).collect()
    }
    union_regs = {
        (r["j"]): r["r"]
        for r in hll_registers(
            whole.withColumn("grp", F.lit("all")), "k", "grp"
        ).collect()
    }
    assert merged == union_regs
    # And the rollup's merged_global row reflects exactly that.
    rows = {r["level"]: r["est_distinct"]
            for r in portable_hll_rollup(whole, "k", "grp").collect()}
    assert rows["merged_global"] >= max(rows["group_lo"], rows["group_hi"])


def test_portable_hll_overlap_inclusion_exclusion(spark):
    """Known overlap: A = [0, 2000), B = [1000, 3000) → |A∩B| = 1000,
    |A∪B| = 3000. The sketch's inclusion-exclusion must land within the
    m=64 error contract (a few σ at 13% each, compounded 3×), and the
    union estimate must dominate both sides."""
    from approximatequeryengine_spark.plans.hll import portable_hll_overlap

    a = spark.range(0, 2000).select(F.lit("a").alias("side"), F.col("id").alias("k"))
    b = spark.range(1000, 3000).select(F.lit("b").alias("side"), F.col("id").alias("k"))
    rows = {r["level"]: r["est_distinct"]
            for r in portable_hll_overlap(a.unionByName(b)).collect()}
    assert abs(rows["side_a"] / 2000 - 1) < 0.4
    assert abs(rows["side_b"] / 2000 - 1) < 0.4
    assert abs(rows["union"] / 3000 - 1) < 0.4
    assert rows["union"] >= max(rows["side_a"], rows["side_b"])
    assert 200 < rows["intersection_est"] < 2200, rows


def test_cms_join_size_one_sided_bound(spark):
    """CMS inner-product join-size: never under exact, over by at most
    the e/width · |L|·|R| noise bound."""
    import math

    from approximatequeryengine_spark.plans.countmin import cms_join_size

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    row = cms_join_size(li, li, "l_partkey").collect()[0]
    n = li.count()
    assert row["cms_est"] >= row["exact_join_size"] > 0
    bound = math.e / row["width"] * n * n
    assert row["cms_est"] - row["exact_join_size"] <= bound, (dict(row.asDict()), bound)


def test_cms_join_size_disjoint_keys_is_small(spark):
    """Disjoint key ranges: the true join is empty; the estimate is
    pure collision noise, bounded by the same one-sided margin."""
    import math

    from approximatequeryengine_spark.plans.countmin import cms_join_size

    a = spark.range(0, 3000).selectExpr("id AS k")
    b = spark.range(100000, 103000).selectExpr("id AS k")
    row = cms_join_size(a, b, "k").collect()[0]
    assert row["exact_join_size"] == 0
    assert row["cms_est"] <= math.e / row["width"] * 3000 * 3000


def test_cms_join_size_zero_overlap_row_reaches_min(spark):
    """Review regression: a sketch row with NO coincident cells must
    contribute inner product 0 — tiny disjoint tables estimate exactly
    0, matching the exact join size."""
    from approximatequeryengine_spark.plans.countmin import cms_join_size

    a = spark.range(0, 10).selectExpr("id AS k")
    b = spark.range(1000, 1010).selectExpr("id AS k")
    row = cms_join_size(a, b, "k").collect()[0]
    assert row["exact_join_size"] == 0
    assert row["cms_est"] == 0, row


def test_portable_hll_non_integer_and_null_keys(spark):
    """Review regression: float keys must not truncate (silent 10x
    error), string keys must not crash under ANSI casts, and NULL keys
    are excluded like COUNT(DISTINCT)."""
    from approximatequeryengine_spark.plans.hll import portable_hll_rollup

    df = spark.range(0, 1000).select(
        (F.col("id") / 100.0).alias("f"),  # 1000 distinct floats in [0, 10)
        F.concat(F.lit("s"), (F.col("id") % 57).cast("string")).alias("s"),
        F.when(F.col("id") % 10 == 0, F.col("id")).alias("nullable_k"),
        F.lit("g").alias("grp"),
    )
    est_f = {r["level"]: r["est_distinct"]
             for r in portable_hll_rollup(df, "f", "grp").collect()}["group_g"]
    assert abs(est_f / 1000 - 1) < 0.4, est_f  # was ~0.01x under truncation
    est_s = {r["level"]: r["est_distinct"]
             for r in portable_hll_rollup(df, "s", "grp").collect()}["group_g"]
    assert abs(est_s / 57 - 1) < 0.5, est_s
    est_n = {r["level"]: r["est_distinct"]
             for r in portable_hll_rollup(df, "nullable_k", "grp").collect()}["group_g"]
    assert abs(est_n / 100 - 1) < 0.5, est_n  # 100 non-NULL distinct


def test_bootstrap_kernel_skips_nulls_like_sql(spark):
    """Regression (round-4 review): NULL measure values arrive in the
    Arrow kernel as NaN and must be SKIPPED like SQL aggregates skip
    NULLs (count(*) still counts the row) — not poison every
    accumulator into a NULL estimate."""
    from approximatequeryengine_spark.plans.bootstrap import bootstrap_sum_ci
    from approximatequeryengine_spark.plans.sampling import SamplingSpec

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    spec = SamplingSpec(design="uniform_hash", fraction=0.5, key="k")
    row = bootstrap_sum_ci(df, "v", spec).collect()[0]
    assert row["estimate"] is not None and row["estimate"] > 0
    # n_samples counts sampled ROWS (including NULL-x ones), the SQL
    # count(*) convention the oracle uses
    assert row["n_samples"] > 400
    assert row["ci_lower"] <= row["estimate"] <= row["ci_upper"]


def test_grouped_bootstrap_all_null_group_yields_null(spark, duck):
    """Regression (round-4 second review): a group whose every sampled
    value is NULL must produce a NULL estimate (SQL sum-over-no-values),
    not 0.0 — matching the unchanged DuckDB oracle semantics."""
    from approximatequeryengine_spark.plans.bootstrap import bootstrap_sum_ci
    from approximatequeryengine_spark.plans.sampling import SamplingSpec

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "allnull").otherwise("ok").alias("g"),
        F.when(F.col("id") % 2 == 0, None)
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    spec = SamplingSpec(design="uniform_hash", fraction=0.5, key="k")
    rows = {r["g"]: r for r in bootstrap_sum_ci(df, "v", spec, group_by="g").collect()}
    assert rows["allnull"]["estimate"] is None
    assert rows["allnull"]["ci_lower"] is None
    assert rows["allnull"]["n_samples"] > 0  # count(*) still counts rows
    assert rows["ok"]["estimate"] is not None and rows["ok"]["estimate"] > 0


def test_grouped_bootstrap_rows_equal_global_per_group(null_group_frame):
    """Each group's row of the grouped bootstrap, the NULL group
    included, equals the global estimator run on that group's rows
    alone (floats to 1e-9 relative: the replicate spread is folded in
    another order), and the DuckDB twin returns the same rows."""
    from approximatequeryengine_spark.plans.bootstrap import (
        bootstrap_sum_ci,
        bootstrap_sum_ci_sql,
    )
    from approximatequeryengine_spark.plans.sampling import SamplingSpec
    from tests.conftest import assert_df_matches_sql, duck_of

    df = null_group_frame
    spec = SamplingSpec(design="uniform_hash", fraction=0.5, key="k")
    out = bootstrap_sum_ci(df, "v", spec, group_by="g")
    rows = out.collect()
    assert {r["g"] for r in rows} == {"0", "1", None}
    for row in rows:
        alone = bootstrap_sum_ci(
            df.filter(F.col("g").eqNullSafe(F.lit(row["g"]))), "v", spec
        ).collect()[0]
        assert alone.asDict() == pytest.approx({k: row[k] for k in alone.asDict()}, rel=1e-9)
    assert_df_matches_sql(
        out, duck_of(t=df), bootstrap_sum_ci_sql("t", "v", spec, group_by="g")
    )


# ---------------------------------------------------------------------------
# KMV bottom-k distinct sketch
# ---------------------------------------------------------------------------


def test_kmv_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.distinct import (
        kmv_distinct_ci,
        kmv_distinct_ci_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        kmv_distinct_ci(engine_med.catalog.table("lineitem"), "l_partkey", k=256),
        duck_med,
        kmv_distinct_ci_sql("lineitem", "l_partkey", k=256),
    )


def test_kmv_estimate_covers_exact(engine_med, duck_med):
    """k=256 on 2000 true distincts: measured est 2008 (0.4% error);
    the 1/√(k−2) CI must cover, and the estimate must sit within 15%."""
    from approximatequeryengine_spark.plans.distinct import kmv_distinct_ci

    row = kmv_distinct_ci(
        engine_med.catalog.table("lineitem"), "l_partkey", k=256
    ).collect()[0]
    exact = duck_med.execute(
        "SELECT count(DISTINCT l_partkey) FROM lineitem"
    ).fetchone()[0]
    assert row["ci_lower"] <= exact <= row["ci_upper"]
    assert abs(row["est_distinct"] - exact) / exact < 0.15


def test_kmv_degenerates_to_exact_below_k(spark):
    """Fewer distinct keys than k → the sketch IS the distinct set:
    exact count, zero-width CI."""
    from approximatequeryengine_spark.plans.distinct import kmv_distinct_ci

    df = spark.range(0, 500).select((F.col("id") % 37).alias("v"))
    row = kmv_distinct_ci(df, "v", k=256).collect()[0]
    assert row["est_distinct"] == 37
    assert row["ci_lower"] == row["ci_upper"] == 37
    assert row["k_used"] == 37


def test_kmv_merge_law(spark, engine_med):
    """Mergeability: the k smallest hashes of the full table equal the
    k smallest of the UNION of two disjoint halves' bottom-k sketches —
    so per-partition/per-day sketches roll up losslessly."""
    from approximatequeryengine_spark.functions.hashing import (
        portable_hash_col,
        with_avalanche_h,
    )

    k = 64
    li = engine_med.catalog.table("lineitem")

    def bottom(df):
        hashed = with_avalanche_h(
            df.filter(F.col("l_partkey").isNotNull()).select("l_partkey"),
            portable_hash_col(F.col("l_partkey")),
            F.lit(0),
            h_col="__h",
        )
        return hashed.select("__h").distinct().orderBy("__h").limit(k)

    half_a = li.filter(F.col("l_orderkey") % 2 == 0)
    half_b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged = (
        bottom(half_a).unionByName(bottom(half_b))
        .distinct().orderBy("__h").limit(k)
    )
    whole = bottom(li)
    assert [r["__h"] for r in merged.collect()] == [r["__h"] for r in whole.collect()]


# ---------------------------------------------------------------------------
# Haar-wavelet synopsis
# ---------------------------------------------------------------------------


def test_wavelet_matches_oracle(spark, engine_med, duck_med):
    from approximatequeryengine_spark.plans.wavelet import (
        wavelet_range_counts,
        wavelet_range_counts_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        wavelet_range_counts(
            spark, engine_med.catalog.table("lineitem"), "l_extendedprice"
        ),
        duck_med,
        wavelet_range_counts_sql("lineitem", "l_extendedprice"),
    )


def test_wavelet_full_coefficients_exact(spark, engine_med, duck_med):
    """With ALL 63 coefficients kept the error tree reconstructs the
    histogram exactly — every prefix estimate equals the true
    selectivity (the dyadic arithmetic is exact end-to-end, so the
    comparison is equality to float tolerance, not approximation)."""
    from approximatequeryengine_spark.plans.wavelet import (
        BUCKET_WIDTH,
        wavelet_range_counts,
    )

    got = {
        r["cutoff_bucket"]: r["est_count"]
        for r in wavelet_range_counts(
            spark, engine_med.catalog.table("lineitem"), "l_extendedprice", b=63
        ).collect()
    }
    for t, est in got.items():
        exact = duck_med.execute(
            f"SELECT count(*) FROM lineitem WHERE "
            f"least(CAST(floor(l_extendedprice / {float(BUCKET_WIDTH)!r}) AS BIGINT), 63) < {t}"
        ).fetchone()[0]
        assert est == pytest.approx(exact, abs=1e-6), t


def test_wavelet_b8_accuracy(spark, engine_med, duck_med):
    """The 8-term synopsis (of 63 coefficients) must estimate every
    prefix selectivity within 5% of truth on the fixture (measured max
    3.7%) — the compression-vs-accuracy contract."""
    from approximatequeryengine_spark.plans.wavelet import (
        BUCKET_WIDTH,
        wavelet_range_counts,
    )

    got = {
        r["cutoff_bucket"]: r["est_count"]
        for r in wavelet_range_counts(
            spark, engine_med.catalog.table("lineitem"), "l_extendedprice", b=8
        ).collect()
    }
    for t, est in got.items():
        exact = duck_med.execute(
            f"SELECT count(*) FROM lineitem WHERE "
            f"least(CAST(floor(l_extendedprice / {float(BUCKET_WIDTH)!r}) AS BIGINT), 63) < {t}"
        ).fetchone()[0]
        assert abs(est - exact) / max(exact, 1) < 0.05, (t, est, exact)


# ---------------------------------------------------------------------------
# DDSketch relative-error quantiles
# ---------------------------------------------------------------------------


def test_ddsketch_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.ddsketch import (
        ddsketch_quantiles,
        ddsketch_quantiles_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        ddsketch_quantiles(
            engine_med.catalog.table("lineitem"), "l_extendedprice", alpha=0.01
        ),
        duck_med,
        ddsketch_quantiles_sql("lineitem", "l_extendedprice", alpha=0.01),
    )


def test_ddsketch_relative_error_guarantee(engine_med, duck_med):
    """The paper's Theorem 1: the readout is within relative error α of
    the rank-⌊q(n−1)⌋+1 item's TRUE value, for every q — a guaranteed
    bound, checked here against the exact order statistic."""
    from approximatequeryengine_spark.plans.ddsketch import ddsketch_quantiles

    alpha = 0.01
    rows = ddsketch_quantiles(
        engine_med.catalog.table("lineitem"), "l_extendedprice", alpha=alpha
    ).collect()
    n = rows[0]["n"]
    for r in rows:
        rank = int(r["q"] * (n - 1)) + 1
        exact = duck_med.execute(
            "SELECT x FROM (SELECT l_extendedprice AS x, "
            "row_number() OVER (ORDER BY l_extendedprice) AS rn "
            "FROM lineitem WHERE l_extendedprice > 0) WHERE rn = ?",
            [rank],
        ).fetchone()[0]
        assert abs(r["est_q"] - exact) / exact <= alpha + 1e-9, (r["q"], r["est_q"], exact)


def test_ddsketch_merge_law(spark, engine_med):
    """Exact mergeability: bucket counts of the full table == bucket-wise
    sum of two disjoint halves' sketches (no approximation in the merge,
    unlike sampling-based synopses)."""
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.plans.ddsketch import ddsketch_buckets

    li = engine_med.catalog.table("lineitem")
    full = {
        r["b"]: r["c"]
        for r in ddsketch_buckets(li, "l_extendedprice").collect()
    }
    lo = ddsketch_buckets(li.filter(F.col("l_orderkey") % 2 == 0), "l_extendedprice")
    hi = ddsketch_buckets(li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice")
    merged: dict = {}
    for r in lo.collect() + hi.collect():
        merged[r["b"]] = merged.get(r["b"], 0) + r["c"]
    assert merged == full


def test_ddsketch_rejects_bad_alpha(spark):
    import pytest as _pytest

    from approximatequeryengine_spark.plans.ddsketch import ddsketch_quantiles

    with _pytest.raises(ValueError):
        ddsketch_quantiles(spark.range(1), "id", alpha=1.5)


# ---------------------------------------------------------------------------
# Priority sampling (Duffield-Lund-Thorup subset sums)
# ---------------------------------------------------------------------------


def test_priority_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.priority import (
        priority_sample_subset_sum,
        priority_sample_subset_sum_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        priority_sample_subset_sum(
            engine_med.catalog.table("orders"),
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"),
            F.col("o_orderpriority") == "1-URGENT",
            k=2048,
        ),
        duck_med,
        priority_sample_subset_sum_sql(
            "orders",
            "o_orderkey",
            "floor(o_totalprice * 100.0 + 0.5)",
            "o_orderpriority = '1-URGENT'",
            k=2048,
        ),
    )


def test_priority_exact_when_k_covers_universe(spark):
    """N ≤ k → every item sampled, τ = 0, the estimator IS the exact
    subset sum (DLT degenerate case)."""
    from approximatequeryengine_spark.plans.priority import priority_sample_subset_sum

    df = spark.range(0, 500).select(
        F.col("id").alias("k"), ((F.col("id") % 7) * 100 + 100).alias("w")
    )
    row = priority_sample_subset_sum(
        df, "k", F.col("w"), F.col("k") % 3 == 0, k=1000
    ).collect()[0]
    exact = df.filter(F.col("k") % 3 == 0).agg(F.sum("w")).collect()[0][0]
    assert row["tau_cents"] == 0
    assert row["n_sample"] == 500
    assert row["est_sum"] == exact / 100.0


def test_priority_single_sample_accuracy(engine_med, duck_med):
    """k=2048 of 15 000 orders, 1-URGENT subset (~20% of mass):
    measured 0.12% realized error at salt 0; pin a 10× slack bound."""
    from approximatequeryengine_spark.plans.priority import priority_sample_subset_sum

    orders = engine_med.catalog.table("orders")
    row = priority_sample_subset_sum(
        orders,
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"),
        F.col("o_orderpriority") == "1-URGENT",
        k=2048,
    ).collect()[0]
    exact = duck_med.execute(
        "SELECT sum(o_totalprice) FROM orders WHERE o_orderpriority = '1-URGENT'"
    ).fetchone()[0]
    assert abs(row["est_sum"] - exact) / exact < 0.10


def test_priority_unbiased_over_salt_replays(engine_med, duck_med):
    """Mean of 12 independent-salt estimates within 2.5% of the exact
    subset sum (measured 0.9%) — the unbiasedness signature; single
    replicates ranged to 5.5%."""
    from approximatequeryengine_spark.plans.priority import priority_sample_subset_sum

    orders = engine_med.catalog.table("orders")
    exact = duck_med.execute(
        "SELECT sum(o_totalprice) FROM orders WHERE o_orderpriority = '1-URGENT'"
    ).fetchone()[0]
    ests = [
        priority_sample_subset_sum(
            orders,
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"),
            F.col("o_orderpriority") == "1-URGENT",
            k=2048,
            salt=s,
        ).collect()[0]["est_sum"]
        for s in range(12)
    ]
    assert abs(sum(ests) / len(ests) - exact) / exact < 0.025


# ---------------------------------------------------------------------------
# KMV/theta set operations
# ---------------------------------------------------------------------------


def test_kmv_set_ops_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.distinct import (
        kmv_set_ops,
        kmv_set_ops_sql,
    )
    from tests.conftest import assert_df_matches_sql

    li = engine_med.catalog.table("lineitem")
    assert_df_matches_sql(
        kmv_set_ops(
            li.filter(F.col("l_quantity") < 3),
            li.filter(F.col("l_quantity") > 48),
            "l_partkey",
            k=256,
        ),
        duck_med,
        kmv_set_ops_sql(
            "(SELECT * FROM lineitem WHERE l_quantity < 3)",
            "(SELECT * FROM lineitem WHERE l_quantity > 48)",
            "l_partkey",
            k=256,
        ),
    )


def test_kmv_set_ops_accuracy(engine_med, duck_med):
    """Partial-overlap slices (exact: ∩=938, ∪=1810, J=0.518):
    k=256 direct estimates must land within 3/√k ≈ 19% for the sizes
    and ±0.10 absolute for Jaccard."""
    from approximatequeryengine_spark.plans.distinct import kmv_set_ops

    li = engine_med.catalog.table("lineitem")
    row = kmv_set_ops(
        li.filter(F.col("l_quantity") < 3),
        li.filter(F.col("l_quantity") > 48),
        "l_partkey",
        k=256,
    ).collect()[0]
    ex_i, ex_u = duck_med.execute(
        "SELECT (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem "
        "WHERE l_quantity < 3 INTERSECT SELECT DISTINCT l_partkey FROM lineitem "
        "WHERE l_quantity > 48)), "
        "(SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem "
        "WHERE l_quantity < 3 UNION SELECT DISTINCT l_partkey FROM lineitem "
        "WHERE l_quantity > 48))"
    ).fetchone()
    assert abs(row["est_intersect"] - ex_i) / ex_i < 0.19
    assert abs(row["est_union"] - ex_u) / ex_u < 0.19
    assert abs(row["jaccard"] - ex_i / ex_u) < 0.10


def test_kmv_set_ops_exact_mode(spark):
    """Both sides below k: θ = 2³² and every estimate is the exact
    count (the 2³²/θ scale is exactly 1)."""
    from approximatequeryengine_spark.plans.distinct import kmv_set_ops

    a = spark.range(0, 100).select(F.col("id").alias("v"))
    b = spark.range(50, 150).select(F.col("id").alias("v"))
    row = kmv_set_ops(a, b, "v", k=256).collect()[0]
    assert row["est_intersect"] == 50
    assert row["est_union"] == 150
    assert row["jaccard"] == round(50 / 150, 6)


def test_ddsketch_grouped_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.ddsketch import (
        ddsketch_grouped_quantiles,
        ddsketch_grouped_quantiles_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        ddsketch_grouped_quantiles(
            engine_med.catalog.table("lineitem"), "l_extendedprice", "l_returnflag"
        ),
        duck_med,
        ddsketch_grouped_quantiles_sql("lineitem", "l_extendedprice", "l_returnflag"),
    )


def test_ddsketch_grouped_alpha_guarantee_per_group(engine_med, duck_med):
    """The α bound holds within every group (bucketing is
    group-independent)."""
    from approximatequeryengine_spark.plans.ddsketch import ddsketch_grouped_quantiles

    alpha = 0.01
    rows = ddsketch_grouped_quantiles(
        engine_med.catalog.table("lineitem"), "l_extendedprice", "l_returnflag",
        alpha=alpha,
    ).collect()
    for r in rows:
        rank = int(r["q"] * (r["n"] - 1)) + 1
        exact = duck_med.execute(
            "SELECT x FROM (SELECT l_extendedprice AS x, "
            "row_number() OVER (ORDER BY l_extendedprice) AS rn "
            "FROM lineitem WHERE l_extendedprice > 0 AND l_returnflag = ?) "
            "WHERE rn = ?",
            [r["l_returnflag"], rank],
        ).fetchone()[0]
        assert abs(r["est_q"] - exact) / exact <= alpha + 1e-9


# ---------------------------------------------------------------------------
# BlinkDB-style persisted stratified synopsis
# ---------------------------------------------------------------------------


def test_synopsis_matches_oracle(spark, engine_med, duck_med, tmp_path):
    from approximatequeryengine_spark.plans.synopsis import (
        synopsis_build,
        synopsis_stratified_sum,
        synopsis_stratified_sum_sql,
    )
    from tests.conftest import assert_df_matches_sql

    path = str(tmp_path / "syn")
    synopsis_build(
        spark,
        engine_med.catalog.table("orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ),
        path,
        stratum="o_orderpriority",
        key="o_orderkey",
        cap=2048,
    )
    assert_df_matches_sql(
        synopsis_stratified_sum(
            spark, path, "o_orderpriority",
            "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
        ),
        duck_med,
        synopsis_stratified_sum_sql(
            "orders", "o_orderpriority", "o_orderkey",
            "floor(o_totalprice * 100.0 + 0.5)", cap=2048,
        ),
    )


def test_synopsis_ci_covers_and_prunes(spark, engine_med, duck_med, tmp_path):
    """Capped strata: n_sample < n_total, every estimate within 2%
    of its exact per-stratum sum (measured deviations 0.1–1.4% at
    margins ≈1.4%), and ≥4 of the 5 independent 95% CIs cover — with
    5 strata one ~2-SE miss is a ~20% event, observed at build time
    (4-NOT SPECIFIED: dev 1.42% vs margin 1.37%)."""
    from approximatequeryengine_spark.plans.synopsis import (
        synopsis_build,
        synopsis_stratified_sum,
    )

    path = str(tmp_path / "syn")
    synopsis_build(
        spark,
        engine_med.catalog.table("orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ),
        path, "o_orderpriority", "o_orderkey", cap=2048,
    )
    rows = synopsis_stratified_sum(
        spark, path, "o_orderpriority",
        "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
    ).collect()
    exact = dict(
        duck_med.execute(
            "SELECT o_orderpriority, round(sum(floor(o_totalprice * 100.0 + 0.5)) "
            "/ 100.0, 2) FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert len(rows) == 5
    covered = 0
    for r in rows:
        assert r["n_sample"] < r["n_total"]
        ex = exact[r["o_orderpriority"]]
        assert abs(r["est_sum"] - ex) / ex < 0.02
        covered += r["ci_lower"] <= ex <= r["ci_upper"]
    assert covered >= 4


def test_synopsis_rare_strata_exact(spark, engine, duck, tmp_path):
    """The BlinkDB rare-stratum guarantee: strata below the cap are
    kept in full — answers EXACT, margin 0 (sf0.001: 300-row strata
    vs cap 2048)."""
    from approximatequeryengine_spark.plans.synopsis import (
        synopsis_build,
        synopsis_stratified_sum,
    )

    path = str(tmp_path / "syn")
    synopsis_build(
        spark,
        engine.catalog.table("orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ),
        path, "o_orderpriority", "o_orderkey", cap=2048,
    )
    rows = synopsis_stratified_sum(
        spark, path, "o_orderpriority",
        "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
    ).collect()
    exact = dict(
        duck.execute(
            "SELECT o_orderpriority, round(sum(floor(o_totalprice * 100.0 + 0.5)) "
            "/ 100.0, 2) FROM orders GROUP BY 1"
        ).fetchall()
    )
    for r in rows:
        assert r["n_sample"] == r["n_total"]
        assert r["est_sum"] == exact[r["o_orderpriority"]]
        assert r["ci_lower"] == r["est_sum"] == r["ci_upper"]


# ---------------------------------------------------------------------------
# 2-D histogram correlated selectivity + KMV distinct-value sampling
# ---------------------------------------------------------------------------


def test_hist2d_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.histogram2d import (
        hist2d_rect_selectivity,
        hist2d_rect_selectivity_sql,
    )
    from tests.conftest import assert_df_matches_sql

    docs = engine_med.catalog.table("documents")
    assert_df_matches_sql(
        hist2d_rect_selectivity(
            docs, F.col("n_chars"), F.size(F.split(F.col("text"), " ")),
            x_hi=300.0, y_lo=80.0,
        ),
        duck_med,
        hist2d_rect_selectivity_sql(
            "documents", "n_chars", "len(string_split(text, ' '))",
            x_hi=300.0, y_lo=80.0,
        ),
    )


def test_hist2d_beats_independence_on_correlated_columns(engine_med):
    """n_chars vs token count (corr 0.998): exact = 0, the joint
    histogram must stay near zero while independence predicts ~10% of
    the 500-doc corpus — the joint estimate's error must be at least
    10× smaller."""
    from approximatequeryengine_spark.plans.histogram2d import hist2d_rect_selectivity

    row = hist2d_rect_selectivity(
        engine_med.catalog.table("documents"),
        F.col("n_chars"), F.size(F.split(F.col("text"), " ")),
        x_hi=300.0, y_lo=80.0,
    ).collect()[0]
    assert row["exact_rows"] == 0
    err_2d = abs(row["est_2d"] - row["exact_rows"])
    err_indep = abs(row["est_indep"] - row["exact_rows"])
    assert err_indep > 20
    assert err_2d * 10 < err_indep


def test_hist2d_rejects_degenerate_range(spark):
    import pytest as _pytest

    from approximatequeryengine_spark.plans.histogram2d import hist2d_rect_selectivity

    df = spark.range(10).select(F.lit(1.0).alias("x"), F.col("id").cast("double").alias("y"))
    with _pytest.raises(ValueError):
        hist2d_rect_selectivity(df, F.col("x"), F.col("y"), 1.0, 1.0)


def test_kmv_distinct_where_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.distinct import (
        kmv_distinct_where,
        kmv_distinct_where_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        kmv_distinct_where(
            engine_med.catalog.table("lineitem"), "l_partkey",
            engine_med.catalog.table("part"), "p_partkey",
            F.col("p_retailprice") > 970.0, k=256,
        ),
        duck_med,
        kmv_distinct_where_sql(
            "lineitem", "l_partkey", "part", "p_partkey",
            "p_retailprice > 970.0", k=256,
        ),
    )


def test_kmv_distinct_where_accuracy(engine_med, duck_med):
    """k=256 distinct-value sample of ~2000 parts: the predicate-
    restricted distinct estimate must land within 25% of the exact
    count (binomial fraction SE ≈ 1/√256 ≈ 6% of the sketch plus the
    D̂ error)."""
    from approximatequeryengine_spark.plans.distinct import kmv_distinct_where

    row = kmv_distinct_where(
        engine_med.catalog.table("lineitem"), "l_partkey",
        engine_med.catalog.table("part"), "p_partkey",
        F.col("p_retailprice") > 970.0, k=256,
    ).collect()[0]
    exact = duck_med.execute(
        "SELECT count(DISTINCT l_partkey) FROM lineitem JOIN part "
        "ON l_partkey = p_partkey WHERE p_retailprice > 970.0"
    ).fetchone()[0]
    assert abs(row["est_distinct_where"] - exact) / exact < 0.25


# ---------------------------------------------------------------------------
# Data-driven method advisor
# ---------------------------------------------------------------------------


def test_advisor_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.advisor import (
        advise_method,
        advise_method_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        advise_method(
            engine_med.catalog.table("events"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("long"),
        ),
        duck_med,
        advise_method_sql("events", "floor(value * 100.0 + 0.5)"),
    )


def test_advisor_picks_outlier_on_heavy_tail(spark):
    """50 giant rows over a flat body → top-100 share ≫ 20% →
    'outlier', the design whose CI the tail cannot blow up."""
    from approximatequeryengine_spark.plans.advisor import advise_method

    body = spark.range(0, 5000).select((F.col("id") % 100 + 100).alias("v"))
    tail = spark.range(0, 50).select((F.lit(1_000_000) + F.col("id")).alias("v"))
    row = advise_method(body.unionByName(tail), F.col("v")).collect()[0]
    assert row["top_share"] > 0.5
    assert row["recommended_method"] == "outlier"


def test_advisor_picks_clt_on_flat_data(spark):
    """Near-constant values: tiny cv², tiny top share → plain CLT."""
    from approximatequeryengine_spark.plans.advisor import advise_method

    df = spark.range(0, 5000).select((F.col("id") % 7 + 1000).alias("v"))
    row = advise_method(df, F.col("v")).collect()[0]
    assert row["cv2"] < 0.01
    assert row["recommended_method"] == "clt"


def test_advisor_big_n_prefers_stride(spark):
    """Flat distribution but > 100k rows → 'revolutionary' (stride
    scan, the F3 parity branch)."""
    from approximatequeryengine_spark.plans.advisor import advise_method

    df = spark.range(0, 150_000).select((F.col("id") % 7 + 1000).alias("v"))
    row = advise_method(df, F.col("v")).collect()[0]
    assert row["recommended_method"] == "revolutionary"


def test_advisor_sums_outgrow_bigint_without_overflow(spark):
    """Centered second moments past 2^63 (here ~8e21) must neither raise
    ARITHMETIC_OVERFLOW nor wrap: the evidence matches the oracle."""
    import duckdb
    import pandas as pd

    from approximatequeryengine_spark.plans.advisor import (
        advise_method,
        advise_method_sql,
    )
    from tests.conftest import assert_df_matches_sql

    vals = [(i % 2) * 4_000_000_000 + i for i in range(2000)]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"v": vals}))
    assert_df_matches_sql(
        advise_method(spark.createDataFrame([(v,) for v in vals], "v long"), F.col("v")),
        con,
        advise_method_sql("t", "v"),
    )


SF_DIR_LARGE = os.environ.get(
    "AQE_TEST_SF_DIR_LARGE", os.path.join(os.path.dirname(SF_DIR), "sf0.1")
)


@pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR_LARGE, "orders.parquet")),
    reason="needs the sf0.1 fixtures",
)
def test_advisor_auto_sum_on_orders_at_sf01(spark):
    """method='auto' on SUM(o_totalprice) at sf0.1: Σ(x−c)² over the
    cents is 3.1e19, past BIGINT — the query used to raise
    ARITHMETIC_OVERFLOW. The evidence must equal the oracle's row."""
    from approximatequeryengine_spark import AQEngine
    from approximatequeryengine_spark.plans.advisor import advise_method_sql
    from tests.conftest import _duck

    res = AQEngine(spark, SF_DIR_LARGE).run(
        "SELECT APPROX(SUM(o_totalprice)) FROM orders", method="auto"
    )
    ev = res.groups["__advisor__"]
    cur = _duck(SF_DIR_LARGE).execute(
        advise_method_sql("orders", "floor(o_totalprice * 100.0 + 0.5)")
    )
    want = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    assert ev == want
    assert res.value is not None


def test_twostage_ci_coverage_over_salts(spark):
    """Two-stage cluster sampling (plans/twostage.py) coverage sweep:
    100 independent (psu_salt, row_salt) draws in ONE job, mirroring
    the estimator's exact arithmetic; the 95% CI must cover the exact
    SUM for >= 88/100 draws (binomial slack)."""
    from approximatequeryengine_spark.functions.hashing import (
        fraction_threshold,
        portable_hash_col,
    )
    from approximatequeryengine_spark.plans.estimators import Z_95
    from approximatequeryengine_spark.plans.twostage import (
        TS_BLOCK,
        TS_F1,
        TS_F2,
        _EST_MULT,
        _V_QQ,
        _V_SS2,
    )

    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    exact = li.agg((F.sum(cents) / 100.0).alias("e")).collect()[0]["e"]
    k = F.expr("l_orderkey * 8 + l_linenumber").cast("long")
    rep = li.select(
        k.alias("k"),
        F.floor(k / F.lit(TS_BLOCK)).cast("long").alias("b"),
        cents.alias("x"),
        F.explode(F.sequence(F.lit(0), F.lit(99))).alias("s"),
    )
    salt1 = F.lit(1000) + F.col("s") * 31
    salt2 = F.lit(5000) + F.col("s") * 37
    sampled = rep.filter(
        (portable_hash_col(F.col("b"), salt1) < F.lit(fraction_threshold(TS_F1)))
        & (portable_hash_col(F.col("k"), salt2) < F.lit(fraction_threshold(TS_F2)))
    )
    per_psu = sampled.groupBy("s", "b").agg(
        F.sum("x").cast("double").alias("si"),
        F.sum(F.col("x").cast("double") * F.col("x")).alias("qi"),
    )
    agg = (
        per_psu.groupBy("s")
        .agg(
            F.sum("si").alias("ss"),
            F.sum(F.col("si") * F.col("si")).alias("ss2"),
            F.sum("qi").alias("qq"),
        )
        .select(
            "s",
            (F.col("ss") * _EST_MULT / 100.0).alias("est"),
            (
                F.lit(Z_95)
                * F.sqrt((F.col("ss2") * _V_SS2 + F.col("qq") * _V_QQ) / 10000.0)
            ).alias("margin"),
        )
        .collect()
    )
    assert len(agg) == 100
    covered = sum(
        1 for r in agg if r["est"] - r["margin"] <= exact <= r["est"] + r["margin"]
    )
    assert covered >= 88, f"two-stage coverage {covered}/100"


def test_twostage_empty_input_returns_zero(spark):
    from approximatequeryengine_spark.plans.twostage import twostage_sum_ci

    empty = spark.createDataFrame([], "k long, v double")
    row = twostage_sum_ci(empty, "k", F.col("v")).collect()[0]
    assert row["sum_value"] == 0.0 and row["n_psus"] == 0 and row["n_rows"] == 0
    assert row["ci_lower"] == 0.0 and row["ci_upper"] == 0.0


def test_twostage_grouped_partition_of_global(spark):
    """Grouped two-stage (round 8): the per-group block partials
    PARTITION the global ones — Σ_groups τ̂_q == τ̂ exactly (both are
    8·Σ sampled cents, integer arithmetic), per-group CIs cover each
    group's exact total on the fixture's deterministic sample, and a
    group absent from the sample surfaces n_psus = 0 rather than
    vanishing."""
    from approximatequeryengine_spark.plans.twostage import twostage_sum_ci

    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
    key = "l_orderkey * 8 + l_linenumber"
    g = twostage_sum_ci(li, key, cents, group_by="l_returnflag").collect()
    total = twostage_sum_ci(li, key, cents).collect()[0]
    assert {r["l_returnflag"] for r in g} == {"A", "N", "R"}
    # exact partition: integer cents, no float fold — equality holds
    # to the 2-decimal rounding of each readout
    assert abs(sum(r["sum_value"] for r in g) - total["sum_value"]) < 0.05
    assert sum(r["n_rows"] for r in g) == total["n_rows"]
    exact = {
        r["l_returnflag"]: r["e"]
        for r in li.groupBy("l_returnflag")
        .agg((F.sum(cents) / 100.0).alias("e"))
        .collect()
    }
    for r in g:
        assert r["ci_lower"] <= exact[r["l_returnflag"]] <= r["ci_upper"]
        assert r["n_psus"] >= 2
    # missing-group accounting: a population-only group keeps its row
    extra = li.withColumn(
        "gg",
        F.when(F.col("l_orderkey") == -1, F.lit("never")).otherwise(
            F.col("l_returnflag")
        ),
    )
    one = spark.createDataFrame(
        [(-1, 1, 0.0, "never")],
        "l_orderkey long, l_linenumber long, l_extendedprice double, gg string",
    )
    # -1*8+1 = -7 → block -1; hash may or may not sample it, but with
    # ONE row the group is overwhelmingly likely absent at f1·f2 = 1/8;
    # assert only the contract: the group row EXISTS with n_psus >= 0.
    both = extra.select("l_orderkey", "l_linenumber", "l_extendedprice", "gg").unionByName(one)
    rows = {
        r["gg"]: r
        for r in twostage_sum_ci(
            both, "l_orderkey * 8 + l_linenumber", cents, group_by="gg"
        ).collect()
    }
    assert "never" in rows and rows["never"]["n_psus"] in (0, 1)
    if rows["never"]["n_psus"] == 0:
        assert rows["never"]["sum_value"] == 0.0
        assert rows["never"]["ci_lower"] == 0.0 == rows["never"]["ci_upper"]


def test_quantile_advisor_four_branches(spark):
    """The bakeoff-calibrated quantile advisor: small n → 'exact'
    WITHOUT paying the sampled pass (sample_rel_ci is None); big n
    with a CI inside tolerance → 'quantile'; big n, CI too wide,
    all-positive → 'ddsketch'; big n, CI too wide, zeros present →
    'exact' (DDSketch's x>0 domain must never see that data).
    Branches forced via n_exact/tolerance."""
    from approximatequeryengine_spark.plans.advisor import advise_quantile_method
    from approximatequeryengine_spark.plans.sampling import SamplingSpec

    df = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") % 997 + 100.0).alias("v")
    )
    spec = SamplingSpec(design="uniform_hash", fraction=0.10, key="k")

    small = advise_quantile_method(df, "v", 0.5, spec, n_exact=50_000).collect()[0]
    assert small["recommended_method"] == "exact" and small["n"] == 20_000
    assert small["sample_rel_ci"] is None  # short-circuited, no sampled job

    sampled = advise_quantile_method(
        df, "v", 0.5, spec, n_exact=1_000, tolerance=0.5
    ).collect()[0]
    assert sampled["recommended_method"] == "quantile"
    assert 0.0 <= sampled["sample_rel_ci"] <= 0.5

    sketchy = advise_quantile_method(
        df, "v", 0.5, spec, n_exact=1_000, tolerance=1e-9
    ).collect()[0]
    assert sketchy["recommended_method"] == "ddsketch"
    assert sketchy["positive_only"] is True

    with_zeros = df.withColumn("v", F.col("v") - 100.0)  # min becomes 0
    zr = advise_quantile_method(
        with_zeros, "v", 0.5, spec, n_exact=1_000, tolerance=1e-9
    ).collect()[0]
    assert zr["positive_only"] is False
    assert zr["recommended_method"] == "exact"  # never ddsketch off-domain


def test_engine_auto_routes_quantile_through_advisor(engine):
    """method='auto' on MEDIAN/PERCENTILE consults the quantile
    advisor: the evidence row surfaces in groups['__advisor__'], the
    chosen path executes, and explain_auto reports source='advisor'
    without running the query."""
    res = engine.run(
        "SELECT APPROX(MEDIAN(l_extendedprice)) FROM lineitem", method="auto"
    )
    ev = res.groups["__advisor__"]
    assert ev["recommended_method"] in ("exact", "quantile", "ddsketch")
    # sf0.001 has 6k rows → the exact branch, which must return the
    # true median
    assert ev["recommended_method"] == "exact"
    assert res.method == "exact" and res.value is not None

    info = engine.explain_auto(
        "SELECT APPROX(PERCENTILE(l_extendedprice, 0.95)) FROM lineitem"
    )
    assert info["source"] == "advisor"
    assert info["evidence"]["q"] == 0.95


def test_priority_grouped_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.priority import (
        priority_grouped_sum,
        priority_grouped_sum_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        priority_grouped_sum(
            engine_med.catalog.table("orders"),
            "o_orderkey", "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"),
            k=512,
        ),
        duck_med,
        priority_grouped_sum_sql(
            "orders", "o_orderkey", "o_orderpriority",
            "floor(o_totalprice * 100.0 + 0.5)", k=512,
        ),
    )


def test_priority_grouped_accuracy(engine_med, duck_med):
    """k=512 per ~3000-row group: every group estimate within 8% of
    its exact sum (measured ≤3%)."""
    from approximatequeryengine_spark.plans.priority import priority_grouped_sum

    rows = priority_grouped_sum(
        engine_med.catalog.table("orders"),
        "o_orderkey", "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"),
        k=512,
    ).collect()
    exact = dict(
        duck_med.execute(
            "SELECT o_orderpriority, sum(o_totalprice) FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert len(rows) == 5
    for r in rows:
        ex = exact[r["o_orderpriority"]]
        assert abs(r["est_sum"] - ex) / ex < 0.08
        assert r["n_sample"] == 512


# ---------------------------------------------------------------------------
# One-pass error-latency profile
# ---------------------------------------------------------------------------


def test_elp_matches_oracle(engine_med, duck_med):
    from approximatequeryengine_spark.plans.elp import (
        elp_fraction_sweep,
        elp_fraction_sweep_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        elp_fraction_sweep(
            engine_med.catalog.table("lineitem"),
            "l_orderkey * 8 + l_linenumber",
            F.floor(F.col("l_extendedprice") * 100.0 + 0.5),
        ),
        duck_med,
        elp_fraction_sweep_sql(
            "lineitem",
            "l_orderkey * 8 + l_linenumber",
            "floor(l_extendedprice * 100.0 + 0.5)",
        ),
    )


def test_elp_curve_shape(engine_med, duck_med):
    """Margins shrink monotonically along the ladder; the fraction-1.0
    row IS the exact sum with a zero-width interval; every fraction's
    CI covers the exact value (nested samples, so these are not
    independent draws — coverage failures would all be correlated)."""
    from approximatequeryengine_spark.plans.elp import elp_fraction_sweep

    rows = elp_fraction_sweep(
        engine_med.catalog.table("lineitem"),
        "l_orderkey * 8 + l_linenumber",
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5),
    ).collect()
    exact = duck_med.execute(
        "SELECT round(sum(floor(l_extendedprice * 100.0 + 0.5)) / 100.0, 2) "
        "FROM lineitem"
    ).fetchone()[0]
    margins = [r["ci_upper"] - r["ci_lower"] for r in rows]
    assert margins == sorted(margins, reverse=True)
    assert rows[-1]["fraction"] == 1.0
    assert rows[-1]["est_sum"] == exact
    assert margins[-1] == 0.0
    # 95% intervals: the smallest fractions (n ≈ 600 at 1%) can miss
    # by ~2 SE (observed at build time: the 1% rung 0.3% high against
    # a 0.25% margin). Pin: fractions ≥ 5% must cover, and every
    # fraction must land within 2× its own margin.
    for r in rows:
        margin = (r["ci_upper"] - r["ci_lower"]) / 2
        if r["fraction"] >= 0.05:
            assert r["ci_lower"] <= exact <= r["ci_upper"], r
        if margin:
            assert abs(r["est_sum"] - exact) <= 2 * margin, r


def test_elp_rejects_bad_ladder(spark):
    import pytest as _pytest

    from approximatequeryengine_spark.plans.elp import elp_fraction_sweep

    with _pytest.raises(ValueError, match="1.0"):
        elp_fraction_sweep(spark.range(5), "id", F.col("id"), ladder=(0.1, 0.5))


def test_synopsis_append_equals_rebuild(spark, engine_med, tmp_path):
    """Incremental maintenance identity: build(90%) + append(10%)
    yields BIT-FOR-BIT the same sample and meta as a fresh build over
    the full table — including a second append and a batch that
    introduces rows for every stratum."""
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.functions.hashing import (
        fraction_threshold,
        portable_hash_col,
    )
    from approximatequeryengine_spark.plans.synopsis import (
        synopsis_append,
        synopsis_build,
    )

    orders = engine_med.catalog.table("orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    h = portable_hash_col(F.col("o_orderkey"), salt=17)
    cut1, cut2 = fraction_threshold(0.8), fraction_threshold(0.9)

    inc = str(tmp_path / "inc")
    synopsis_build(spark, orders.filter(h < cut1), inc, "o_orderpriority", "o_orderkey")
    synopsis_append(
        spark, orders.filter((h >= cut1) & (h < cut2)), inc,
        "o_orderpriority", "o_orderkey",
    )
    synopsis_append(spark, orders.filter(h >= cut2), inc, "o_orderpriority", "o_orderkey")

    full = str(tmp_path / "full")
    synopsis_build(spark, orders, full, "o_orderpriority", "o_orderkey")

    def rows(p, sub):
        return sorted(
            tuple(r) for r in spark.read.parquet(f"{p}/{sub}")
            .select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
        ) if sub == "sample" else sorted(
            tuple(r) for r in spark.read.parquet(f"{p}/{sub}").collect()
        )

    assert rows(inc, "meta") == rows(full, "meta")
    assert rows(inc, "sample") == rows(full, "sample")


def test_ddsketch_collapse_preserves_high_quantiles(engine_med, duck_med):
    """Collapsed to 64 buckets: p90/p99 keep the α-guarantee (their
    ranks sit above the collapsed mass); collapse-then-merge order
    does not matter (clamp is idempotent arithmetic)."""
    from approximatequeryengine_spark.plans.ddsketch import (
        ddsketch_buckets,
        ddsketch_collapse,
        ddsketch_readout,
    )

    alpha = 0.01
    li = engine_med.catalog.table("lineitem")
    buckets = ddsketch_collapse(
        ddsketch_buckets(li, "l_extendedprice", alpha), max_buckets=64
    )
    rows = ddsketch_readout(buckets, alpha, qs=(0.9, 0.99)).collect()
    n = rows[0]["n"]
    for r in rows:
        rank = int(r["q"] * (n - 1)) + 1
        exact = duck_med.execute(
            "SELECT x FROM (SELECT l_extendedprice AS x, "
            "row_number() OVER (ORDER BY l_extendedprice) AS rn "
            "FROM lineitem WHERE l_extendedprice > 0) WHERE rn = ?",
            [rank],
        ).fetchone()[0]
        assert abs(r["est_q"] - exact) / exact <= alpha + 1e-9


def test_ddsketch_collapse_bounds_buckets_and_mass(engine_med):
    """≤ max_buckets rows afterwards, total count preserved, and a
    no-op when the table is already small."""
    from approximatequeryengine_spark.plans.ddsketch import (
        ddsketch_buckets,
        ddsketch_collapse,
    )

    li = engine_med.catalog.table("lineitem")
    raw = ddsketch_buckets(li, "l_extendedprice")
    total = sum(r["c"] for r in raw.collect())
    small = ddsketch_collapse(raw, max_buckets=64).collect()
    assert len(small) <= 64
    assert sum(r["c"] for r in small) == total
    noop = sorted(tuple(r) for r in ddsketch_collapse(raw, max_buckets=10_000).collect())
    assert noop == sorted(tuple(r) for r in raw.collect())


def test_ddsketch_store_prunes_day_partitions(spark, engine_med, tmp_path):
    """The range query's scan must carry a PartitionFilters entry on
    `day` (directory pruning), and the store answers must match a
    direct grouped DDSketch over the same event range."""
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.plans.ddsketch import (
        ddsketch_grouped_quantiles,
        ddsketch_store_range_quantiles,
        ddsketch_store_write,
    )

    ev = engine_med.catalog.table("events")
    path = str(tmp_path / "store")
    ddsketch_store_write(spark, ev, path, "ts", "event_type", "value")
    out = ddsketch_store_range_quantiles(
        spark, path, "2024-01-08", "2024-01-21", "event_type"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    direct = ddsketch_grouped_quantiles(
        ev.filter(
            F.col("ts").cast("date").cast("string").between("2024-01-08", "2024-01-21")
        ),
        "value",
        "event_type",
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, direct.collect()))
