"""AQP++ (precomputed interior + sampled boundary) pins.

What must hold:
- the estimate equals exact-interior + HT-boundary and its CI covers
  the exact answer at realistic fractions;
- a BLOCK-ALIGNED range has an empty boundary → the answer is exact
  with a zero-width CI (the precomputation alone answers it);
- the CI is strictly narrower than a pure-sampling CI at the same
  fraction (the paper's whole point);
- empty ranges and empty boundaries don't crash or skew;
- the DuckDB oracle reproduces the row bit-for-bit (driver parity),
  on both probe branches: the driver read of a local index and the
  Spark read of an index on another filesystem.
"""

from __future__ import annotations

import contextlib
import tempfile
from unittest import mock

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.catalog import Catalog
from approximatequeryengine_spark.plans.aqpplus import (
    _interior_block_range,
    aqpplus_build,
    aqpplus_range_sum,
    aqpplus_range_sum_sql,
)

from tests.conftest import SF_DIR_MED, _duck

KEY_SQL = "date_diff('day', DATE '1970-01-01', o_orderdate)"
CENTS_SQL = "floor(o_totalprice * 100.0 + 0.5)"


def _key():
    return F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))


def _cents():
    return F.floor(F.col("o_totalprice") * 100.0 + 0.5)


@pytest.fixture(scope="module")
def orders(spark):
    return Catalog(spark, SF_DIR_MED).table("orders")


@pytest.fixture(scope="module")
def built(spark, orders):
    path = tempfile.mkdtemp(prefix="aqpp_test_")
    aqpplus_build(spark, orders, path, _key(), _cents(), F.col("o_orderkey"), n_blocks=64)
    return path


def _meta(spark, path):
    r = spark.read.parquet(f"{path}/meta").collect()[0]
    return int(r["mn"]), int(r["width"])


def _exact(con, lo, hi):
    return con.execute(
        f"SELECT round(coalesce(sum({CENTS_SQL}), 0)/100.0, 2), count(*) "
        f"FROM orders WHERE {KEY_SQL} BETWEEN {lo} AND {hi}"
    ).fetchall()[0]


def test_interior_block_range_arithmetic():
    # blocks of width 10 starting at 0: block b covers [10b, 10b+9]
    assert _interior_block_range(0, 10, 0, 29) == (0, 2)      # aligned
    assert _interior_block_range(0, 10, 5, 29) == (1, 2)      # left partial
    assert _interior_block_range(0, 10, 0, 24) == (0, 1)      # right partial
    b_lo, b_hi = _interior_block_range(0, 10, 12, 17)         # sub-block: none
    assert b_lo > b_hi
    assert _interior_block_range(3, 10, 3, 12) == (0, 0)      # mn offset


def test_estimate_covers_exact_and_matches_oracle(spark, orders, built):
    con = _duck(SF_DIR_MED)
    lo, hi = 8500, 10226
    row = aqpplus_range_sum(spark, built, lo, hi, fraction=0.1).collect()[0]
    exact, n_exact = _exact(con, lo, hi)
    assert row["ci_lower"] <= exact <= row["ci_upper"]
    assert row["interior_rows"] <= n_exact
    assert row["blocks_interior"] > 0 and row["n_samples"] > 0
    sql = aqpplus_range_sum_sql(
        "orders", KEY_SQL, CENTS_SQL, "o_orderkey", lo, hi, 64, 0.1
    )
    names = [d[0] for d in con.execute(sql).description]
    oracle = dict(zip(names, con.execute(sql).fetchall()[0]))
    for c in row.asDict():
        assert oracle[c] == row[c], f"{c}: {oracle[c]} != {row[c]}"


def test_block_aligned_range_is_exact_zero_width(spark, orders, built):
    con = _duck(SF_DIR_MED)
    mn, width = _meta(spark, built)
    lo, hi = mn + 10 * width, mn + 20 * width - 1  # exactly 10 blocks
    row = aqpplus_range_sum(spark, built, lo, hi, fraction=0.1).collect()[0]
    exact, n_exact = _exact(con, lo, hi)
    assert row["sum_value"] == exact
    assert row["ci_lower"] == row["ci_upper"] == exact
    assert row["n_samples"] == 0          # boundary is empty
    assert row["interior_rows"] == n_exact


def test_ci_narrower_than_pure_sampling(spark, orders, built):
    from approximatequeryengine_spark.plans.estimators import (
        AggSpec,
        approx_aggregate,
    )
    from approximatequeryengine_spark.plans.sampling import (
        SamplingSpec,
        apply_sampling,
    )

    lo, hi = 8500, 10226
    row = aqpplus_range_sum(spark, built, lo, hi, fraction=0.1).collect()[0]
    in_range = orders.withColumn("__day", _key()).filter(
        F.col("__day").between(lo, hi)
    )
    pure = approx_aggregate(
        apply_sampling(
            in_range,
            SamplingSpec(design="uniform_hash", fraction=0.1, key="o_orderkey"),
        ),
        AggSpec("sum", "o_totalprice", alias="s"),
    ).collect()[0]
    aqpp_width = row["ci_upper"] - row["ci_lower"]
    pure_width = pure["ci_upper"] - pure["ci_lower"]
    assert aqpp_width < pure_width / 3, (aqpp_width, pure_width)


def test_empty_range(spark, orders, built):
    row = aqpplus_range_sum(spark, built, 1, 2, fraction=0.1).collect()[0]
    assert row["sum_value"] == 0.0
    assert row["n_samples"] == 0 and row["interior_rows"] == 0


def test_build_rejects_all_null_keys(spark):
    df = spark.createDataFrame([(None, 1)], "k int, v int")
    with pytest.raises(ValueError, match="no non-null keys"):
        aqpplus_build(
            spark, df, tempfile.mkdtemp(prefix="aqpp_null_"),
            F.col("k"), F.col("v"), F.col("v"),
        )


@pytest.fixture(scope="module")
def grouped_built(spark, orders):
    from approximatequeryengine_spark.plans.aqpplus import aqpplus_grouped_build

    path = tempfile.mkdtemp(prefix="aqppg_test_")
    aqpplus_grouped_build(
        spark, orders, path, _key(), _cents(), group="o_orderpriority", n_blocks=64
    )
    return path


def test_grouped_estimates_cover_exact_per_group(spark, orders, grouped_built):
    from approximatequeryengine_spark.plans.aqpplus import (
        aqpplus_grouped_range_sum,
    )

    con = _duck(SF_DIR_MED)
    lo, hi = 8500, 10226
    rows = aqpplus_grouped_range_sum(
        spark, orders, grouped_built, lo, hi, _key(), _cents(),
        group="o_orderpriority", row_key=F.col("o_orderkey"), fraction=0.1,
    ).collect()
    exact = dict(
        con.execute(
            f"SELECT o_orderpriority, round(sum({CENTS_SQL})/100.0, 2) "
            f"FROM orders WHERE {KEY_SQL} BETWEEN {lo} AND {hi} GROUP BY 1"
        ).fetchall()
    )
    assert len(rows) == len(exact)
    for r in rows:
        ex = float(exact[r["grp"]])
        assert r["ci_lower"] <= ex <= r["ci_upper"], (r, ex)
        # interior dominates: the CI is far narrower than the estimate
        assert (r["ci_upper"] - r["ci_lower"]) < 0.2 * r["sum_value"]


def test_grouped_append_equals_rebuild(spark, orders):
    from approximatequeryengine_spark.plans.aqpplus import (
        aqpplus_grouped_append,
        aqpplus_grouped_build,
    )

    old = orders.filter(F.col("o_orderkey") % 3 != 0)
    batch = orders.filter(F.col("o_orderkey") % 3 == 0)

    inc = tempfile.mkdtemp(prefix="aqppg_inc_")
    aqpplus_grouped_build(
        spark, old, inc, _key(), _cents(), group="o_orderpriority", n_blocks=64
    )
    aqpplus_grouped_append(
        spark, batch, inc, _key(), _cents(), group="o_orderpriority"
    )
    # rebuild on the full table, PINNED to the incremental grid (the
    # full rebuild would re-derive mn/width from a wider key span, so
    # compare against a rebuild over the same meta: batch == rest)
    a = spark.read.parquet(f"{inc}/blocks").collect()
    merged = {}
    for src in (old, batch):
        mrow = spark.read.parquet(f"{inc}/meta").collect()[0]
        mn, width = int(mrow["mn"]), int(mrow["width"])
        for r in (
            src.select(
                ((_key().cast("long") - F.lit(mn)) / F.lit(width))
                .cast("long")
                .alias("block"),
                F.col("o_orderpriority").alias("__grp"),
                _cents().cast("long").alias("c"),
            )
            .groupBy("block", "__grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
            .collect()
        ):
            key = (r["block"], r["__grp"])
            n0, s0 = merged.get(key, (0, 0))
            merged[key] = (n0 + r["n"], s0 + r["s"])
    got = {(r["block"], r["__grp"]): (r["n_rows"], r["sum_cents"]) for r in a}
    assert got == merged


def test_append_with_keys_below_mn_uses_floor_blocks(spark):
    """Late-arriving keys below the pinned mn must land in NEGATIVE
    blocks (floor), not truncate into block 0 — truncation would
    double-count them against the oracle's floor() layout."""
    from approximatequeryengine_spark.plans.aqpplus import (
        aqpplus_grouped_append,
        aqpplus_grouped_build,
    )

    base = spark.createDataFrame(
        [(100 + i, 10, "g") for i in range(60)], "k long, c long, g string"
    )
    late = spark.createDataFrame([(95, 7, "g")], "k long, c long, g string")
    path = tempfile.mkdtemp(prefix="aqpp_neg_")
    aqpplus_grouped_build(
        spark, base, path, F.col("k"), F.col("c"), group="g", n_blocks=4
    )
    aqpplus_grouped_append(spark, late, path, F.col("k"), F.col("c"), group="g")
    blocks = {r["block"]: r for r in spark.read.parquet(f"{path}/blocks").collect()}
    mrow = spark.read.parquet(f"{path}/meta").collect()[0]
    mn, width = int(mrow["mn"]), int(mrow["width"])
    want_block = (95 - mn) // width  # Python floor division: negative
    assert want_block < 0
    assert blocks[want_block]["n_rows"] == 1
    assert blocks[want_block]["sum_cents"] == 7
    # block 0 holds only the original keys
    assert blocks[0]["sum_cents"] == sum(
        10 for i in range(60) if (100 + i - mn) // width == 0
    )


def test_grouped_group_with_no_range_rows_still_surfaces(spark):
    """A group whose rows all lie OUTSIDE [lo, hi] must still emit a
    0.0 row (the oracle's DISTINCT-groups join does; the engine's
    group universe comes from the block table)."""
    from approximatequeryengine_spark.plans.aqpplus import (
        aqpplus_grouped_build,
        aqpplus_grouped_range_sum,
    )

    df = spark.createDataFrame(
        [(i, 10, "in_range") for i in range(100)]
        + [(1000 + i, 20, "outside") for i in range(100)],
        "k long, c long, g string",
    )
    path = tempfile.mkdtemp(prefix="aqpp_gap_")
    aqpplus_grouped_build(
        spark, df, path, F.col("k"), F.col("c"), group="g", n_blocks=8
    )
    rows = {
        r["grp"]: r
        for r in aqpplus_grouped_range_sum(
            spark, df, path, 0, 99, F.col("k"), F.col("c"),
            group="g", row_key=F.col("k"), fraction=0.5,
        ).collect()
    }
    assert set(rows) == {"in_range", "outside"}
    assert rows["outside"]["sum_value"] == 0.0
    assert rows["outside"]["n_samples"] == 0
    assert rows["in_range"]["sum_value"] > 0


# -- edge cases against the DuckDB twin, with text keys ---------------------

DAYS_SPARK = "datediff(o_orderdate, '1970-01-01')"
CENTS_SPARK = "floor(o_totalprice * CAST(100.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
# every 97th order has no key: it belongs to no block and no range
NULL_KEY_SPARK = f"CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE {DAYS_SPARK} END"
NULL_KEY_DUCK = f"CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE {KEY_SQL} END"


@pytest.fixture(scope="module")
def handle(spark, orders):
    path = tempfile.mkdtemp(prefix="aqpp_text_")
    return aqpplus_build(
        spark, orders, path, DAYS_SPARK, CENTS_SPARK, "o_orderkey", n_blocks=64
    )


def _assert_matches_twin(spark, index, lo, hi, fraction=0.1, key_duck=KEY_SQL):
    """The probe's row on both branches — the driver read of a local
    index and the Spark read an index on another filesystem takes —
    equals the DuckDB twin's."""
    con = _duck(SF_DIR_MED)
    res = con.execute(aqpplus_range_sum_sql(
        "orders", key_duck, CENTS_SQL, "o_orderkey", lo, hi, 64, fraction
    ))
    twin = dict(zip([d[0] for d in res.description], res.fetchall()[0]))
    for local in (True, False):
        with _branch(local):
            df = aqpplus_range_sum(spark, index, lo, hi, fraction=fraction)
            # Every constant is a DOUBLE. A bare 0.15 parses as DECIMAL,
            # and s1 · (1/f) would become decimal arithmetic on the
            # BIGINT moment.
            plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
            assert "decimal" not in plan
            row = df.collect()[0].asDict()
        assert row == twin, ("driver" if local else "spark", row, twin)
    return row


def _branch(local: bool):
    """Force the probe's non-local (Spark) branch unless ``local``."""
    from approximatequeryengine_spark.plans import aqpplus

    if local:
        return contextlib.nullcontext()
    return mock.patch.object(aqpplus, "_local_path", lambda spark, path: None)


def _edge_ranges(mn: int, w: int) -> dict[str, tuple[int, int]]:
    return {
        "inside_one_block": (mn + 5 * w + 1, mn + 6 * w - 2),
        "two_partial_blocks": (mn + 5 * w + 1, mn + 6 * w + w // 2),
        "lo_aligned": (mn + 5 * w, mn + 12 * w + w // 2),
        "hi_aligned": (mn + 5 * w + 1, mn + 13 * w - 1),
        "past_both_ends": (mn - 100, mn + 70 * w),
    }


@pytest.mark.parametrize("case", list(_edge_ranges(0, 10)))
def test_edge_ranges_match_twin(spark, handle, case):
    mn, w = handle.mn, handle.width
    assert w >= 3
    lo, hi = _edge_ranges(mn, w)[case]
    _assert_matches_twin(spark, handle, lo, hi)


@pytest.mark.parametrize("fraction", [0.05, 0.15])
def test_fractions_match_twin(spark, handle, fraction):
    _assert_matches_twin(spark, handle, 8500, 10226, fraction=fraction)


def test_null_key_rows_match_twin(spark, orders):
    path = tempfile.mkdtemp(prefix="aqpp_nullkey_")
    index = aqpplus_build(
        spark, orders, path, NULL_KEY_SPARK, CENTS_SPARK, "o_orderkey", n_blocks=64
    )
    _assert_matches_twin(spark, index, 8500, 10226, key_duck=NULL_KEY_DUCK)


def test_block_aligned_range_runs_no_spark_job(spark, handle, count_jobs):
    """No boundary, no base scan: the answer comes from the handle."""
    mn, w = handle.mn, handle.width
    lo, hi = mn + 10 * w, mn + 20 * w - 1
    rows, jobs = count_jobs(lambda: aqpplus_range_sum(spark, handle, lo, hi).collect())
    assert jobs == 0
    row = _assert_matches_twin(spark, handle, lo, hi)
    assert rows[0].asDict() == row
    assert row["n_samples"] == 0 and row["blocks_interior"] == 10
